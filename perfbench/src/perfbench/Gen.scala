package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.LocalDate

import scala.util.Random

/** Seeded input generators. Everything here is plain Scala with no Spark
  * and no reads outside the process: the same seed gives byte-identical
  * files and identical in-memory dimensions.
  *
  * Day files follow the engine's INPE-shaped pipeline fixture (`;`
  * separator, decimal-comma coordinates): the latitude encodes the event id
  * uniquely, so the in-file hash dedup never fires and the valid-row count
  * of any row set is closed-form — ids divisible by 97 carry `nan` latitude
  * (dropped, null coordinate), ids divisible by 89 carry latitude 95 (dropped,
  * out of range) and ids divisible by 11 carry a `nan` satellite (cleaned to
  * null, kept).
  */
object Gen {
  type Ring = IndexedSeq[(Double, Double)]
  type MultiPolygon = IndexedSeq[IndexedSeq[Ring]]

  val Header = "latitude;longitude;data_hora_gmt;satelite;municipio;estado;bioma"

  /** Ids are drawn from [0, IdSpace): latitude -(id / 10000) stays inside
    * the municipality grid below. */
  val IdSpace = 110000

  def isValid(id: Int): Boolean = id % 97 != 0 && id % 89 != 0

  def validCount(ids: Iterable[Int]): Long = ids.count(isValid).toLong

  /** One event: its id and second of the day. */
  final case class Event(id: Int, secs: Int)

  def csvLine(e: Event, day: LocalDate): String = {
    val id = e.id
    val sb = new StringBuilder(72)
    // zero-padded to `w` digits (the year store writes a third of a
    // million lines, so no format strings here)
    def pad(v: Int, w: Int): Unit = {
      val s = v.toString
      var k = s.length
      while (k < w) { sb.append('0'); k += 1 }
      sb.append(s)
    }
    if (id % 97 == 0) sb.append("nan")
    else if (id % 89 == 0) sb.append("95,00")
    else { sb.append('-').append(id / 10000).append(','); pad(id % 10000, 4) }
    sb.append(";-").append(id % 30 + 40).append(','); pad((id.toLong * 7 % 100).toInt, 2)
    sb.append(';').append(day.toString).append(' ')
    pad(e.secs / 3600, 2); sb.append(':'); pad(e.secs / 60 % 60, 2); sb.append(':'); pad(e.secs % 60, 2)
    sb.append(if (id % 11 == 0) ";nan" else ";AQUA_M-T").append(";RAW_MUN;XX;RAW_BIOMA")
    sb.toString
  }

  def writeCsv(path: Path, day: LocalDate, events: Seq[Event]): Long = writeDaysCsv(path, Seq(day -> events))

  /** Fire sites: each run's events fall on a seeded set of this many
    * distinct ids (locations), so a site burns on many days, as a front
    * does. Enrichment depends on the location alone, which lets set-up
    * enrich a month or a year of facts site by site. */
  val Sites = 20000

  /** `days` consecutive days of events with about `perDay` events each
    * (±10%), each day a seeded sample of distinct sites (so ids never repeat
    * within a file and recur across days), in time order (its file order).
    * The event hash includes the timestamp, so a recurring site is a new
    * event. */
  def days(seed: Long, first: LocalDate, days: Int, perDay: Int): IndexedSeq[(LocalDate, IndexedSeq[Event])] = {
    val rnd = new Random(seed)
    require(perDay + perDay / 10 <= Sites, s"$perDay events a day exceed the $Sites sites")
    val pool = rnd.shuffle((0 until IdSpace).toIndexedSeq).take(Sites).toArray
    (0 until days).map { i =>
      val n = perDay - perDay / 10 + rnd.nextInt(perDay / 5 + 1)
      // partial Fisher-Yates: the first n slots become a uniform sample
      (0 until n).foreach { k =>
        val j = k + rnd.nextInt(Sites - k)
        val t = pool(k); pool(k) = pool(j); pool(j) = t
      }
      val secs = IndexedSeq.fill(n)(rnd.nextInt(86400)).sorted
      first.plusDays(i.toLong) -> secs.indices.map(j => Event(pool(j), secs(j)))
    }
  }

  /** One CSV holding several days' events, each line stamped with its own
    * day, for the bulk loads of set-up. Returns the file's bytes. */
  def writeDaysCsv(path: Path, days: Seq[(LocalDate, Seq[Event])]): Long = {
    Files.createDirectories(path.getParent)
    val out = new java.io.BufferedWriter(new java.io.OutputStreamWriter(Files.newOutputStream(path), StandardCharsets.UTF_8))
    try {
      out.write(Header); out.write('\n')
      days.foreach { case (day, evs) => evs.foreach { e => out.write(csvLine(e, day)); out.write('\n') } }
    } finally out.close()
    Files.size(path)
  }

  /** The growing intraday versions of one day's file: the first 25, 50, 75
    * and 100% of its rows, in file order. */
  def versions(events: IndexedSeq[Event], n: Int = 4): IndexedSeq[IndexedSeq[Event]] =
    (1 to n).map(k => events.take(math.ceil(events.length * k / n.toDouble).toInt))

  // ------------------------------------------------------------- dimensions

  final case class Mun(cd: String, name: String, uf: String, areaKm2: Double, geom: MultiPolygon)
  /** A biome, UC or TI polygon; `dimId` is the first-match tiebreak. */
  final case class Area(dimId: Long, code: String, name: String, geom: MultiPolygon)
  final case class Dims(muns: IndexedSeq[Mun], biomes: IndexedSeq[Area],
                        ucs: IndexedSeq[Area], tis: IndexedSeq[Area])

  val Ufs: IndexedSeq[String] = IndexedSeq("AC", "AL", "AP", "AM", "BA", "CE", "DF", "ES",
    "GO", "MA", "MT", "MS", "MG", "PA", "PB", "PR", "PE", "PI", "RJ", "RN", "RS", "RO",
    "RR", "SC", "SP", "SE", "TO")

  // grid over every generated point (lon -40.00..-69.99, lat 0..-10.9999)
  private val MinLon = -70.2; private val MaxLon = -39.8
  private val MinLat = -11.2; private val MaxLat = 0.2
  private val Cols = 114; private val Rows = 50
  val MunCount = 5570
  /** Vertices per cell edge: shared borders carry many vertices, as the
    * IBGE layer does. */
  private val EdgeSegs = 16

  /** Planar-approximation area in km² (shoelace, lon scaled by cos(lat)). */
  def areaKm2(ring: Ring): Double = {
    val midLat = ring.map(_._2).sum / ring.length
    val kx = 111.32 * math.cos(math.toRadians(midLat)); val ky = 110.57
    var s = 0.0
    var i = 0
    while (i < ring.length - 1) {
      s += ring(i)._1 * kx * ring(i + 1)._2 * ky - ring(i + 1)._1 * kx * ring(i)._2 * ky
      i += 1
    }
    math.abs(s) / 2
  }

  /** IBGE-scale dimensions: 5,570 municipalities in 27 UFs on a jittered
    * grid whose neighbours share identical many-vertex borders; the 130
    * cells left out are gaps, so points there reach the ≤2 km KNN fallback,
    * which accepts those near a neighbour and rejects the rest. Biomes are
    * overlapping bands; UCs and TIs are overlapping irregular polygons, some
    * of two parts. */
  def dims(seed: Long): Dims = {
    val rnd = new Random(seed ^ 0x5DEECE66DL)
    val dx = (MaxLon - MinLon) / Cols; val dy = (MaxLat - MinLat) / Rows
    val node = Array.tabulate(Cols + 1, Rows + 1) { (i, j) =>
      val inner = i > 0 && i < Cols && j > 0 && j < Rows
      val jx = if (inner) (rnd.nextDouble() - 0.5) * 0.3 * dx else 0.0
      val jy = if (inner) (rnd.nextDouble() - 0.5) * 0.3 * dy else 0.0
      (MinLon + i * dx + jx, MinLat + j * dy + jy)
    }
    // a border polyline from a to b (both included), wiggled perpendicular to
    // the segment with an amplitude that vanishes at the end nodes
    def edge(a: (Double, Double), b: (Double, Double), amp: Double): Ring = {
      val (ax, ay) = a; val (bx, by) = b
      val len = math.hypot(bx - ax, by - ay)
      val (nx, ny) = (-(by - ay) / len, (bx - ax) / len)
      (0 to EdgeSegs).map { k =>
        val t = k.toDouble / EdgeSegs
        val w = if (k == 0 || k == EdgeSegs) 0.0
                else (rnd.nextDouble() - 0.5) * 2 * amp * math.sin(math.Pi * t)
        (ax + (bx - ax) * t + nx * w, ay + (by - ay) * t + ny * w)
      }
    }
    val amp = 0.06 * math.min(dx, dy)
    val hEdge = Array.tabulate(Cols, Rows + 1)((i, j) => edge(node(i)(j), node(i + 1)(j), amp))
    val vEdge = Array.tabulate(Cols + 1, Rows)((i, j) => edge(node(i)(j), node(i)(j + 1), amp))
    val gaps = rnd.shuffle((0 until Cols * Rows).toIndexedSeq).take(Cols * Rows - MunCount).toSet
    val perUf = Array.fill(Ufs.length)(0)
    val muns = for {
      j <- 0 until Rows; i <- 0 until Cols if !gaps(j * Cols + i)
    } yield {
      // counter-clockwise: bottom, right, top reversed, left reversed
      val ring: Ring = hEdge(i)(j) ++ vEdge(i + 1)(j).tail ++
        hEdge(i)(j + 1).reverse.tail ++ vEdge(i)(j).reverse.tail
      val ufIx = (i * 9 / Cols) * 3 + (j * 3 / Rows)
      perUf(ufIx) += 1
      val cd = f"${11 + ufIx}%02d${perUf(ufIx)}%05d"
      Mun(cd, s"Municipio $cd", Ufs(ufIx), areaKm2(ring), IndexedSeq(IndexedSeq(ring)))
    }

    def wigglyBox(x0: Double, y0: Double, x1: Double, y1: Double, n: Int): Ring = {
      val corners = IndexedSeq((x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0))
      corners.sliding(2).flatMap { case Seq(a, b) =>
        edge(a, b, 0.15).dropRight(1).take(n)
      }.toIndexedSeq :+ corners.head
    }
    val biomeNames = IndexedSeq("AMAZONIA", "CERRADO", "CAATINGA", "MATA ATLANTICA", "PANTANAL", "PAMPA")
    val bw = (MaxLon - MinLon) / biomeNames.length
    val biomes = biomeNames.indices.map { k =>
      val x0 = MinLon + k * bw - (if (k == 0) 0.0 else 0.6)
      val x1 = MinLon + (k + 1) * bw + (if (k == biomeNames.length - 1) 0.0 else 0.6)
      Area(k + 1L, (k + 1).toString, biomeNames(k), IndexedSeq(IndexedSeq(wigglyBox(x0, MinLat, x1, MaxLat, EdgeSegs))))
    }

    // irregular star-shaped polygon; a second part, when drawn, sits far
    // enough away that the parts' bounding boxes never overlap
    def blob(cx: Double, cy: Double, r: Double): IndexedSeq[Ring] = {
      val n = 24 + rnd.nextInt(25)
      val pts = (0 until n).map { k =>
        val a = 2 * math.Pi * k / n
        val rr = r * (0.6 + 0.4 * rnd.nextDouble())
        (cx + rr * math.cos(a), cy + rr * math.sin(a))
      }
      IndexedSeq(pts :+ pts.head)
    }
    def areas(count: Int, prefix: String, code: Int => String): IndexedSeq[Area] =
      (1 to count).map { k =>
        val r = 0.05 + 0.3 * rnd.nextDouble()
        val cx = MinLon + 1 + rnd.nextDouble() * (MaxLon - MinLon - 2)
        val cy = MinLat + 1 + rnd.nextDouble() * (MaxLat - MinLat - 2)
        val first = blob(cx, cy, r)
        val parts =
          if (rnd.nextInt(5) == 0) IndexedSeq(first, blob(cx, cy + (if (cy > -5) -1 else 1) * (2.5 * r + 0.1), r / 2))
          else IndexedSeq(first)
        Area(k.toLong, code(k), f"$prefix $k%04d", parts)
      }
    Dims(muns, biomes,
      areas(300, "UC", k => f"0000.00.$k%04d"),
      areas(200, "TI", k => f"${k * 10}%d"))
  }

  /** UF geometry versions for the UF choropleth: each UF's extent at two
    * dates, so the route must pick the latest (`ver` 2). */
  def ufGeoms(d: Dims): IndexedSeq[(String, LocalDate, Int, MultiPolygon)] =
    d.muns.groupBy(_.uf).toIndexedSeq.sortBy(_._1).flatMap { case (uf, ms) =>
      val pts = ms.flatMap(_.geom.flatten.flatten)
      val (x0, x1) = (pts.map(_._1).min, pts.map(_._1).max)
      val (y0, y1) = (pts.map(_._2).min, pts.map(_._2).max)
      def box(pad: Double): MultiPolygon = IndexedSeq(IndexedSeq(IndexedSeq(
        (x0 - pad, y0 - pad), (x1 + pad, y0 - pad), (x1 + pad, y1 + pad), (x0 - pad, y1 + pad), (x0 - pad, y0 - pad))))
      IndexedSeq((uf, LocalDate.of(2020, 1, 1), 1, box(0.5)), (uf, LocalDate.of(2023, 1, 1), 2, box(0.0)))
    }
}
