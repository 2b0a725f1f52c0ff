package perfbench

import java.time.{DayOfWeek, LocalDate}
import java.time.temporal.{ChronoUnit, TemporalAdjusters}

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}

import graft.serve.Serve
import graft.serve.Serve.Filters

/** One dashboard request: a route of `Serve` and its parameters. */
final case class Req(route: String, from: LocalDate, to: LocalDate, f: Filters = Filters(),
                     by: String = "", limit: Int = 0, key: String = "", entity: String = "",
                     bbox: Option[(Double, Double, Double, Double)] = None)

/** One row of the fact cube `mv_focos_day_dim`, collected for the oracle. */
final case class CubeRow(day: LocalDate, uf: String, cdMun: String, munNm: String, bioma: String,
                         cdBioma: String, ucNome: String, cdCnuc: String, tiNome: String,
                         terraiCod: String, n: Long)

/** One enriched fact, as the points route reads it. */
final case class FactRow(fileDate: LocalDate, hash: String, lon: Double, lat: Double)

/** What the serve routes read: the cube, the enriched facts and the
  * geometries, as Spark frames and as the plain-Scala copies the oracle
  * answers from. */
final case class ServeStore(cube: DataFrame, facts: DataFrame, ufGeoms: DataFrame, munGeoms: DataFrame,
                            ucGeoms: DataFrame, tiGeoms: DataFrame, cubeRows: IndexedSeq[CubeRow],
                            factRows: IndexedSeq[FactRow], dims: Gen.Dims)

/** The twelve routes: the request generator, the call into `Serve`, and a
  * plain-Scala oracle. Both sides render a response to the same canonical
  * string, so a check is one string comparison. */
object Routes {
  /** Route -> requests per deck of 20: the dashboard mix. The weights are
    * assumed (no traffic record exists): aggregate panels over map geometry
    * and QA routes. Schedules are dealt in whole shuffled decks, so every
    * run sends the same mix. */
  val Weights: Seq[(String, Int)] = Seq(
    "totals" -> 3, "timeseries" -> 3, "top" -> 3, "summary" -> 2, "choropleth_uf" -> 2,
    "choropleth_mun" -> 1, "points" -> 1, "lookup_mun" -> 1, "bounds" -> 1, "geo" -> 1,
    "geo_overlay" -> 1, "validate" -> 1)
  val DeckSize: Int = Weights.map(_._2).sum
  val Names: Seq[String] = Weights.map(_._1)

  // ------------------------------------------------------------- generator

  /** The deck's requests: each route its weight's number of times, with a
    * fixed shape per slot — range length, which filters, `top` dimension and
    * limit, points limit and box size — so every seed sends requests of the
    * same cost mix. Range lengths are stratified over 7–365 days: a route's
    * j-th of w requests spans 7·(365/7)^((j+½)/w) days (at most 180 for the
    * municipal choropleth). The seed draws everything else: where ranges end
    * (up to 3 days after the last stored day), filter values (from a random
    * cube row, in code or mixed-case name form), keys and box positions. */
  def pool(rnd: Random, s: ServeStore): IndexedSeq[Req] = {
    val last = s.cubeRows.map(_.day).max
    def range(j: Int, w: Int, maxDays: Int): (LocalDate, LocalDate) = {
      val to = last.plusDays(1L + rnd.nextInt(3))
      (to.minusDays(math.round(7 * math.pow(maxDays / 7.0, (j + 0.5) / w))), to)
    }
    def mixCase(v: String) = if (rnd.nextBoolean()) v.toLowerCase else " " + v + " "
    def pick[A](xs: IndexedSeq[A]): A = xs(rnd.nextInt(xs.length))
    def codeOrName(code: String, name: String) = Some(if (rnd.nextBoolean()) code else mixCase(name))
    val located = s.cubeRows.filter(r => r.cdMun != null && r.cdBioma != null)
    /** Filters of the given kinds, valued from one random cube row. */
    def filters(kinds: String*): Filters = {
      val r = pick(located)
      Filters(uf = if (kinds.contains("uf")) Some(mixCase(r.uf)) else None,
        bioma = if (kinds.contains("bioma")) codeOrName(r.cdBioma, r.bioma) else None,
        mun = if (kinds.contains("mun")) codeOrName(r.cdMun, r.munNm) else None)
    }
    val shapes: Seq[(String, Seq[(LocalDate, LocalDate)] => Seq[Req])] = Seq(
      "totals" -> { rs => Seq(Filters(), filters("uf"), filters("bioma"))
        .zip(rs).map { case (f, (a, b)) => Req("totals", a, b, f) } },
      "timeseries" -> { rs => Seq(Filters(), filters("uf"), filters("mun"))
        .zip(rs).map { case (f, (a, b)) => Req("timeseries", a, b, f) } },
      "top" -> { rs => Seq(("uf", Filters(), 27), ("mun", Filters(), 10), ("bioma", filters("uf"), 5))
        .zip(rs).map { case ((by, f, lim), (a, b)) => Req("top", a, b, f, by = by, limit = lim) } },
      "summary" -> { rs => Seq(Filters(), filters("uf"))
        .zip(rs).map { case (f, (a, b)) => Req("summary", a, b, f) } },
      "choropleth_uf" -> { rs => Seq(Filters(), filters("bioma"))
        .zip(rs).map { case (f, (a, b)) => Req("choropleth_uf", a, b, f) } },
      "choropleth_mun" -> { _ => val (a, b) = range(0, 1, 180); Seq(Req("choropleth_mun", a, b, filters("uf"))) },
      "points" -> { rs =>
        val (x, y) = (-70 + rnd.nextDouble() * 27, -11 + rnd.nextDouble() * 8)
        Seq(Req("points", rs.head._1, rs.head._2, bbox = Some((x, y, x + 3, y + 3)), limit = 500)) },
      "lookup_mun" -> { rs => Seq(Req("lookup_mun", rs.head._1, rs.head._2, key = mixCase(pick(s.dims.muns).cd))) },
      "bounds" -> { rs =>
        val m = pick(s.dims.muns)
        Seq(Req("bounds", rs.head._1, rs.head._2, Filters(uf = Some(m.uf.toLowerCase)), key = m.cd)) },
      "geo" -> { rs => Seq(Req("geo", rs.head._1, rs.head._2, entity = "uc", key = pick(s.dims.ucs).code)) },
      "geo_overlay" -> { rs =>
        val withUc = s.cubeRows.filter(_.cdCnuc != null).map(_.cdCnuc)
        val key = if (withUc.nonEmpty) pick(withUc) else pick(s.dims.ucs).code
        Seq(Req("geo_overlay", rs.head._1, rs.head._2, entity = "uc", key = key)) },
      "validate" -> { rs => Seq(Req("validate", rs.head._1, rs.head._2, Filters())) })
    require(shapes.map(_._1) == Names, "one shape list per route, in mix order")
    Weights.zip(shapes).flatMap { case ((_, w), (_, mk)) =>
      val reqs = mk((0 until w).map(range(_, w, 365)))
      require(reqs.length == w, "a shape per slot")
      reqs
    }.toIndexedSeq
  }

  // ---------------------------------------------------------- canonical form

  private def num(d: Double): String = java.lang.Double.toString(d)
  private def str(r: Row, c: String): String = { val i = r.fieldIndex(c); if (r.isNullAt(i)) "null" else r.get(i).toString }
  private def lng(r: Row, c: String): Long = r.getAs[Number](c).longValue

  /** `mp` is a subsequence of `orig`, ring by ring, keeping each ring's
    * end points: what Douglas–Peucker simplification may return. */
  def simplifiedFrom(mp: Gen.MultiPolygon, orig: Gen.MultiPolygon): Boolean =
    mp.length == orig.length && mp.zip(orig).forall { case (p, o) =>
      p.length == o.length && p.zip(o).forall { case (r, ro) =>
        r.nonEmpty && r.head == ro.head && r.last == ro.last && {
          var j = 0
          r.forall { pt => while (j < ro.length && ro(j) != pt) j += 1; j += 1; j <= ro.length }
        }
      }
    }

  private type CSeq[A] = scala.collection.Seq[A]
  def geomOf(r: Row, c: String): Gen.MultiPolygon =
    r.getAs[CSeq[CSeq[CSeq[CSeq[Double]]]]](c).iterator.map(_.iterator.map(
      _.iterator.map(p => (p(0), p(1))).toIndexedSeq).toIndexedSeq).toIndexedSeq

  // ------------------------------------------------------------- Spark side

  private def rows(df: DataFrame): Array[Row] = df.collect()

  /** Calls the route and renders its response. */
  def call(q: Req, s: ServeStore): String = {
    val Req(route, from, to, f, by, limit, key, entity, bbox) = q
    route match {
      case "timeseries" => rows(Serve.timeseries(s.cube, from, to, f))
        .map(r => s"${str(r, "bucket")}:${lng(r, "n_focos")}").mkString(",")
      case "totals" => lng(rows(Serve.totals(s.cube, from, to, f)).head, "n_focos").toString
      case "top" => rows(Serve.top(s.cube, from, to, f, by, limit))
        .map(r => s"${str(r, "key")}|${str(r, "name")}|${lng(r, "n_focos")}").mkString(",")
      case "summary" =>
        val r = rows(Serve.summary(s.cube, from, to, f)).head
        s"${lng(r, "total_focos")}|${str(r, "mean_daily")}|${str(r, "peak_day")}|${str(r, "peak_n")}"
      case "points" =>
        val (rs, truncated) = Serve.points(s.facts, from, to, bbox, limit)
        rs.map(r => str(r, "event_hash")).mkString(",") + s"|$truncated"
      case "choropleth_uf" => rows(Serve.choroplethUf(s.cube, s.ufGeoms, from, to, f))
        .map(r => s"${str(r, "uf")}|${str(r, "ver")}|${lng(r, "n_focos")}").mkString(",")
      case "choropleth_mun" =>
        val orig = s.dims.muns.map(m => m.cd -> m.geom).toMap
        rows(Serve.choroplethMun(s.cube, s.munGeoms, from, to, f)).map { r =>
          val k = str(r, "key")
          s"$k|${str(r, "uf")}|${str(r, "label")}|${lng(r, "n_focos")}|${num(r.getAs[Double]("mean_per_day"))}|" +
            simplifiedFrom(geomOf(r, "geom"), orig(k))
        }.mkString(",")
      case "lookup_mun" => rows(Serve.lookupMun(s.cube, s.munGeoms, key))
        .map(r => Seq("mun", "mun_nome", "uf", "uf_nome").map(str(r, _)).mkString("|")).mkString(",")
      case "bounds" => rows(Serve.bounds(s.munGeoms, key, f.uf))
        .map(r => Seq("minx", "miny", "maxx", "maxy", "center_lat", "center_lon")
          .map(c => num(r.getAs[Double](c))).mkString("|")).mkString(",")
      case "geo" =>
        val orig = (if (entity == "uc") s.dims.ucs else s.dims.tis).map(a => a.code -> a.geom).toMap
        Serve.geoShapeMetrics(if (entity == "uc") s.ucGeoms else s.tiGeoms, key).map { m =>
          val (x0, y0, x1, y1) = Frames.bbox(m.geometry)
          s"${m.key}|${m.nPartsBeforeUnion}|${m.npointsBeforeUnion}|${m.isValidBefore}|" +
            s"${m.simplifyApplied}|${num(m.tolMUsed)}|${simplifiedFrom(m.geometry, orig(key))}|" +
            s"${m.bbox == ((x0, y0, x1, y1))}"
        }.getOrElse("none")
      case "geo_overlay" =>
        val r = rows(Serve.geoOverlayStats(s.cube, entity, key, from, to, f)).head
        Seq("entity", "key", "label").map(str(r, _)).mkString("|") + s"|${lng(r, "n_focos")}"
      case "validate" =>
        val (a, b, c) = Serve.validateConsistency(s.cube, from, to, f)
        s"$a|$b|$c"
    }
  }

  // ------------------------------------------------------------ the oracle

  private def norm(v: Option[String]): Option[String] = v.map(_.trim).filter(_.nonEmpty).map(_.toUpperCase)
  private def up(x: String) = if (x == null) "" else x.toUpperCase

  private def matches(r: CubeRow, from: LocalDate, to: LocalDate, f: Filters): Boolean = {
    def codeOrName(v: Option[String], code: String, name: String) =
      norm(v).forall(x => x == code || x == up(name))
    !r.day.isBefore(from) && r.day.isBefore(to) &&
      norm(f.uf).forall(_ == r.uf) &&
      codeOrName(f.bioma, r.cdBioma, r.bioma) && codeOrName(f.mun, r.cdMun, r.munNm) &&
      codeOrName(f.uc, r.cdCnuc, r.ucNome) && codeOrName(f.ti, r.terraiCod, r.tiNome)
  }

  private def maxStr(xs: Seq[String]): Option[String] = xs.filter(_ != null).maxOption

  private def closed(mp: Gen.MultiPolygon) = mp.forall(_.forall(r => r.length >= 4 && r.head == r.last))

  /** The expected response, from the collected store in plain Scala. */
  def expect(q: Req, s: ServeStore): String = {
    val Req(route, from, to, f, by, limit, key0, entity, bbox) = q
    lazy val sel = s.cubeRows.filter(matches(_, from, to, f))
    lazy val days = ChronoUnit.DAYS.between(from, to)
    val key = norm(Some(key0)).getOrElse("")
    route match {
      case "timeseries" =>
        def bucket(x: LocalDate) =
          if (days > 273) x.withDayOfMonth(1)
          else if (days > 92) x.`with`(TemporalAdjusters.previousOrSame(DayOfWeek.MONDAY))
          else x
        sel.groupBy(r => bucket(r.day)).toSeq.sortBy(_._1.toEpochDay)
          .map { case (b, rs) => s"$b:${rs.map(_.n).sum}" }.mkString(",")
      case "totals" => sel.map(_.n).sum.toString
      case "top" =>
        val (k, nm): (CubeRow => String, CubeRow => String) = by match {
          case "uf" => (_.uf, _.uf)
          case "mun" => (_.cdMun, _.munNm)
          case "bioma" => (_.cdBioma, _.bioma)
          case "uc" => (_.cdCnuc, _.ucNome)
          case "ti" => (_.terraiCod, _.tiNome)
        }
        val eff = if (by == "mun" && norm(f.uf).isEmpty) math.min(limit, 10) else limit
        sel.filter(r => k(r) != null).groupBy(k).toSeq
          .map { case (kk, rs) => (kk, maxStr(rs.map(nm)).getOrElse("null"), rs.map(_.n).sum) }
          .sortBy { case (kk, _, n) => (-n, kk) }.take(eff)
          .map { case (kk, nm2, n) => s"$kk|$nm2|$n" }.mkString(",")
      case "summary" =>
        val daily = sel.groupBy(_.day).toSeq.map { case (dd, rs) => dd -> rs.map(_.n).sum }
        if (daily.isEmpty) "0|null|null|null"
        else {
          val mean = BigDecimal(daily.map(_._2.toDouble).sum / daily.length)
            .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
          val (peakDay, peakN) = daily.minBy { case (dd, n) => (-n, dd.toEpochDay) }
          s"${daily.map(_._2).sum}|$mean|$peakDay|$peakN"
        }
      case "points" =>
        val lim = math.min(limit, Serve.PointsHardCap)
        val hit = s.factRows.filter { r =>
          !r.fileDate.isBefore(from) && r.fileDate.isBefore(to) && bbox.forall { case (x0, y0, x1, y1) =>
            r.lon >= x0 && r.lon <= x1 && r.lat >= y0 && r.lat <= y1 }
        }.sortBy(r => (r.fileDate.toEpochDay, r.hash))
        hit.take(lim).map(_.hash).mkString(",") + s"|${hit.length > lim}"
      case "choropleth_uf" =>
        val n = sel.groupBy(_.uf).map { case (u, rs) => u -> rs.map(_.n).sum }
        Gen.ufGeoms(s.dims).groupBy(_._1).toSeq.sortBy(_._1).map { case (u, vs) =>
          s"$u|${vs.maxBy(_._2.toEpochDay)._3}|${n.getOrElse(u, 0L)}"
        }.mkString(",")
      case "choropleth_mun" =>
        val uf = norm(f.uf).get
        val agg = sel.groupBy(_.cdMun).map { case (m, rs) => m -> (maxStr(rs.map(_.munNm)), rs.map(_.n).sum) }
        s.dims.muns.filter(_.uf == uf).map { m =>
          val (label, n) = agg.getOrElse(m.cd, (None, 0L))
          (m.cd, label.getOrElse(m.cd), n)
        }.sortBy { case (k, _, n) => (-n, k) }
          .map { case (k, label, n) => s"$k|$uf|$label|$n|${num(n.toDouble / math.max(1L, days))}|true" }
          .mkString(",")
      case "lookup_mun" =>
        s.dims.muns.find(_.cd == key).map { m =>
          val nome = maxStr(s.cubeRows.filter(_.cdMun == key).map(_.munNm)).getOrElse(key)
          s"$key|$nome|${m.uf}|${m.uf}"
        }.getOrElse("")
      case "bounds" =>
        val ms = s.dims.muns.filter(m => m.cd == key && norm(f.uf).forall(_ == m.uf))
        if (ms.isEmpty) ""
        else {
          val (x0, y0, x1, y1) = Frames.bbox(ms.flatMap(_.geom))
          Seq(x0, y0, x1, y1, (y0 + y1) / 2.0, (x0 + x1) / 2.0).map(num).mkString("|")
        }
      case "geo" =>
        (if (entity == "uc") s.dims.ucs else s.dims.tis).find(_.code == key).map { a =>
          s"$key|${a.geom.length}|${a.geom.map(_.map(_.length).sum).sum}|${closed(a.geom)}|true|10.0|true|true"
        }.getOrElse("none")
      case "geo_overlay" =>
        val (kc, lc): (CubeRow => String, CubeRow => String) =
          if (entity == "uc") (_.cdCnuc, _.ucNome) else (_.terraiCod, _.tiNome)
        val withKey = if (entity == "uc") f.copy(uc = Some(key)) else f.copy(ti = Some(key))
        val rs = s.cubeRows.filter(r => matches(r, from, to, withKey) && kc(r) == key)
        s"$entity|$key|${maxStr(rs.map(lc)).getOrElse(key)}|${rs.map(_.n).sum}"
      case "validate" =>
        val t = sel.map(_.n).sum
        s"$t|$t|$t"
    }
  }

  /** Store rows the request's answer is computed from: cube rows in its
    * range and filters, facts for `points`, geometry rows for the
    * geometry-only routes. */
  def rowsRead(q: Req, s: ServeStore): Long = {
    val key = norm(Some(q.key)).getOrElse("")
    q.route match {
      case "points" => s.factRows.count(r => !r.fileDate.isBefore(q.from) && r.fileDate.isBefore(q.to)).toLong
      case "lookup_mun" => s.cubeRows.count(_.cdMun == key).toLong + 1
      case "bounds" | "geo" => 1L
      case "geo_overlay" =>
        val withKey = if (q.entity == "uc") q.f.copy(uc = Some(key)) else q.f.copy(ti = Some(key))
        s.cubeRows.count(matches(_, q.from, q.to, withKey)).toLong
      case _ => s.cubeRows.count(matches(_, q.from, q.to, q.f)).toLong
    }
  }
}
