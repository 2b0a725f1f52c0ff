package graft

import java.nio.file.{Files, Path}
import java.time.LocalDate

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ingest.Ingest
import graft.pipeline.Pipeline

/** End-to-end pipeline integration test on a synthetic 3-day fixture:
  * ingest → enrich (municipality + biome + UC + TI) → marts + cube, with
  * the backfill invariants of src/etl/backfill.py:69-135 asserted per day,
  * idempotent re-runs, resumable state, mart-read partition pruning, and
  * the checked-flags re-enrich path.
  */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  type MP = Seq[Seq[Seq[Seq[Double]]]]
  private def rect(minLon: Double, minLat: Double, maxLon: Double, maxLat: Double): MP =
    Seq(Seq(Seq(Seq(minLon, minLat), Seq(maxLon, minLat), Seq(maxLon, maxLat),
      Seq(minLon, maxLat), Seq(minLon, minLat))))

  private def bboxed(df: DataFrame, minLon: Double, minLat: Double,
                     maxLon: Double, maxLat: Double): DataFrame =
    df.withColumn("min_lon", lit(minLon)).withColumn("min_lat", lit(minLat))
      .withColumn("max_lon", lit(maxLon)).withColumn("max_lat", lit(maxLat))

  private lazy val municipios: DataFrame = {
    import spark.implicits._
    val a = bboxed(Seq(("1100015", "Alpha", "RO", 5000.0)).toDF("cd_mun", "nm_mun", "uf", "area_km2"),
      0, 0, 10, 10).withColumn("geom", typedLit(rect(0, 0, 10, 10)))
    val b = bboxed(Seq(("1100023", "Beta", "AC", 7000.0)).toDF("cd_mun", "nm_mun", "uf", "area_km2"),
      10.5, 0, 20, 10).withColumn("geom", typedLit(rect(10.5, 0, 20, 10)))
    a.unionByName(b)
  }

  private lazy val biomas: DataFrame = {
    import spark.implicits._
    bboxed(Seq((1L, "1", "Amazonia")).toDF("dim_id", "cd_bioma", "bioma_nome"),
      0, 0, 20, 10).withColumn("geom", typedLit(rect(0, 0, 20, 10)))
  }
  private lazy val ucs: DataFrame = {
    import spark.implicits._
    bboxed(Seq((1L, "42", "UC X")).toDF("dim_id", "cd_cnuc", "nome_uc"),
      0, 0, 5, 10).withColumn("geom", typedLit(rect(0, 0, 5, 10)))
  }
  private lazy val tis: DataFrame = {
    import spark.implicits._
    bboxed(Seq((1L, "7", "TI Y")).toDF("dim_id", "terrai_cod", "terrai_nom"),
      5.5, 0, 10, 10).withColumn("geom", typedLit(rect(5.5, 0, 10, 10)))
  }

  /** Per day: 2 points in UC territory, 1 in TI territory (all mun Alpha),
    * 2 in mun Beta, plus one exact duplicate and one invalid-lat row. */
  private def writeDailyCsv(dir: Path, day: LocalDate): String = {
    val d = day.toString
    val rows = Seq(
      s"2,5;1,5;$d 12:00:00;AQUA;Alpha;RO;Amazonia",
      s"4,5;4,4;$d 12:05:00;AQUA;Alpha;RO;Amazonia",
      s"3,5;7,5;$d 12:10:00;TERRA;Alpha;RO;Amazonia",
      s"1,5;11,5;$d 12:15:00;AQUA;Beta;AC;Amazonia",
      s"8,5;15,5;$d 12:20:00;TERRA;Beta;AC;Amazonia",
      s"2,5;1,5;$d 12:00:00;AQUA;Alpha;RO;Amazonia", // duplicate of row 1
      s"999;1,5;$d 12:25:00;AQUA;Alpha;RO;Amazonia" // invalid latitude
    )
    val f = dir.resolve(s"$day.csv")
    Files.writeString(f,
      "latitude;longitude;data_hora_gmt;satelite;municipio;estado;bioma\n" +
        rows.mkString("\n") + "\n")
    f.toString
  }

  private lazy val fixture: (Pipeline, String, Path) = {
    val dir = Files.createTempDirectory("graft_pipeline")
    val root = dir.resolve("warehouse").toString
    val p = new Pipeline(spark, root, municipios, biomas, Some(ucs), Some(tis))
    (p, root, dir)
  }

  private val d1 = LocalDate.parse("2024-01-01")
  private val d3 = LocalDate.parse("2024-01-03")

  test("3-day backfill: enrich chain + marts + conservation invariants") {
    val (p, root, dir) = fixture
    val done = p.backfill(d1, d3,
      d => Ingest.readCsv(spark, writeDailyCsv(dir, d)), checks = true)
    assert(done.size == 3)
    assert(p.readState().contains(d3))

    val curated = spark.read.parquet(s"$root/curated")
    assert(curated.count() == 15) // 5 valid unique rows x 3 days
    val enriched = spark.read.parquet(s"$root/enriched")
    assert(enriched.count() == 15)
    assert(enriched.filter(col("mun_cd_mun").isNull).count() == 0)
    // UC/TI coverage: 2 points/day in the UC box, 1/day in the TI box
    assert(enriched.filter(col("cd_cnuc") === "42").count() == 6)
    assert(enriched.filter(col("terrai_cod") === "7").count() == 3)
    assert(enriched.filter(!col("bioma_checked") || !col("uc_checked") || !col("ti_checked"))
      .count() == 0)

    // marts: all six daily tables + monthly mun + cube materialized
    def mart(n: String) = spark.read.parquet(s"$root/marts/$n")
    assert(mart("focos_diario_municipio").agg(sum("n_focos")).head.getLong(0) == 15)
    assert(mart("focos_diario_uf").agg(sum("n_focos")).head.getLong(0) == 15)
    assert(mart("focos_mensal_municipio").agg(sum("n_focos")).head.getLong(0) == 15)
    assert(mart("focos_diario_bioma").agg(sum("focos")).head.getLong(0) == 15)
    assert(mart("focos_diario_uc").agg(sum("focos")).head.getLong(0) == 6)
    assert(mart("focos_diario_ti").agg(sum("focos")).head.getLong(0) == 3)
    val cube = mart("mv_focos_day_dim")
    assert(cube.agg(sum("n_focos")).head.getLong(0) == 15)
    // all 11 dimension columns populated end-to-end
    assert(cube.filter(col("cd_cnuc") === "42").agg(sum("n_focos")).head.getLong(0) == 6)
    assert(cube.filter(col("terrai_cod") === "7").agg(sum("n_focos")).head.getLong(0) == 3)
    assert(cube.filter(col("cd_bioma") === "1").agg(sum("n_focos")).head.getLong(0) == 15)
  }

  test("enrichMunicipio: KNN fallback snaps a gap point within 2 km to the " +
    "nearest municipality and leaves a far point unassigned") {
    import spark.implicits._
    import graft.enrich.Enrich
    // Alpha covers lon [0,10], Beta [10.5,20] — a 0.5° gap between them.
    // (10.49, 5) is ~1.1 km from Beta's western edge → snaps to Beta;
    // (10.25, 5) is ~27 km from both → stays null; (5, 5) is exact-PIP
    // inside Alpha and must NOT be touched by the fallback.
    val facts = Seq(("h1", 5.0, 5.0), ("h2", 10.49, 5.0), ("h3", 10.25, 5.0))
      .toDF("event_hash", "lon", "lat")
    val got = Enrich.enrichMunicipio(facts, municipios)
      .select("event_hash", "mun_cd_mun", "mun_nm_mun", "mun_uf")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
      .toSet
    assert(got == Set(
      ("h1", "1100015", "Alpha", "RO"),
      ("h2", "1100023", "Beta", "AC"),
      ("h3", null, null, null)))
    // exactly one output row per fact — the conservation invariant the
    // linear join+window form must preserve
    assert(Enrich.enrichMunicipio(facts, municipios).count() == 3)
  }

  test("schema cache: a write that changes the store schema invalidates the " +
    "cached entry; an unchanged-schema write keeps it") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_schema_cache")
    val root = dir.resolve("wh").toString
    val p = new Pipeline(spark, root, municipios, biomas)
    Seq((1, "x")).toDF("a", "b").write.parquet(s"$root/demo")
    assert(p.readTable("demo").columns.toSeq == Seq("a", "b")) // primes cache
    // the store gains a column; without invalidation the cached schema
    // silently projects it away
    val v2 = Seq((2, "y", 9L)).toDF("a", "b", "c")
    v2.write.mode("overwrite").parquet(s"$root/demo")
    assert(p.readTable("demo").columns.toSeq == Seq("a", "b"),
      "precondition: the stale cache really is in play")
    p.noteWrite("demo", v2, Seq.empty)
    assert(p.readTable("demo").columns.toSeq.sorted == Seq("a", "b", "c"),
      "changed-schema write must invalidate the cached entry")
    // unchanged-schema append keeps the (re-primed) cache entry valid
    p.noteWrite("demo", v2, Seq.empty)
    assert(p.readTable("demo").columns.toSeq.sorted == Seq("a", "b", "c"))
    // a write that DROPS a column must also invalidate (set equality, not
    // subset): a one-directional check would keep the stale 3-column entry
    // and read the vanished column back as all-null forever
    val v3 = Seq((3, "z")).toDF("a", "b")
    v3.write.mode("overwrite").parquet(s"$root/demo")
    p.noteWrite("demo", v3, Seq.empty)
    assert(p.readTable("demo").columns.toSeq.sorted == Seq("a", "b"),
      "dropped-column write must invalidate the cached entry")
  }

  test("localized dims: a fact-sized frame mis-wired as a dimension fails " +
    "the bounded-dim contract loudly instead of collecting unbounded") {
    val dir = Files.createTempDirectory("graft_dim_guard")
    val big = spark.range(200001).selectExpr("cast(id as string) as uf",
      "cast(id as double) as area_km2", "'x' as nm_mun", "'1' as cd_mun",
      "'g' as geom_json")
    val e = intercept[IllegalArgumentException] {
      new Pipeline(spark, dir.resolve("wh").toString, big, biomas)
    }
    assert(e.getMessage.contains("bounded-dim"))
  }

  test("idempotent re-run inserts nothing and keeps counts stable") {
    val (p, root, dir) = fixture
    val again = p.runDay(writeDailyCsv(dir, d1), d1)
    assert(again("attempted") == 5)
    assert(again("inserted") == 0)
    assert(spark.read.parquet(s"$root/curated").count() == 15)
    assert(spark.read.parquet(s"$root/enriched").count() == 15)
    assert(p.checkDay(d1).isEmpty)
  }

  test("resume skips completed days") {
    val (p, _, _) = fixture
    val resumed = p.backfill(d1, d3,
      _ => fail("resume must not re-run completed days"): DataFrame,
      resume = true)
    assert(resumed.isEmpty)
  }

  test("mart input is partition-pruned on file_date (not just the derived day key)") {
    val (p, root, _) = fixture
    val plan = p.martInput(spark.read.parquet(s"$root/enriched"),
      java.sql.Date.valueOf(d1)).queryExecution.executedPlan.toString
    val pf = "PartitionFilters: \\[[^\\]]*file_date[^\\]]*\\]".r
    assert(pf.findFirstIn(plan).isDefined, s"no file_date partition filter in plan:\n$plan")
    // the count frame every mart rolls up reads under the same kind of bound
    val counts = p.martCounts(java.sql.Date.valueOf(d1)).queryExecution.executedPlan.toString
    assert(pf.findFirstIn(counts).isDefined,
      s"no file_date partition filter on the count-frame scan:\n$counts")
  }

  test("enriched-ahead-of-curated heal: a re-run re-inserts the rows curated " +
    "lacks and does not enrich them twice") {
    val dir2 = Files.createTempDirectory("graft_pipeline_heal")
    val root = dir2.resolve("warehouse").toString
    val p = new Pipeline(spark, root, municipios, biomas, Some(ucs), Some(tis))
    val day = LocalDate.parse("2024-03-01")
    val csv = writeDailyCsv(dir2, day)
    assert(p.runDay(csv, day)("inserted") == 5)

    // Simulate a crashed batch whose enriched append landed and whose
    // curated append did not: the curated partition loses two of its rows.
    val part = s"$root/curated/file_date=$day"
    val stored = spark.read.parquet(part)
    val kept = stored.orderBy("event_hash").collect().take(3)
    spark.createDataFrame(java.util.Arrays.asList(kept: _*), stored.schema)
      .write.mode("overwrite").parquet(part)
    assert(spark.read.parquet(part).count() == 3)
    assert(spark.read.parquet(s"$root/enriched").count() == 5)

    val again = p.runDay(csv, day)
    assert(again("attempted") == 5)
    assert(again("inserted") == 2)
    assert(spark.read.parquet(s"$root/curated").count() == 5)
    val enriched = spark.read.parquet(s"$root/enriched")
    assert(enriched.count() == 5)
    assert(enriched.select("event_hash").distinct().count() == 5)
    assert(p.checkDay(day).isEmpty)
  }

  test("inParallel: bodies that outlive the limit fail the call after about " +
    "one limit, not one limit per body") {
    import scala.concurrent.duration._
    val limit = 400.millis
    val t0 = System.nanoTime()
    intercept[java.util.concurrent.TimeoutException] {
      Pipeline.inParallel(Seq.fill(4)(() => Thread.sleep(10000)), threads = 4, limit = limit)
    }
    val sec = (System.nanoTime() - t0) / 1e9
    // a fresh limit per await would take 4 × 0.4 s
    assert(sec < 1.2, s"took $sec s for four bodies under a 0.4 s limit")
  }

  test("curatedDay union view: a re-run heals curated orphans AND admits the " +
    "late batch's new rows (existing ∪ fresh ≡ the partition read-back)") {
    // Own root: this test doctors the curated store, so it must not share
    // the lazy fixture other tests assert exact counts against.
    val dir2 = Files.createTempDirectory("graft_pipeline_union")
    val root = dir2.resolve("warehouse").toString
    val p = new Pipeline(spark, root, municipios, biomas, Some(ucs), Some(tis))
    val day = LocalDate.parse("2024-02-01")
    val first = p.runDay(writeDailyCsv(dir2, day), day)
    assert(first("inserted") == 5)

    // Simulate a prior crashed batch: two curated rows whose enrichment
    // never happened (curated append succeeded, enriched write did not).
    // runDayFrom used to see them via the partition READ-BACK; the
    // existing ∪ fresh union view must see them via `existing`.
    val part = s"$root/curated/file_date=$day"
    val orphans = spark.read.parquet(part).limit(2)
      .withColumn("event_hash", concat(lit("orphan_"), col("event_hash")))
      .withColumn("lat", col("lat") + lit(0.01))
    orphans.write.mode("append").parquet(part)

    // Late file for the SAME day: the original rows plus one new point
    // (valid coords inside mun Alpha / biome / UC boxes)
    val f = dir2.resolve(s"$day-late.csv")
    val d = day.toString
    Files.writeString(f,
      "latitude;longitude;data_hora_gmt;satelite;municipio;estado;bioma\n" +
        s"2,5;1,5;$d 12:00:00;AQUA;Alpha;RO;Amazonia\n" +
        s"9,1;2,2;$d 18:00:00;AQUA;Alpha;RO;Amazonia\n")
    val again = p.runDay(f.toString, day)
    assert(again("attempted") == 2)
    assert(again("inserted") == 1) // the 18:00 point only

    // curated: 5 original + 2 orphans + 1 late insert
    val curated = spark.read.parquet(s"$root/curated")
    assert(curated.count() == 8)
    // enriched must match curated 1:1 — the 2 orphans healed (only the
    // read-back used to guarantee that) AND the fresh row admitted (only
    // `fresh` carries it: its files postdate `existing`'s pinned listing)
    val enriched = spark.read.parquet(s"$root/enriched")
    assert(enriched.count() == 8)
    assert(enriched.select("event_hash").distinct().count() == 8)
    assert(enriched.filter(col("event_hash").startsWith("orphan_")).count() == 2)
    assert(enriched.filter(col("mun_cd_mun").isNull).count() == 0)
    assert(p.checkDay(day).isEmpty)
  }

  test("checked-flags read path: reenrichDay restores a late-arriving dimension") {
    val (p, root, dir2) = fixture
    // simulate "UC dim arrived late": null the UC outputs of day 1 and clear its flag
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    val day = spark.read.parquet(s"$root/enriched")
      .filter(col("file_date") === lit(java.sql.Date.valueOf(d1)))
    val doctored = day
      .withColumn("uc_checked", lit(false))
      .withColumn("cd_cnuc", lit(null).cast("string"))
      .withColumn("uc_nome", lit(null).cast("string"))
    val tmp = dir2.resolve("doctored").toString
    doctored.write.mode("overwrite").parquet(tmp)
    spark.read.parquet(tmp)
      .withColumn("file_date", lit(java.sql.Date.valueOf(d1)))
      .write.mode("overwrite").partitionBy("file_date").parquet(s"$root/enriched")

    assert(p.reenrichDay(d1) == 5) // every day-1 row was unchecked
    val redone = spark.read.parquet(s"$root/enriched")
      .filter(col("file_date") === lit(java.sql.Date.valueOf(d1)))
    assert(redone.count() == 5)
    assert(redone.filter(col("cd_cnuc") === "42").count() == 2)
    assert(redone.filter(!col("uc_checked")).count() == 0)
    assert(p.checkDay(d1).isEmpty)
  }

  test("EP3 over EP1: the Serve layer answers from the pipeline-written cube") {
    import graft.serve.Serve
    val (_, root, _) = fixture
    val cube = spark.read.parquet(s"$root/marts/mv_focos_day_dim")
    val from = d1
    val to = d3.plusDays(1)

    assert(Serve.totals(cube, from, to, Serve.Filters()).head.getLong(0) == 15)
    assert(Serve.totals(cube, from, to, Serve.Filters(uf = Some("ro")))
      .head.getLong(0) == 9) // filter normalization upper-cases "ro"

    val s = Serve.summary(cube, from, to, Serve.Filters()).head
    assert(s.getAs[Long]("total_focos") == 15)
    assert(s.getAs[java.sql.Date]("peak_day").toLocalDate == d1) // 5/5/5 tie -> earliest
    assert(s.getAs[Long]("peak_n") == 5)

    val top = Serve.top(cube, from, to, Serve.Filters(), by = "uf", limit = 5)
      .collect().map(r => r.getAs[String]("key") -> r.getAs[Long]("n_focos"))
    assert(top.toSeq == Seq("RO" -> 9L, "AC" -> 6L))

    val (tot, ts, byUf) = Serve.validateConsistency(cube, from, to, Serve.Filters())
    assert(tot == 15 && ts == 15 && byUf == 15)
  }

  test("A7 period stats: single-pass max_by peak over the daily UF mart") {
    import graft.marts.Marts
    val (_, root, _) = fixture
    val dailyUf = spark.read.parquet(s"$root/marts/focos_diario_uf")
    val period = Marts.focosPeriodoUf(dailyUf,
        java.sql.Date.valueOf(d1), java.sql.Date.valueOf(d3))
      .collect().map(r => r.getAs[String]("uf") -> r).toMap
    assert(period.keySet == Set("RO", "AC"))
    val ro = period("RO")
    assert(ro.getAs[Long]("n_focos_total") == 9)
    assert(ro.getAs[java.math.BigDecimal]("n_focos_avg_daily").doubleValue() == 3.0)
    assert(ro.getAs[Long]("n_focos_max_daily") == 3)
    // 3/3/3 tie -> earliest day wins (DISTINCT ON tiebreak, W3)
    assert(ro.getAs[java.sql.Date]("peak_day").toLocalDate == d1)
  }

  test("marts rolled up from the count frame equal per-mart aggregation of " +
    "the raw enriched store, cross-day and cross-month rows included") {
    val dir2 = Files.createTempDirectory("graft_pipeline_marts")
    val root = dir2.resolve("warehouse").toString
    val p = new Pipeline(spark, root, municipios, biomas, Some(ucs), Some(tis))
    // lat;lon;view_ts — Alpha (UC box lon<5, TI box lon>5.5), Beta lon>10.5,
    // the Alpha/Beta gap at lon 10.25 (no municipality) and lon 25 (no dim)
    def file(day: String, rows: (String, String, String)*): String = {
      val f = dir2.resolve(s"$day.csv")
      Files.writeString(f,
        "latitude;longitude;data_hora_gmt;satelite;municipio;estado;bioma\n" +
          rows.map { case (lat, lon, ts) => s"$lat;$lon;$ts;AQUA;X;RO;Amazonia" }
            .mkString("\n") + "\n")
      f.toString
    }
    val files = Seq(
      "2024-01-30" -> file("2024-01-30",
        ("2,5", "1,5", "2024-01-30 10:00:00"), ("2,9", "1,9", "2024-01-30 10:30:00"),
        ("3,5", "7,5", "2024-01-30 11:00:00"), ("1,5", "11,5", "2024-01-30 12:00:00"),
        ("4,0", "2,0", "2024-01-31 01:00:00"), // leads its file day
        ("5,0", "3,0", "2024-01-29 23:00:00")), // lags it
      "2024-01-31" -> file("2024-01-31",
        ("2,6", "1,6", "2024-01-31 10:00:00"), ("8,5", "15,5", "2024-01-31 11:00:00"),
        ("6,0", "6,0", "2024-01-30 22:00:00"),
        ("6,5", "6,5", "sem data"), // unparseable: the day key falls back to file_date
        ("5,0", "10,25", "2024-01-31 12:00:00")), // no municipality
      // next-month files carrying previous-month view days
      "2024-02-01" -> file("2024-02-01",
        ("2,7", "1,7", "2024-02-01 10:00:00"), ("3,6", "7,6", "2024-02-01 13:00:00"),
        ("7,0", "8,0", "2024-01-31 20:00:00"), ("7,2", "8,2", "2024-01-31 21:00:00"),
        ("7,5", "12,0", "2024-01-30 21:00:00"),
        ("5,0", "25,0", "2024-02-01 09:00:00")), // outside every dimension
      "2024-02-02" -> file("2024-02-02",
        ("2,8", "1,8", "2024-02-02 10:00:00"), ("1,6", "11,6", "2024-02-01 23:30:00"),
        ("9,0", "9,0", "2024-01-31 05:00:00")))
    // the re-run of 2024-01-31 rebuilds January after February's files
    // brought it late rows
    val runs = files ++ files.take(2).drop(1)

    val ufArea = graft.marts.Marts.ufAreaRollup(municipios.select(col("uf"), col("area_km2")))
    def rows(df: DataFrame): Seq[String] =
      df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted
    // expected content of each mart, by partition value, as dynamic
    // partition overwrite leaves it after each run
    val expected = scala.collection.mutable.Map[String, Map[String, Seq[String]]]()
      .withDefaultValue(Map.empty)
    for ((day, csv) <- runs) {
      val ld = LocalDate.parse(day)
      p.runDay(csv, ld)
      val d = java.sql.Date.valueOf(ld)
      val e = spark.read.parquet(s"$root/enriched")
      val (dayIn, monthIn) = (RawRowMarts.dayInput(e, d), RawRowMarts.monthInput(e, d))
      val fileDayIn = e.filter(col("file_date") === lit(d))
      val fileMonthIn = e.filter(date_trunc("month", col("file_date")).cast("date") ===
        lit(java.sql.Date.valueOf(ld.withDayOfMonth(1))))
      val reference = Seq(
        ("focos_diario_municipio", "day", RawRowMarts.focosDiarioMunicipio(dayIn)),
        ("focos_mensal_municipio", "month", RawRowMarts.focosMensalMunicipio(monthIn)),
        ("focos_diario_uf", "day", RawRowMarts.focosDiarioUf(dayIn, ufArea)),
        ("focos_mensal_uf", "month", RawRowMarts.focosMensalUf(monthIn, ufArea)),
        ("focos_diario_bioma", "day", RawRowMarts.focosDiarioKeyed(fileDayIn, "cd_bioma", Seq("bioma"))),
        ("focos_mensal_bioma", "month", RawRowMarts.focosMensalKeyed(fileMonthIn, "cd_bioma", Seq("bioma"))),
        ("focos_diario_uc", "day", RawRowMarts.focosDiarioKeyed(fileDayIn, "cd_cnuc", Seq("uc_nome"))),
        ("focos_mensal_uc", "month", RawRowMarts.focosMensalKeyed(fileMonthIn, "cd_cnuc", Seq("uc_nome"))),
        ("focos_diario_ti", "day", RawRowMarts.focosDiarioKeyed(fileDayIn, "terrai_cod", Seq("ti_nome"))),
        ("focos_mensal_ti", "month", RawRowMarts.focosMensalKeyed(fileMonthIn, "terrai_cod", Seq("ti_nome"))),
        ("mv_focos_day_dim", "day", RawRowMarts.factCube(dayIn.withColumn("cd_uf", col("mun_uf")))))
      for ((name, part, ref0) <- reference) {
        // a partitioned table reads back with its partition column last
        val ref = ref0.select((ref0.columns.filterNot(_ == part) :+ part).map(col).toIndexedSeq: _*)
        expected(name) = expected(name) ++ rows(ref).groupBy(_.split('|').last)
        val got = spark.read.parquet(s"$root/marts/$name")
        assert(got.schema.map(f => f.name -> f.dataType) == ref.schema.map(f => f.name -> f.dataType),
          s"$name schema after $day")
        assert(rows(got) == expected(name).values.flatten.toSeq.sorted, s"$name rows after $day")
      }
      val trend = spark.read.parquet(s"$root/marts/focos_diario_uf_trend")
      assert(rows(trend) == rows(graft.marts.Marts.focosDiarioUfTrend(
        spark.read.parquet(s"$root/marts/focos_diario_uf"))), s"trend after $day")
      assert(p.checkDay(ld).isEmpty)
    }
    // the fixture really holds the rows the rollup must get right
    val e = spark.read.parquet(s"$root/enriched")
    assert(e.count() == 20)
    assert(e.filter(graft.marts.Marts.dayKey =!= col("file_date")).count() == 8)
    assert(e.filter(date_trunc("month", graft.marts.Marts.dayKey) =!=
      date_trunc("month", col("file_date"))).count() == 4)
    assert(e.filter(col("mun_cd_mun").isNull).count() == 2)
    // count-frame groups of more than one row: a rollup that counted
    // groups instead of summing `n` would not show on single-row groups
    assert(p.martCounts(java.sql.Date.valueOf("2024-01-31")).filter(col("n") > 1).count() == 2)
  }
}

/** The per-mart builders over raw enriched rows that the count-frame
  * rollups replaced, kept as the reference the rollups must equal. */
private object RawRowMarts {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.types.DecimalType

  val retentionDays = 45
  val dayKey: Column = coalesce(to_date(col("view_ts")), col("file_date"))

  def dayInput(enrichedAll: DataFrame, d: java.sql.Date): DataFrame =
    enrichedAll
      .filter(col("file_date").between(
        date_sub(lit(d), retentionDays), date_add(lit(d), retentionDays)))
      .filter(dayKey === lit(d))

  def monthInput(enrichedAll: DataFrame, d: java.sql.Date): DataFrame = {
    val ld = d.toLocalDate
    val mStart = java.sql.Date.valueOf(ld.withDayOfMonth(1))
    val mEnd = java.sql.Date.valueOf(ld.withDayOfMonth(ld.lengthOfMonth))
    enrichedAll
      .filter(col("file_date").between(
        date_sub(lit(mStart), retentionDays), date_add(lit(mEnd), retentionDays)))
      .filter(date_trunc("month", dayKey).cast("date") === lit(mStart))
  }

  private def per100km2(n: Column, area: Column): Column =
    round((lit(100) * n.cast(DecimalType(38, 10))) /
      when(area === 0, null).otherwise(area).cast(DecimalType(38, 10)), 4)

  def focosDiarioMunicipio(enriched: DataFrame): DataFrame =
    enriched.filter(col("mun_cd_mun").isNotNull)
      .groupBy(dayKey.as("day"), col("mun_cd_mun"), col("mun_nm_mun"), col("mun_uf"))
      .agg(max("mun_area_km2").as("mun_area_km2"), count(lit(1)).as("n_focos"))
      .withColumn("focos_por_100km2", per100km2(col("n_focos"), col("mun_area_km2")))

  def focosMensalMunicipio(enriched: DataFrame): DataFrame =
    enriched.filter(col("mun_cd_mun").isNotNull)
      .groupBy(date_trunc("month", dayKey).cast("date").as("month"),
        col("mun_cd_mun"), col("mun_nm_mun"), col("mun_uf"))
      .agg(max("mun_area_km2").as("mun_area_km2"), count(lit(1)).as("n_focos"))
      .withColumn("focos_por_100km2", per100km2(col("n_focos"), col("mun_area_km2")))

  def focosDiarioUf(enriched: DataFrame, ufArea: DataFrame): DataFrame =
    enriched.filter(col("mun_uf").isNotNull)
      .groupBy(dayKey.as("day"), col("mun_uf").as("uf"))
      .agg(count(lit(1)).as("n_focos"))
      .join(broadcast(ufArea), "uf")
      .withColumn("focos_por_100km2", per100km2(col("n_focos"), col("uf_area_km2")))

  def focosMensalUf(enriched: DataFrame, ufArea: DataFrame): DataFrame =
    enriched.filter(col("mun_uf").isNotNull)
      .groupBy(date_trunc("month", dayKey).cast("date").as("month"),
        col("mun_uf").as("uf"))
      .agg(count(lit(1)).as("n_focos"))
      .join(broadcast(ufArea), "uf")
      .withColumn("focos_por_100km2", per100km2(col("n_focos"), col("uf_area_km2")))

  def focosDiarioKeyed(enriched: DataFrame, keyCol: String, labelCols: Seq[String]): DataFrame =
    enriched.filter(col(keyCol).isNotNull)
      .groupBy(col("file_date").as("day"), col(keyCol))
      .agg(labelCols.map(c => max(c).as(c)).head,
        (labelCols.map(c => max(c).as(c)).tail :+ count(lit(1)).cast("int").as("focos")): _*)

  def focosMensalKeyed(enriched: DataFrame, keyCol: String, labelCols: Seq[String]): DataFrame =
    enriched.filter(col(keyCol).isNotNull)
      .groupBy(date_trunc("month", col("file_date")).cast("date").as("month"), col(keyCol))
      .agg(labelCols.map(c => max(c).as(c)).head,
        (labelCols.map(c => max(c).as(c)).tail :+ count(lit(1)).cast("int").as("focos")): _*)

  def factCube(enrichedFull: DataFrame): DataFrame =
    enrichedFull.groupBy(
        dayKey.as("day"),
        col("mun_uf").as("uf"), col("cd_uf"), col("mun_cd_mun").as("cd_mun"),
        col("mun_nm_mun"), col("bioma"), col("cd_bioma"),
        col("uc_nome"), col("cd_cnuc"), col("ti_nome"), col("terrai_cod"))
      .agg(count(lit(1)).as("n_focos"))
}
