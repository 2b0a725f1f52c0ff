package perfbench

import java.io.File
import java.nio.file.Path
import java.sql.Date
import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, concat_ws, date_format, to_date}

import graft.enrich.Enrich
import graft.functions.HashFunctions
import graft.ingest.Ingest
import graft.pipeline.Pipeline

/** One pipeline invocation's input: a CSV for `day` (version `version` of
  * that day's file), its byte and data-row counts, and the closed-form
  * counts `runDayFrom` must report for it. */
final case class Invocation(day: LocalDate, version: Int, csv: Path, csvBytes: Long, csvRows: Int,
                            expectedAttempted: Long, expectedInserted: Long)

/** Result of one timed invocation. */
final case class InvocationResult(inv: Invocation, wallS: Double, attempted: Long, inserted: Long,
                                  failure: Option[String])

/** The EP2 workloads: `backfill_month` (one new file per day) and
  * `refresh_intraday` (each day as four growing cumulative versions).
  * Each invocation makes the same calls `Pipeline.backfill` makes for a
  * day — `runDayFrom` without marts, `writeMarts`, `checkDay`,
  * `writeState` — so the layers can be timed apart. */
object PipelineWork {
  val First: LocalDate = LocalDate.of(2024, 1, 1)
  val MonthDays = 30
  val PerDay = 3333

  /** Writes the CSVs of the workload's `n` timed invocations under `dir`
    * and returns them in run order: for `backfill_month` the month's last
    * `n` days (the days before them are the [[prefix]] set-up loads), for
    * `refresh_intraday` the versions of the month's first days. */
  def plan(workload: String, seed: Long, dir: File, n: Int = Int.MaxValue): IndexedSeq[Invocation] = {
    val month = Gen.days(seed, First, MonthDays, PerDay)
    workload match {
      case "backfill_month" => month.takeRight(math.min(n, MonthDays - 1)).map { case (day, evs) =>
        val p = new File(dir, s"$day.csv").toPath
        val valid = Gen.validCount(evs.map(_.id))
        Invocation(day, 1, p, Gen.writeCsv(p, day, evs), evs.length, valid, valid)
      }
      case "refresh_intraday" => month.take((n - 1) / 4 + 1).flatMap { case (day, evs) =>
        val vs = Gen.versions(evs)
        vs.indices.map { k =>
          val p = new File(dir, s"${day}_v${k + 1}.csv").toPath
          val prev = if (k == 0) 0 else vs(k - 1).length
          Invocation(day, k + 1, p, Gen.writeCsv(p, day, vs(k)), vs(k).length,
            Gen.validCount(vs(k).map(_.id)), Gen.validCount(vs(k).drop(prev).map(_.id)))
        }
      }.take(n)
      case other => throw new IllegalArgumentException(s"not a pipeline workload: $other")
    }
  }

  /** The days of the month before `backfill_month`'s `n` timed ones, in one
    * CSV under `dir`: the warehouse the timed days meet. Returns the file. */
  def prefix(seed: Long, dir: File, n: Int): File = {
    val f = new File(dir, "prefix.csv")
    Gen.writeDaysCsv(f.toPath, Gen.days(seed, First, MonthDays, PerDay).dropRight(math.min(n, MonthDays - 1)))
    f
  }

  /** The enrich chain `runDayFrom` applies: municipality PIP + KNN, then
    * first-match biome, UC and TI. */
  def enrich(facts: DataFrame, muns: DataFrame, biomas: DataFrame, ucs: DataFrame, tis: DataFrame): DataFrame = {
    val withMun = Enrich.enrichMunicipio(facts, muns)
    val withBioma = Enrich.enrichFirstMatch(withMun, biomas,
      Map("cd_bioma" -> "cd_bioma", "bioma_nome" -> "bioma"), "bioma_checked")
    val withUc = Enrich.enrichFirstMatch(withBioma, ucs,
      Map("cd_cnuc" -> "cd_cnuc", "nome_uc" -> "uc_nome"), "uc_checked")
    Enrich.enrichFirstMatch(withUc, tis,
      Map("terrai_cod" -> "terrai_cod", "terrai_nom" -> "ti_nome"), "ti_checked")
  }

  /** Runs `body` with AQE's partition coalescing off: the small shuffles of
    * set-up's bulk loads would otherwise fold into one task each and leave
    * the other cores idle. The timed phase runs with the session's
    * settings. */
  def spreadOut[A](spark: SparkSession)(body: => A): A = {
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try body
    finally before match { case Some(v) => spark.conf.set(key, v); case None => spark.conf.unset(key) }
  }

  /** [[enrich]] for facts whose sites recur: each distinct (lat, lon) is
    * enriched once and joined back. Enrichment depends on the location
    * alone, so this gives the rows `enrich` gives, at the cost of the
    * distinct sites; set-up's bulk loads use it. */
  def enrichBySite(spark: SparkSession, facts: DataFrame, dims: Gen.Dims): DataFrame = {
    val sites = facts.select("lat", "lon").distinct()
      .withColumn("event_hash", concat_ws(";", col("lat").cast("string"), col("lon").cast("string")))
    val bySite = enrich(sites, Frames.municipios(spark, dims), Frames.biomas(spark, dims),
      Frames.ucs(spark, dims), Frames.tis(spark, dims)).drop("event_hash")
    // enrich sets columns the facts already carry (bioma) in place and
    // appends the rest, so the joined-back frame does the same
    val added = bySite.columns.filterNot(Set("lat", "lon"))
    val site = bySite.select(bySite.columns.toIndexedSeq.map(c => col(c).as(s"__$c")): _*)
    facts.join(site, col("lat") === col("__lat") && col("lon") === col("__lon"))
      .select((facts.columns.map(c => if (added.contains(c)) col(s"__$c").as(c) else col(c)) ++
        added.filterNot(facts.columns.contains).map(c => col(s"__$c").as(c))).toIndexedSeq: _*)
  }

  /** Loads a CSV of several days into `root`'s curated and enriched stores
    * in one pass, each row under its own day: `Ingest.transform`, the event
    * hash recomputed with the row's day (as a daily run computes it), and
    * the enrich chain, site by site. Leaves the rows `runDayFrom` leaves for
    * those days, without their marts; returns the number of rows loaded. */
  def bulkLoad(spark: SparkSession, root: File, dims: Gen.Dims, csv: File): Long = spreadOut(spark) {
    val records = Ingest.transform(Ingest.readCsv(spark, csv.getPath), Date.valueOf(First))
      .withColumn("file_date", to_date(col("view_ts")))
      .withColumn("event_hash", HashFunctions.eventHashUdf(date_format(col("file_date"), "yyyy-MM-dd"),
        col("lat"), col("lon"), col("view_ts"), col("satelite")))
      .cache()
    try {
      records.write.mode("append").partitionBy("file_date").parquet(new File(root, "curated").getPath)
      enrichBySite(spark, records, dims)
        .write.mode("append").partitionBy("file_date").parquet(new File(root, "enriched").getPath)
      records.count()
    } finally records.unpersist()
  }

  def pipeline(spark: SparkSession, root: File, dims: Gen.Dims): Pipeline =
    new Pipeline(spark, root.getAbsolutePath, Frames.municipios(spark, dims), Frames.biomas(spark, dims),
      Some(Frames.ucs(spark, dims)), Some(Frames.tis(spark, dims)))

  /** One invocation, CSV to state file, with a span per layer under one
    * invocation span. Throws on a check error or a wrong count. */
  def invoke(spark: SparkSession, p: Pipeline, inv: Invocation, rec: Recorder, i: Int): (Long, Long) =
    rec.span("invocation", i) {
      val raw = rec.span("ingest.read", i)(Ingest.readCsv(spark, inv.csv.toString))
      val r = rec.span("load", i)(p.runDayFrom(raw, inv.day, Set.empty))
      rec.span("marts", i)(p.writeMarts(Date.valueOf(inv.day)))
      val errs = rec.span("check", i)(p.checkDay(inv.day))
      rec.span("state", i)(p.writeState(inv.day))
      require(errs.isEmpty, s"checkDay(${inv.day}) failed: ${errs.mkString("; ")}")
      val (att, ins) = (r("attempted"), r("inserted"))
      require(att == inv.expectedAttempted && ins == inv.expectedInserted,
        s"${inv.csv.getFileName}: attempted/inserted $att/$ins, expected " +
          s"${inv.expectedAttempted}/${inv.expectedInserted}")
      (att, ins)
    }

  /** The ingest-transform and enrich layers re-run in isolation on the
    * invocation's input, into a noop sink, before the invocation itself:
    * `runDayFrom` fuses them with the load's writes, so only this way do
    * they get spans of their own. Traced runs only. */
  def isolatedLayers(spark: SparkSession, p: Pipeline, inv: Invocation, muns: DataFrame,
                     biomas: DataFrame, ucs: DataFrame, tis: DataFrame, rec: Recorder, i: Int): Unit = {
    val d = Date.valueOf(inv.day)
    val fresh = rec.span("ingest.transform", i) {
      val records = Ingest.transform(Ingest.readCsv(spark, inv.csv.toString), d)
      val existing = p.readOrEmpty(s"curated/file_date=${inv.day}", records.drop("file_date"))
      val f = Ingest.idempotentAppend(records, existing.select("event_hash")).cache()
      f.write.format("noop").mode("overwrite").save()
      f
    }
    try rec.span("enrich", i) {
      enrich(fresh, muns, biomas, ucs, tis).write.format("noop").mode("overwrite").save()
    } finally fresh.unpersist(true)
  }
}
