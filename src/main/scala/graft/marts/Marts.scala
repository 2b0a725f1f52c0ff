package graft.marts

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Aggregate marts (SURVEY §2.4) with the reference's exact key semantics.
  *
  * Two different day keys — deliberately copied, not "fixed" (§7.4 risk 5):
  *  - municipality/UF marts key on `coalesce(view_ts::date, file_date)`
  *    (sql/marts/10_focos_diario_municipio.sql:38)
  *  - biome/UC/TI marts key on raw `file_date`
  *    (sql/marts/40_focos_diario_bioma.sql:22)
  *
  * Ratio columns use Decimal arithmetic to match Postgres `numeric`
  * rounding (§7.4 risk 3).
  *
  * Scale: as the reference answers every dashboard aggregate from one
  * count-only cube, every mart here is a rollup of one count frame
  * ([[counts]]), so the enriched facts are read and aggregated once per
  * rebuild and each mart sums that narrow frame. Output tables are
  * written partitioned by day/month with dynamic partition overwrite so
  * re-runs replace exactly one partition (the delete-day-then-insert
  * analog, K2).
  */
object Marts {

  /** `coalesce(view_ts::date, file_date)` — string timestamp cast with
    * null fallback. ANSI off ⇒ to_date yields NULL on parse failure,
    * matching Postgres `::date` + coalesce. */
  val dayKey: Column = coalesce(to_date(col("view_ts")), col("file_date"))

  private def per100km2(n: Column, area: Column): Column =
    round((lit(100) * n.cast(DecimalType(38, 10))) /
      when(area === 0, null).otherwise(area).cast(DecimalType(38, 10)), 4)

  /** The count frame every mart rolls up: enriched rows grouped by both
    * day keys (`file_date`, and [[dayKey]] as `day`), every dimension
    * column the cube keeps, and `mun_area_km2`, with the row count `n`.
    * Rolling a mart up from it is exact: every mart value is a count, a
    * `max` of a label or area, or a ratio of those. */
  def counts(enriched: DataFrame): DataFrame =
    enriched.groupBy(col("file_date"), dayKey.as("day"),
        col("mun_uf"), col("mun_cd_mun"), col("mun_nm_mun"), col("mun_area_km2"),
        col("bioma"), col("cd_bioma"), col("uc_nome"), col("cd_cnuc"),
        col("ti_nome"), col("terrai_cod"))
      .agg(count(lit(1)).as("n"))

  /** Time grain of a mart: the name of its key (and partition) column, and
    * the map from a date to that key. */
  final case class Grain(name: String, of: Column => Column)
  val Daily: Grain = Grain("day", identity)
  val Monthly: Grain = Grain("month", c => date_trunc("month", c).cast("date"))

  /** A1/A2 — municipality marts on the derived day key
    * (10_focos_diario_municipio.sql:28-51, 11_focos_mensal_municipio.sql). */
  def municipio(counts: DataFrame, g: Grain): DataFrame =
    counts.filter(col("mun_cd_mun").isNotNull)
      .groupBy(g.of(col("day")).as(g.name), col("mun_cd_mun"), col("mun_nm_mun"), col("mun_uf"))
      .agg(max("mun_area_km2").as("mun_area_km2"), sum("n").as("n_focos"))
      .withColumn("focos_por_100km2", per100km2(col("n_focos"), col("mun_area_km2")))

  /** A3/J6 — UF marts on the derived day key with the area join
    * (20/21_focos_*_uf.sql:30-43). Inner join: UFs without area drop. */
  def uf(counts: DataFrame, ufArea: DataFrame, g: Grain): DataFrame =
    counts.filter(col("mun_uf").isNotNull)
      .groupBy(g.of(col("day")).as(g.name), col("mun_uf").as("uf"))
      .agg(sum("n").as("n_focos"))
      .join(broadcast(ufArea), "uf")
      .withColumn("focos_por_100km2", per100km2(col("n_focos"), col("uf_area_km2")))

  /** A4–A6 — biome, UC and TI marts: keyed on raw FILE_DATE, labels by
    * `max()` (40/50/60_focos_diario_*.sql:20-30, 41/51/61_*_mensal_*.sql). */
  def keyed(counts: DataFrame, g: Grain, keyCol: String, labelCols: Seq[String]): DataFrame = {
    val aggs = labelCols.map(c => max(c).as(c)) :+ sum("n").cast("int").as("focos")
    counts.filter(col(keyCol).isNotNull)
      .groupBy(g.of(col("file_date")).as(g.name), col(keyCol))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** A7/W3 — period stats + argmax peak day with the DISTINCT ON tiebreak
    * `order by uf, n_focos desc, day` (40_focos_periodo_uf.sql:22-73).
    * One aggregate replaces the reference's stats×peaks join: max_by with a
    * struct tiebreak — no second scan, no join.
    */
  def focosPeriodoUf(dailyUf: DataFrame,
                     start: java.sql.Date, end: java.sql.Date): DataFrame = {
    val base = dailyUf.filter(col("day").between(lit(start), lit(end)))
    base.groupBy("uf").agg(
      max("uf_area_km2").as("uf_area_km2"),
      sum("n_focos").as("n_focos_total"),
      // exact-rational mean, like Postgres numeric avg: sum::decimal / count
      // then half-up round — avg() in DOUBLE can land a hair below an exact
      // .xx5 boundary (e.g. 3/40 = 0.075) and round the last cent down
      round((sum("n_focos").cast(DecimalType(38, 10)) / count(lit(1))).cast(DecimalType(38, 10)), 2)
        .as("n_focos_avg_daily"),
      max("n_focos").as("n_focos_max_daily"),
      // peak day = highest n_focos, earliest day on ties:
      // maximize (n_focos, -epoch(day)) then take its day
      max_by(col("day"), struct(col("n_focos"), to_timestamp(col("day")).cast("long") * -1))
        .as("peak_day"))
      .withColumn("period_start", lit(start)).withColumn("period_end", lit(end))
      .withColumn("focos_por_100km2", per100km2(col("n_focos_total"), col("uf_area_km2")))
  }

  /** W1/W2 — trend view: 7- and 30-day moving averages, ROW-based frames
    * (gaps NOT respected — copied bug-for-bug from
    * 30_focos_diario_uf_trend.sql:21-37). */
  def focosDiarioUfTrend(dailyUf: DataFrame): DataFrame = {
    val w = Window.partitionBy("uf").orderBy("day")
    // exact-rational mean over the frame (same form as focosPeriodoUf):
    // a DOUBLE window avg can land a hair below an exact .xx5 boundary and
    // round the last cent down
    def exactMa(lo: Int): Column = {
      val frame = w.rowsBetween(lo, 0)
      round((sum("n_focos").over(frame).cast(DecimalType(38, 10)) /
        count(lit(1)).over(frame)).cast(DecimalType(38, 10)), 2)
    }
    dailyUf.select(col("day"), col("uf"), col("n_focos"))
      .withColumn("ma7", exactMa(-6))
      .withColumn("ma30", exactMa(-29))
  }

  /** A8 — the serving fact cube `mv_focos_day_dim`
    * (sqlm/marts/canonical/065_mv_focos_day_dim.sql:5-20): counts by day
    * and the 11 dimension columns. Every API aggregate reads this table.
    * `cd_uf` is the UF code the reference denormalizes; the dimensions
    * carry the UF as text, so it repeats `uf`. */
  def cube(counts: DataFrame): DataFrame =
    counts.groupBy(
        col("day"),
        col("mun_uf").as("uf"), col("mun_uf").as("cd_uf"), col("mun_cd_mun").as("cd_mun"),
        col("mun_nm_mun"), col("bioma"), col("cd_bioma"),
        col("uc_nome"), col("cd_cnuc"), col("ti_nome"), col("terrai_cod"))
      .agg(sum("n").as("n_focos"))

  /** [[cube]] straight from enriched rows. */
  def factCube(enriched: DataFrame): DataFrame = cube(counts(enriched))

  /** J7 — geo view: mart rows inner-joined to their web geometry
    * (sql/marts/90_geo_focos_diario_municipio.sql:13-15). The geometry
    * side is a small dimension → broadcast; mart rows without a geometry
    * drop, as in the reference's inner join. */
  def geoFocosDiario(mart: DataFrame, geomDim: DataFrame, key: String): DataFrame =
    mart.join(broadcast(geomDim), key)

  /** A9 — UF area rollup (sql/ref/05_ref_uf_area.sql:10-18). */
  def ufAreaRollup(municipios: DataFrame): DataFrame =
    municipios.groupBy(col("uf"))
      .agg(sum("area_km2").as("uf_area_km2"))

  /** K2 — partition-overwrite write of a mart keyed by `partCol`. */
  def writePartitioned(df: DataFrame, path: String, partCol: String): Unit = {
    df.sparkSession.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    df.write.mode("overwrite").partitionBy(partCol).parquet(path)
  }

  /** Range-sorted write: repartitionByRange + sortWithinPartitions on
    * `sortCols` before writing, so every output file covers a DISJOINT
    * range of the sort key and parquet footer min/max statistics let
    * point/range scans skip whole files (the Z-order-lite of a single-key
    * access pattern — `day`/`cd_mun` lookups in the serve layer). One
    * range exchange at write time buys file-level pruning on every
    * subsequent read.
    */
  def writeSorted(df: DataFrame, path: String, parts: Int,
                  sortCols: Seq[String]): Unit = {
    val cs = sortCols.map(col)
    df.repartitionByRange(parts, cs: _*)
      .sortWithinPartitions(cs: _*)
      .write.mode("overwrite").parquet(path)
  }

  /** Bloom-filtered parquet write: per-column bloom filters in the file
    * footer, for point-lookup row-group skipping on HIGH-CARDINALITY keys
    * (hashes, uuids, event ids) where min/max footer stats cannot prune —
    * every file spans the whole key space, so [[writeSorted]]'s range
    * trick does nothing, but a bloom probe rejects absent keys at the
    * footer. This is the read-side complement of the runtime
    * BloomFilterAggregate in `Blocklist`: that one prunes a JOIN's probe
    * side at execution time, this one prunes the SCAN at storage time.
    *
    * @param ndv expected distinct values per file — sizes the filter
    *            (parquet default caps at 1 MiB/filter when overshot)
    */
  def writeBloom(df: DataFrame, path: String, bloomCols: Seq[String],
                 ndv: Long = 100000L): Unit = {
    val w = bloomCols.foldLeft(df.write.mode("overwrite")) { (wr, c) =>
      wr.option(s"parquet.bloom.filter.enabled#$c", "true")
        .option(s"parquet.bloom.filter.expected.ndv#$c", ndv.toString)
    }
    w.parquet(path)
  }

  /** Small-files compaction: rewrite a parquet dataset into files of
    * ~`targetFileBytes` (by on-disk input size, a good proxy after
    * re-encoding at matching compression). Incremental per-day mart
    * appends accumulate one-file-per-task fragments; scans of a
    * many-small-files table pay per-file open/footer costs and tiny
    * row-groups, so periodic compaction is part of the 100 TB write-path
    * hygiene. Writes to `outPath` (atomic swap is the caller's move —
    * write-new + rename keeps readers consistent, as the reference's
    * delete-day-then-insert does transactionally in Postgres).
    * Returns (input file count, output partition count).
    */
  def compactTo(spark: org.apache.spark.sql.SparkSession, inPath: String,
                outPath: String, targetFileBytes: Long = 128L << 20): (Int, Int) = {
    import org.apache.hadoop.fs.Path
    val p = new Path(inPath)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val rootUri = p.toUri.getPath
    // recursive: partitioned datasets keep data files under key=value
    // subdirs. Skip files under hidden ancestors too (_temporary,
    // .hive-staging…) — spark.read ignores them, so counting their bytes
    // would inflate the file budget with dead data.
    val it = fs.listFiles(p, true)
    val files = Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
      .filter { s =>
        val rel = s.getPath.toUri.getPath.stripPrefix(rootUri).stripPrefix("/")
        s.isFile && rel.split('/').forall(seg =>
          !seg.startsWith("_") && !seg.startsWith("."))
      }.toVector
    val totalBytes = files.map(_.getLen).sum
    // hive-style partition dirs (key=value) must survive the rewrite, or
    // the compacted copy loses directory pruning and per-partition
    // overwrite targeting
    val partCols = files.flatMap(_.getPath.toUri.getPath
        .stripPrefix(rootUri).split('/').dropRight(1)
        .filter(_.contains('=')).map(_.takeWhile(_ != '=')))
      .distinct
    val df = spark.read.parquet(inPath)
    // coalesce, not repartition: shrinking file count must not shuffle.
    // coalesce cannot raise the partition count, so clamp to what the scan
    // yields and report the count actually used.
    val parts = math.min(
      math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt),
      math.max(1, df.rdd.getNumPartitions))
    val writer = df.coalesce(parts).write.mode("overwrite")
    (if (partCols.nonEmpty) writer.partitionBy(partCols: _*) else writer)
      .parquet(outPath)
    (files.length, parts)
  }

  /** Bucketed managed-table write: pre-shuffles once at write time so every
    * later equi-join/aggregation on `bucketCols` between co-bucketed tables
    * runs with NO exchange (sort-merge join straight off the scans — the
    * 100 TB technique for repeated big×big joins, e.g. fact-to-fact
    * event_hash joins, where neither side broadcasts). `sortBy` the same
    * columns so even the merge-sort is free. Requires a table catalog
    * (saveAsTable); plain parquet paths cannot carry bucket metadata.
    */
  def writeBucketed(df: DataFrame, table: String, buckets: Int,
                    bucketCols: Seq[String]): Unit =
    // repartition on the bucket hash FIRST (same Murmur3-pmod as the
    // bucket id), so each task owns exactly one bucket and writes ONE file
    // per bucket — without it every input task writes a sliver of every
    // bucket (tasks × buckets small files, the classic bucketed-write
    // defect at scale). This is the advertised write-time shuffle.
    df.repartition(buckets, bucketCols.map(col): _*)
      .write.mode("overwrite")
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(table)

  /** Z-order (Morton-curve) clustered write: multi-dimensional locality so
    * parquet footer stats prune files for predicates on ANY clustering
    * column — the multi-column complement of [[writeSorted]], which makes
    * one key chain prunable and leaves every other column covering the
    * full range in every file. Each row's clustering values are scaled to
    * `bits`-bit grid cells (one cheap global min/max pass) and their bits
    * interleaved into a single Morton code; a range exchange + in-partition
    * sort on that code gives every output file a contiguous curve segment
    * ≈ a small spatial tile, so per-file min/max of EACH dimension is a
    * fraction of its domain. Pure codegen bit arithmetic — no UDF. The
    * classic layout for bbox-style scans (lon/lat) and (day, key) marts at
    * 100 TB, where no single sort order serves all query dimensions.
    * The oracle-checkable audit twin (integer-exact 2-D Morton + bucket
    * span stats, mirrored in DuckDB SQL) is [[graft.operators.Layout]].
    */
  def writeZOrdered(df: DataFrame, path: String, parts: Int,
                    zCols: Seq[String], bits: Int = 16): Unit = {
    require(bits >= 1 && zCols.nonEmpty && zCols.size * bits <= 63,
      s"need 1..${63 / math.max(1, bits)} columns at $bits (>=1) bits")
    val mins = zCols.map(c => min(col(c).cast("double")).as(s"mn_$c"))
    val maxs = zCols.map(c => max(col(c).cast("double")).as(s"mx_$c"))
    val st = df.agg((mins ++ maxs).head, (mins ++ maxs).tail: _*).head()
    val n = zCols.size
    val top = (1L << bits) - 1
    val cells = zCols.zipWithIndex.map { case (c, i) =>
      // null stats = empty input or an all-null column: no spread to
      // cluster on, degrade to cell 0 instead of an opaque NPE
      if (st.isNullAt(i) || st.isNullAt(n + i)) lit(0L)
      else {
        val (mn, mx) = (st.getDouble(i), st.getDouble(n + i))
        if (mx <= mn) lit(0L)
        else least(lit(top), coalesce(
          floor((col(c).cast("double") - mn) / (mx - mn) * (top + 1)).cast("long"),
          lit(0L)))
      }
    }
    val morton = (0 until bits).flatMap { b =>
      cells.zipWithIndex.map { case (cell, i) =>
        shiftleft(shiftright(cell, b).bitwiseAND(1), b * n + i)
      }
    }.reduce(_.bitwiseOR(_))
    df.withColumn("__z", morton)
      .repartitionByRange(parts, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }
}
