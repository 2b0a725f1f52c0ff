package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Product-path benchmark entry point.
  *
  * {{{
  * Main --workload <backfill_month|refresh_intraday|serve_mix> --seed <n>
  *      --seconds <s> --trace <0|1> --work <dir>
  * }}}
  *
  * The last line of stdout is one JSON object: `correct`, `attempted`,
  * `failed` and `metrics` — the end-to-end metrics untraced, the per-layer
  * metrics traced. Exits non-zero when any operation failed.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: File)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") match { case "0" => false; case "1" => true
                            case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t") },
      new File(need("work")))
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}; one of ${Workloads.mkString(", ")}")
    require(a.seconds >= 1, "--seconds must be >= 1")
    a
  }

  val Workloads = Seq("backfill_month", "refresh_intraday", "serve_mix")

  /** Fixed pure-JVM work, timed: a host canary. On this benchmark's
    * reference 4-core host it takes about 0.15 s; a run whose probes read
    * far above that, or disagree with each other, ran in a degraded window. */
  def hostProbe(): Double = {
    val t0 = System.nanoTime()
    var h = 1125899906842597L
    var i = 0
    while (i < 150000000) { h = h * 31 + i; i += 1 }
    if (h == 42L) System.err.println("host-probe collision")
    (System.nanoTime() - t0) / 1e9
  }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0

  def resetHeapPeaks(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())

  def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  def session(cpus: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "spark-warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    SparkEntry.configure(s)
  }

  def main(argv: Array[String]): Unit = {
    val a = try parse(argv) catch {
      case e: IllegalArgumentException => System.err.println(e.getMessage); sys.exit(2)
    }
    val report = run(a)
    System.err.println(report.detail)
    println(report.json)
    sys.exit(if (report.failed == 0) 0 else 1)
  }

  def run(a: Args): Report = {
    Frames.deleteTree(a.work)
    a.work.mkdirs()
    val probeStart = hostProbe()
    val setupT0 = System.nanoTime()
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = session(cpus, a.work)
    val sessionS = (System.nanoTime() - setupT0) / 1e9
    // workloads attach the listener for the parts they trace
    val listener = if (a.trace) Some(new JobListener) else None
    try {
      val r =
        if (a.workload == "serve_mix") ServeWork.run(spark, a, sessionS, listener)
        else PipelineRun.run(spark, a, sessionS, listener)
      val probeEnd = hostProbe()
      r.withProbes(probeStart, probeEnd)
    } finally {
      spark.stop()
      Frames.deleteTree(a.work)
    }
  }
}

/** A run's outcome: metric name -> value, the counts of operations
  * attempted and failed, and a human-readable detail block for stderr. An
  * untraced run reports every end-to-end metric; a traced run every
  * per-layer metric, 0 for the layers its workload does not run. */
final case class Report(attempted: Long, failed: Long, values: Map[String, Double],
                        notes: Seq[String], trace: Boolean) {
  def withProbes(start: Double, end: Double): Report = {
    val degraded = math.max(start, end) > 0.4 || math.max(start, end) > 1.5 * math.min(start, end)
    val n = f"host probe start $start%.3f s, end $end%.3f s${if (degraded) " - DEGRADED window" else ""}"
    copy(values = if (trace) values + ("host.probe_s" -> (start + end) / 2) else values, notes = notes :+ n)
  }

  def metrics: Seq[(String, Double, String)] =
    if (trace) Metrics.PerLayer.map { case (k, u) => (k, values.getOrElse(k, 0.0), u) }
    else Metrics.EndToEnd.map { case (k, u) =>
      (k, values.getOrElse(k, throw new IllegalStateException(s"end-to-end metric $k not measured")), u)
    }

  def json: String = {
    val body = metrics.map { case (k, v, u) =>
      require(!v.isNaN && !v.isInfinite, s"metric $k is $v")
      s""""$k": {"value": ${BigDecimal(v).bigDecimal.toPlainString}, "unit": "$u"}"""
    }.mkString(", ")
    s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$body}}"""
  }

  def detail: String = (notes ++ metrics.map { case (k, v, u) => f"  $k%-48s $v%16.6f $u" }).mkString("\n")
}
