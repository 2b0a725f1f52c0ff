package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Set-up, timed phase and metrics of the two pipeline workloads. */
object PipelineRun {
  /** Layer spans of one invocation, in call order. */
  val InvocationLayers = Seq("ingest.read", "load", "marts", "check", "state")
  /** Every pipeline layer with per-layer metrics. */
  val Layers = Seq("ingest.read", "ingest.transform", "enrich", "load", "marts", "check", "state")
  /** Span time no layer covers may be at most this share of an invocation's
    * wall time, or 25 ms, whichever is larger. */
  val ReconcileTolerance = 0.02
  /** Seconds of one invocation on the 4-core reference host: the timed
    * phase runs the fixed number of invocations that fill `--seconds` there
    * (the first ones of the month, in order), so a faster engine shows as a
    * shorter wall time. */
  val ReferenceInvocationS = Map("backfill_month" -> 9.0, "refresh_intraday" -> 5.0)

  def invocations(workload: String, seconds: Int): Int =
    math.max(2, math.round(seconds / ReferenceInvocationS(workload)).toInt)

  def run(spark: SparkSession, a: Main.Args, sessionS: Double, listener: Option[JobListener]): Report = {
    val setupT0 = System.nanoTime()
    def since(t: Long) = (System.nanoTime() - t) / 1e9
    // input generation (dimensions and CSVs) is repeated and its median
    // kept: the part of set-up that can be redone within one process
    val n = invocations(a.workload, a.seconds)
    val backfill = a.workload == "backfill_month"
    val gens = (1 to 3).map { k =>
      val t = System.nanoTime()
      val dir = new File(a.work, s"in$k")
      val dims = Gen.dims(a.seed)
      val invs = PipelineWork.plan(a.workload, a.seed, dir, n)
      val prefix = if (backfill) Some(PipelineWork.prefix(a.seed, dir, n)) else None
      (since(t), dims, invs, prefix)
    }
    val (_, dims, invs, prefix) = gens.last
    // warm-up on a throwaway warehouse, on a small day of the same shape:
    // the first invocation of a JVM pays code generation that a long-running
    // loader pays once (a full-size warm-up day measured no faster after it)
    val tWarm = System.nanoTime()
    val warmDay = Gen.days(a.seed + 1, PipelineWork.First, 1, 400).head
    val warmCsv = new File(a.work, "warm-in/day.csv").toPath
    val warmValid = Gen.validCount(warmDay._2.map(_.id))
    val warmRoot = new File(a.work, "warm")
    PipelineWork.invoke(spark, PipelineWork.pipeline(spark, warmRoot, dims),
      Invocation(warmDay._1, 1, warmCsv, Gen.writeCsv(warmCsv, warmDay._1, warmDay._2), warmDay._2.length,
        warmValid, warmValid), new Recorder(false), -1)
    Frames.deleteTree(warmRoot)
    val warmS = since(tWarm)
    // backfill_month meets a warehouse holding the month so far, so its
    // marts rebuild month partitions of ~30 days of facts: the earlier days
    // are loaded in one bulk ingest + enrich
    val root = new File(a.work, "warehouse")
    val tBulk = System.nanoTime()
    val prefixRows = prefix.map(PipelineWork.bulkLoad(spark, root, dims, _)).getOrElse(0L)
    val bulkS = since(tBulk)
    val genS = gens.map(_._1)
    val setupS = sessionS + Stats.median(genS) + since(setupT0) - genS.sum

    val p = PipelineWork.pipeline(spark, root, dims)
    val bytes0 = Frames.bytesUnder(root)
    val rec = new Recorder(a.trace)
    listener.foreach(spark.sparkContext.addSparkListener)
    lazy val dimFrames =
      (Frames.municipios(spark, dims), Frames.biomas(spark, dims), Frames.ucs(spark, dims), Frames.tis(spark, dims))
    val results = mutable.ArrayBuffer[InvocationResult]()
    val filesBySpan = mutable.Map[Int, Long]().withDefaultValue(0L)
    val gc0 = Main.gcSeconds()
    Main.resetHeapPeaks()
    val t0 = System.nanoTime()
    invs.zipWithIndex.foreach { case (inv, i) =>
      if (a.trace) {
        val (muns, biomas, ucs, tis) = dimFrames
        PipelineWork.isolatedLayers(spark, p, inv, muns, biomas, ucs, tis, rec, i)
      }
      val s = System.nanoTime()
      val out = scala.util.Try(PipelineWork.invoke(spark, p, inv, rec, i))
      results += InvocationResult(inv, (System.nanoTime() - s) / 1e9, out.map(_._1).getOrElse(0L),
        out.map(_._2).getOrElse(0L), out.failed.toOption.map(_.toString))
      if (a.trace) attributeFiles(root, rec.all.filter(_.inv == i), filesBySpan)
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    // tracing overhead: the last day's checkDay — read-only, so repeatable —
    // run three times traced and three times untraced (listener detached,
    // spans off), alternating
    val overheadS = listener.map { l =>
      val day = invs.last.day
      val walls = (1 to 6).map { k =>
        val traced = k % 2 == 0
        if (traced) spark.sparkContext.addSparkListener(l) else spark.sparkContext.removeSparkListener(l)
        val s = System.nanoTime()
        p.checkDay(day)
        traced -> (System.nanoTime() - s) / 1e9
      }
      def med(t: Boolean) = Stats.median(walls.filter(_._1 == t).map(_._2))
      med(true) - med(false)
    }
    val gcS = Main.gcSeconds() - gc0
    val heapMb = Main.heapPeakMb()

    // a traced invocation whose layer spans leave more than the tolerance of
    // its wall unattributed fails: its layer figures do not add up to it
    val rc = if (a.trace) LayerMetrics.reconcile(rec.all, "invocation", InvocationLayers) else Nil
    def reconciled(w: Double, u: Double) = math.abs(u) <= math.max(ReconcileTolerance * w, 0.025)
    val failures = results.zipWithIndex.flatMap { case (r, i) =>
      r.failure.orElse(rc.collectFirst { case (`i`, w, u) if !reconciled(w, u) =>
        f"invocation $i: its layer spans leave $u%.3f s of its $w%.3f s unattributed" })
    }.toSeq
    val attempted = results.map(_.attempted).sum
    val inserted = results.map(_.inserted).sum
    val walls = results.map(_.wallS).toSeq
    val tail = Stats.tail(walls)
    val notes = mutable.ArrayBuffer[String](
      f"set-up: session $sessionS%.2f s, generation ${genS.map(g => f"$g%.2f").mkString("/")} s, " +
        f"bulk load of $prefixRows rows $bulkS%.2f s, warm-up $warmS%.2f s",
      f"workload ${a.workload} seed ${a.seed}: ${results.length} invocations in $wallS%.3f s",
      s"invocation walls (s): ${results.map(r => f"${r.wallS}%.3f").mkString(" ")}",
      f"duplicate share of parsed rows: ${1 - inserted.toDouble / math.max(1L, attempted)}%.4f",
      tail match {
        case Some((pct, _)) => s"run_tail_s is p$pct of ${walls.length} invocations"
        case None => s"run_tail_s is the maximum of ${walls.length} invocations (fewer than 11)"
      })
    failures.foreach(f => notes += s"FAILED: $f")

    val m = mutable.LinkedHashMap[String, Double]()
    if (!a.trace) {
      m("setup_s") = setupS
      m("wall_s") = wallS
      m("run_p50_s") = Stats.median(walls)
      m("run_tail_s") = tail.map(_._2).getOrElse(walls.max)
      m("rows_per_s") = results.map(_.inv.csvRows).sum / wallS
      // what the timed invocations added to the warehouse (the prefix is
      // the benchmark's own bulk write)
      m("store_bytes_per_input_byte") = (Frames.bytesUnder(root) - bytes0).toDouble / results.map(_.inv.csvBytes).sum
      // no dashboard requests here: serve_p50_ms is run_p50_s in ms, the
      // dashboard's freshness (a file's arrival to its rows being servable),
      // not a separate signal
      m("serve_p50_ms") = Stats.median(walls) * 1000
    } else {
      listener.foreach(_ => org.apache.spark.graftbridge.ListenerBridge.flush(spark.sparkContext))
      val spans = rec.all
      val jobs = listener.map(_.all).getOrElse(Nil)
      m ++= LayerMetrics.spanMetrics(spans, jobs, Layers, filesBySpan.toMap)
      m("ingest.inserted_frac") = inserted.toDouble / math.max(1L, attempted)
      m("marts.rows_written_per_inserted_row") =
        LayerMetrics.rowsWritten(spans.filter(_.name == "marts"), jobs).toDouble / math.max(1L, inserted)
      m("invocation.unattributed_s") = Stats.median(rc.map(_._3))
      m("trace.overhead_s") = overheadS.getOrElse(0.0)
      m("failed_frac") = failures.length.toDouble / math.max(1, results.length)
      m("jvm.gc_s") = gcS
      m("jvm.heap_peak_mb") = heapMb
      val worst = rc.map { case (_, w, u) => math.abs(u) / w }.max
      val bad = rc.count { case (_, w, u) => !reconciled(w, u) }
      notes += f"reconciliation: worst unattributed share ${worst * 100}%.3f%% of invocation wall " +
        f"(tolerance ${ReconcileTolerance * 100}%.0f%% or 25 ms)" +
        (if (bad > 0) s" - FAILED on $bad invocations" else " - all within")
    }
    Report(results.length.toLong, failures.length.toLong, m.toMap, notes.toSeq, a.trace)
  }

  /** Counts the data files under `root` modified within each span's window. */
  private def attributeFiles(root: File, spans: Seq[Span], acc: mutable.Map[Int, Long]): Unit = {
    val mtimes = Frames.mtimesUnder(root)
    spans.filter(_.name != "invocation").foreach { s =>
      acc(s.id) += mtimes.count(t => t >= math.floor(s.startMs) && t <= math.ceil(s.endMs))
    }
  }
}
