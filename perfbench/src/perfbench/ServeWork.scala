package perfbench

import java.io.File
import java.time.LocalDate
import java.util.concurrent.{ConcurrentLinkedQueue, LinkedBlockingQueue, ThreadPoolExecutor, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.Ingest
import graft.marts.Marts

/** EP3: open- and closed-loop dashboard traffic over the twelve `Serve`
  * routes. */
object ServeWork {
  /** The p99 limit a ladder rung must meet. Well above the slowest route's
    * unloaded service time (about 0.6 s for `validate` on the 4-core
    * reference host), so only queueing makes a rung miss it. */
  val LimitMs = 2500.0
  /** The offered rate `serve_p50_ms` is read at: under two fifths of the
    * reference host's closed-loop capacity (about 7-8 rps), so latency there
    * is mostly service time, not queueing. An untraced run sends at it for
    * two thirds of its seconds, in whole decks (two at 20 s). */
  val ReferenceRps = 3.0
  /** Fixed ladder for `serve_max_rps`, steps of about 10%. */
  val Ladder: IndexedSeq[Double] =
    IndexedSeq(1.0, 1.5, 2.0, 2.5, 3.0, 3.5, 4.0, 4.5, 5.0, 5.5, 6.0, 6.5, 7.0, 7.5, 8.0, 9.0, 10.0, 11.0,
      12.0, 13.0, 14.0, 16.0, 18.0, 20.0, 22.0, 24.0, 27.0, 30.0, 33.0, 36.0, 40.0, 44.0, 48.0)
  /** Decks in the closed-loop batch that `wall_s`, `rows_per_s`,
    * `run_p50_s` and `run_tail_s` (p75 of 40 service times, inside the
    * deck's middle cluster of routes) are read from. */
  val BatchDecks = 2
  /** Seconds each ladder probe sends for. */
  val ProbeSeconds = 2.5
  val YearFirst: LocalDate = LocalDate.of(2023, 1, 1)
  val YearPerDay = 1000

  final case class Sample(due: Double, start: Double, end: Double, error: Option[String], rows: Long) {
    def latencyMs: Double = end - due
  }

  final case class Rung(rps: Double, samples: Seq[Sample], lateness: Seq[Double], dropped: Int,
                        backlogGrew: Boolean) {
    def p(q: Double): Double = Stats.percentile(samples.map(_.latencyMs), q)
    def passes: Boolean =
      dropped == 0 && !backlogGrew && samples.nonEmpty && samples.forall(_.error.isEmpty) && p(99) <= LimitMs
  }

  // ------------------------------------------------------------- the store

  /** Builds the one-year serving store under `root` with the engine's own
    * functions and returns the bytes of its CSV input. The year's
    * INPE-shaped CSV (about 1,000 events a day, the floor of the daily
    * feed's O(10^3-10^5) rows) is ingested once, each row's file_date set
    * to its own day (one ingest rather than 365 daily runs keeps set-up
    * short), then enriched with municipality and biome/UC/TI site by site,
    * and the enriched facts and the fact cube are written with the serve
    * layer's range-sorted writer. */
  def buildYearStore(spark: SparkSession, seed: Long, dims: Gen.Dims, root: File): Long =
    PipelineWork.spreadOut(spark) {
      val csv = new File(root, "in/year.csv").toPath
      val csvBytes = Gen.writeDaysCsv(csv, Gen.days(seed ^ 0x9E3779B97F4A7C15L, YearFirst, 365, YearPerDay))
      val records = Ingest.transform(Ingest.readCsv(spark, csv.toString), java.sql.Date.valueOf(YearFirst))
        .withColumn("file_date", to_date(col("view_ts"))).cache()
      val enriched = PipelineWork.enrichBySite(spark, records, dims).cache()
      try {
        val wh = new File(root, "warehouse")
        val parts = spark.sparkContext.defaultParallelism
        Marts.writeSorted(enriched, new File(wh, "enriched").getPath, parts, Seq("file_date"))
        Marts.writeSorted(Marts.factCube(enriched.withColumn("cd_uf", col("mun_uf"))),
          new File(wh, "marts/mv_focos_day_dim").getPath, parts, Seq("day"))
      } finally { enriched.unpersist(); records.unpersist() }
      csvBytes
    }

  /** Opens the store under `root` (see [[buildYearStore]]), writes the
    * serving geometries beside its warehouse (they are the benchmark's
    * input, not the engine's output), and collects the plain-Scala copies
    * the oracle answers from. */
  def openStore(spark: SparkSession, root: File, dims: Gen.Dims): ServeStore = {
    val wh = new File(root, "warehouse")
    def geoms(name: String, df: DataFrame): DataFrame = {
      val p = new File(root, s"geoms/$name").getPath
      df.write.mode("overwrite").parquet(p)
      spark.read.parquet(p)
    }
    val cube = spark.read.parquet(new File(wh, "marts/mv_focos_day_dim").getPath)
    val facts = spark.read.parquet(new File(wh, "enriched").getPath)
    def s(r: org.apache.spark.sql.Row, c: String): String = Option(r.getAs[Any](c)).map(_.toString).orNull
    val cubeRows = cube.collect().map(r => CubeRow(r.getAs[java.sql.Date]("day").toLocalDate, s(r, "uf"),
      s(r, "cd_mun"), s(r, "mun_nm_mun"), s(r, "bioma"), s(r, "cd_bioma"), s(r, "uc_nome"), s(r, "cd_cnuc"),
      s(r, "ti_nome"), s(r, "terrai_cod"), r.getAs[Long]("n_focos"))).toIndexedSeq
    val factRows = facts.select("file_date", "event_hash", "lon", "lat").collect().map(r =>
      FactRow(r.getDate(0).toLocalDate, r.getString(1), r.getDouble(2), r.getDouble(3))).toIndexedSeq
    ServeStore(cube, facts,
      geoms("uf", Frames.ufGeoms(spark, dims)),
      geoms("mun", Frames.keyedGeoms(spark, dims.muns.map(m => (m.cd, m.uf, m.geom)))),
      geoms("uc", Frames.keyedGeoms(spark, dims.ucs.map(a => (a.code, "", a.geom)))),
      geoms("ti", Frames.keyedGeoms(spark, dims.tis.map(a => (a.code, "", a.geom)))),
      cubeRows, factRows, dims)
  }

  // ------------------------------------------------------------- open loop

  /** The request schedule of `decks` decks: which entry of the deck
    * ([[Routes.pool]]) each send uses. Each deck sends all of them, in a
    * seeded order. */
  def schedule(rnd: Random, deckSize: Int, decks: Int): IndexedSeq[Int] =
    (1 to decks).flatMap(_ => rnd.shuffle((0 until deckSize).toIndexedSeq))

  /** Sends one request per entry of `order` at `rps`, each due at a fixed
    * interval after the start whether or not earlier ones finished, on
    * `threads` workers. Latency runs from a request's due time to its
    * response, so a stall also charges the requests queued behind it.
    * Requests still queued `graceMs` after the last send are dropped and
    * the rung fails. `call` returns the request's error, if any, and the
    * rows it read. */
  def openLoop(order: IndexedSeq[Int], rps: Double, threads: Int, call: Int => (Option[String], Long),
               route: Int => String, rec: Recorder, graceMs: Double = LimitMs): Rung = {
    val queue = new LinkedBlockingQueue[Runnable]()
    val exec = new ThreadPoolExecutor(threads, threads, 0L, TimeUnit.MILLISECONDS, queue,
      (r: Runnable) => { val t = new Thread(r, "perfbench-serve"); t.setDaemon(true); t })
    val samples = new ConcurrentLinkedQueue[Sample]()
    val done = new AtomicInteger(0)
    val lateness = new Array[Double](order.length)
    val backlog = new Array[Int](order.length)
    val t0 = Clock.nowMs + 20
    var dropped = 0
    try {
      order.indices.foreach { i =>
        val due = t0 + i * 1000.0 / rps
        var now = Clock.nowMs
        while (now < due) {
          if (due - now > 2) Thread.sleep((due - now - 1).toLong) else Thread.onSpinWait()
          now = Clock.nowMs
        }
        lateness(i) = now - due
        backlog(i) = i - done.get
        val id = order(i)
        exec.execute(() => {
          val start = Clock.nowMs
          val (err, rows) = rec.span(s"serve.${route(id)}", i)(call(id))
          samples.add(Sample(due, start, Clock.nowMs, err, rows))
          done.incrementAndGet()
        })
      }
      val lastDue = t0 + (order.length - 1) * 1000.0 / rps
      exec.shutdown()
      exec.awaitTermination(math.max(1L, (lastDue + graceMs - Clock.nowMs).toLong), TimeUnit.MILLISECONDS)
    } finally {
      // queued requests are dropped; running ones finish (interrupting a
      // thread inside a Spark action would fail the job, not the request)
      dropped = queue.drainTo(new java.util.ArrayList[Runnable]())
      exec.shutdown()
      exec.awaitTermination(120, TimeUnit.SECONDS)
    }
    val q = order.length / 4
    val grew = q > 0 && Stats.median(backlog.takeRight(q).map(_.toDouble).toSeq) >
      Stats.median(backlog.take(q).map(_.toDouble).toSeq) + threads
    Rung(rps, samples.asScala.toSeq, lateness.toSeq, dropped, grew)
  }

  /** Sends every entry of `order` at once through `threads` workers, each
    * taking the next request as soon as it is free: a closed loop, whose
    * wall time is how fast the routes drain a fixed batch. Returns the wall
    * time in ms and one sample per request, due when it started. */
  def closedLoop(order: IndexedSeq[Int], threads: Int,
                 call: Int => (Option[String], Long)): (Double, Seq[Sample]) = {
    val exec = java.util.concurrent.Executors.newFixedThreadPool(threads,
      (r: Runnable) => { val t = new Thread(r, "perfbench-batch"); t.setDaemon(true); t })
    try {
      val t0 = Clock.nowMs
      val futures = order.map(id => exec.submit(() => {
        val start = Clock.nowMs
        val (err, rows) = call(id)
        Sample(start, start, Clock.nowMs, err, rows)
      }))
      val out = futures.map(_.get())
      (Clock.nowMs - t0, out)
    } finally {
      exec.shutdown()
      exec.awaitTermination(120, TimeUnit.SECONDS)
    }
  }

  // ------------------------------------------------------------- workload

  def run(spark: SparkSession, a: Main.Args, sessionS: Double, listener: Option[JobListener]): Report = {
    val setupT0 = System.nanoTime()
    val marks = mutable.ArrayBuffer[(String, Long)]("start" -> setupT0)
    def mark(what: String): Unit = marks += what -> System.nanoTime()
    val dims = Gen.dims(a.seed)
    mark("dims")
    val root = new File(a.work, "serve")
    val csvBytes = buildYearStore(spark, a.seed, dims, root)
    mark("store")
    val store = openStore(spark, root, dims)
    mark("open")
    val rnd = new Random(a.seed)
    val pool = Routes.pool(rnd, store)
    val expected = pool.map(Routes.expect(_, store))
    val rowsRead = pool.map(Routes.rowsRead(_, store))
    mark("oracle")
    val rec = new Recorder(false)
    def call(i: Int): (Option[String], Long) =
      scala.util.Try(Routes.call(pool(i), store)) match {
        case scala.util.Success(got) if got == expected(i) => (None, rowsRead(i))
        case scala.util.Success(got) =>
          (Some(s"wrong answer to ${pool(i)}: got ${got.take(300)}, expected ${expected(i).take(300)}"), 0L)
        case scala.util.Failure(e) => (Some(s"${pool(i)} threw $e"), 0L)
      }
    // warm-up: one deck, closed loop; untimed, but checked
    val cpus = spark.sparkContext.defaultParallelism
    val (warmMs, warmOut) = closedLoop(schedule(rnd, pool.length, 1), cpus, call)
    val warm = warmOut.flatMap(_.error)
    mark("warm-up")
    val setupS = sessionS + (System.nanoTime() - setupT0) / 1e9

    val gc0 = Main.gcSeconds()
    Main.resetHeapPeaks()
    val t0 = System.nanoTime()
    def rung(rps: Double, n: Int): Rung =
      openLoop(schedule(rnd, pool.length, (n + pool.length - 1) / pool.length).take(n), rps, cpus, call,
        pool(_).route, rec)
    def decksIn(seconds: Double) = math.max(1, math.round(ReferenceRps * seconds / Routes.DeckSize).toInt)
    val rungs = mutable.ArrayBuffer[Rung]()
    // An untraced run sends two thirds of the run at the reference rate, in
    // whole decks, then the closed-loop batch. A traced run first bisects the
    // ladder with probes of ProbeSeconds, for 40% of the run, between the
    // reference rate and 1.5x the closed-loop warm-up's throughput, that
    // bound taken to fail; then it sends the reference rung twice, one deck
    // untraced (listener detached, spans off) and 40% of the run traced:
    // the difference between their median service times is the tracing
    // overhead.
    var lo = Ladder.indexOf(ReferenceRps)
    val plain = if (!a.trace) None else {
      val probes = math.max(1, math.round(a.seconds * 0.4 / ProbeSeconds).toInt)
      val estimate = warmOut.length * 1000.0 / math.max(1.0, warmMs)
      var hi = Ladder.indexWhere(_ >= 1.5 * estimate) match { case -1 => Ladder.length; case i => i + 1 }
      while (rungs.length < probes && hi - lo > 1) {
        val mid = (lo + hi) / 2
        val r = rung(Ladder(mid), math.round(Ladder(mid) * ProbeSeconds).toInt)
        rungs += r
        if (r.passes) lo = mid else hi = mid
      }
      Some(rung(ReferenceRps, Routes.DeckSize))
    }
    listener.foreach(spark.sparkContext.addSparkListener)
    rec.enabled = a.trace
    val ref = rung(ReferenceRps, Routes.DeckSize * decksIn(a.seconds * (if (a.trace) 0.4 else 2.0 / 3)))
    rungs ++= plain.toSeq :+ ref
    // wall_s, rows_per_s and the service times (untraced runs): a fixed
    // batch of whole decks, sent closed loop through the workers as fast as
    // they drain it
    val batch = if (a.trace) None else Some(closedLoop(schedule(rnd, pool.length, BatchDecks), cpus, call))
    val phaseS = (System.nanoTime() - t0) / 1e9
    val maxRps = if (ref.passes) Ladder(lo) else 0.0
    val gcS = Main.gcSeconds() - gc0
    val heapMb = Main.heapPeakMb()

    val all = rungs.flatMap(_.samples).toSeq
    val batchOut = batch.map(_._2).getOrElse(Nil)
    val failures = warm ++ all.flatMap(_.error) ++ batchOut.flatMap(_.error)
    val lat = ref.samples.map(_.latencyMs)
    val service = batchOut.map(x => x.end - x.start)
    val tail = Stats.tail(service)
    val notes = mutable.ArrayBuffer[String](
      f"set-up: session $sessionS%.2f s, " + marks.zip(marks.tail).map { case ((_, t0), (w, t1)) =>
        f"$w ${(t1 - t0) / 1e9}%.2f s" }.mkString(", "),
      f"workload serve_mix seed ${a.seed}: store of ${store.cubeRows.length} cube rows, " +
        f"${store.factRows.length} facts; ${all.length + batchOut.length} requests in $phaseS%.3f s",
      f"reference rung $ReferenceRps%.1f rps: ${lat.length} requests, generator lateness " +
        f"p50 ${Stats.median(ref.lateness)}%.2f ms, max ${ref.lateness.max}%.2f ms") ++
      batch.map { case (ms, out) => f"closed-loop batch: ${out.length} requests in ${ms / 1000}%.3f s; " +
        tail.map { case (pct, v) => f"run_tail_s is p$pct of their service times ($v%.1f ms)" }
          .getOrElse("run_tail_s is the maximum of their service times (fewer than 11)") } ++
      rungs.map(r => f"rung ${r.rps}%5.1f rps: n=${r.samples.length} p50=${r.p(50)}%.1f ms " +
        f"p99=${r.p(99)}%.1f ms dropped=${r.dropped} backlog_grew=${r.backlogGrew} passes=${r.passes}")
    failures.take(5).foreach(f => notes += s"FAILED: $f")

    val attempted = (all.length + warmOut.length + batchOut.length).toLong
    val m = mutable.LinkedHashMap[String, Double]()
    if (!a.trace) {
      m("setup_s") = setupS
      val batchS = batch.get._1 / 1000
      m("wall_s") = batchS
      // one operation's time: a batch request's service, from its start to
      // its response, with the other workers busy (serve_p50_ms below is
      // the latency at the reference rate, from the scheduled send)
      m("run_p50_s") = Stats.median(service) / 1000
      m("run_tail_s") = tail.map(_._2).getOrElse(service.max) / 1000
      m("rows_per_s") = batchOut.map(_.rows).sum / batchS
      m("store_bytes_per_input_byte") = Frames.bytesUnder(new File(root, "warehouse")).toDouble / csvBytes
      m("serve_p50_ms") = Stats.median(lat)
    } else {
      listener.foreach(_ => org.apache.spark.graftbridge.ListenerBridge.flush(spark.sparkContext))
      val bySpan = LayerMetrics.jobsBySpan(listener.map(_.all).getOrElse(Nil))
      val spans = rec.all
      Routes.Names.foreach { r =>
        val ss = spans.filter(_.name == s"serve.$r")
        def med(f: Span => Double) = if (ss.isEmpty) 0.0 else Stats.median(ss.map(f))
        m(s"serve.$r.p50_ms") = med(_.wallMs)
        m(s"serve.$r.jobs") = med(s => bySpan.getOrElse(s.id, Nil).length.toDouble)
        m(s"serve.$r.task_s") = med(s => bySpan.getOrElse(s.id, Nil).map(_.runMs).sum / 1000.0)
      }
      m("serve_p99_ms") = Stats.percentile(lat, 99)
      m("serve_max_rps") = maxRps
      m("jvm.gc_s") = gcS
      m("jvm.heap_peak_mb") = heapMb
      m("failed_frac") = failures.length.toDouble / attempted
      def service(r: Rung) = Stats.median(r.samples.map(s => s.end - s.start)) / 1000
      m("trace.overhead_s") = plain.map(p => service(ref) - service(p)).getOrElse(0.0)
    }
    Report(attempted, failures.length.toLong, m.toMap, notes.toSeq, a.trace)
  }
}
