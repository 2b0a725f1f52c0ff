package perfbench

import java.io.File
import java.nio.file.Files
import java.time.LocalDate

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.ingest.Ingest

/** Tests of the benchmark's own logic. `SelfTest --work <dir>` prints one
  * line per test and exits non-zero if any failed. */
object SelfTest {
  private val results = mutable.ArrayBuffer[(String, Option[String])]()

  private def test(name: String)(body: => Unit): Unit = {
    val r = scala.util.Try(body).failed.toOption.map(e => s"${e.getClass.getSimpleName}: ${e.getMessage}")
    results += name -> r
    println(s"${if (r.isEmpty) "PASS" else "FAIL"} $name${r.map(" — " + _).getOrElse("")}")
  }

  private def check(cond: Boolean, what: => String): Unit = if (!cond) throw new AssertionError(what)

  def main(argv: Array[String]): Unit = {
    val work = new File(argv.sliding(2).collectFirst { case Array("--work", w) => w }
      .getOrElse(throw new IllegalArgumentException("missing --work")))
    Frames.deleteTree(work)
    work.mkdirs()

    test("tail percentile leaves at least ten samples beyond it") {
      val xs = (1 to 100).map(_.toDouble).reverse
      check(Stats.tail(xs) == Some(90 -> 90.0), s"n=100: ${Stats.tail(xs)}")
      check(Stats.tail((1 to 1000).map(_.toDouble)) == Some(99 -> 990.0), "n=1000")
      check(Stats.tail((1 to 11).map(_.toDouble)) == Some(9 -> 1.0), s"n=11: ${Stats.tail((1 to 11).map(_.toDouble))}")
      check(Stats.tail((1 to 10).map(_.toDouble)).isEmpty, "n=10 has no such percentile")
      check(Stats.percentile(Seq(3.0, 1.0, 2.0), 50) == 2.0 && Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5, "p50")
    }

    test("self time subtracts the union of child spans, clipped to the parent") {
      val root = Span(1, -1, "invocation", 0, 0, 100)
      val kids = Seq(Span(2, 1, "a", 0, 10, 30), Span(3, 1, "b", 0, 20, 50), Span(4, 1, "c", 0, 90, 120))
      check(Intervals.selfMs(root, kids) == 50.0, s"self ${Intervals.selfMs(root, kids)}")
      check(Intervals.selfMs(root, Nil) == 100.0, "no children")
      val js = Seq(new JobStats(1, 2, 12), new JobStats(2, 2, 25))
      js(0).endMs = 18; js(1).endMs = 28
      check(LayerMetrics.driverMs(kids.head, js) == 11.0, s"driver ${LayerMetrics.driverMs(kids.head, js)}")
    }

    test("open-loop latency runs from the scheduled send, not the start of service") {
      val serviceMs = 100L
      val r = ServeWork.openLoop(IndexedSeq.fill(6)(0), rps = 20, threads = 1,
        call = _ => { Thread.sleep(serviceMs); (None, 0L) }, route = _ => "totals",
        rec = new Recorder(false), graceMs = 5000)
      val byDue = r.samples.sortBy(_.due)
      check(byDue.length == 6 && r.dropped == 0, s"${byDue.length} samples, ${r.dropped} dropped")
      // one worker, a send every 50 ms, 100 ms of service: request i waits
      // for i earlier ones, so its latency from due is about 100 + 50 i
      byDue.zipWithIndex.foreach { case (s, i) =>
        check(s.latencyMs >= serviceMs + 50 * i - 5, f"request $i latency ${s.latencyMs}%.1f ms")
        check(s.end - s.start < serviceMs + 50, f"request $i service ${s.end - s.start}%.1f ms")
      }
      check(r.lateness.max < 20, s"generator lateness ${r.lateness.max}")
    }

    test("a closed-loop batch keeps every worker busy until it drains") {
      val (wallMs, out) = ServeWork.closedLoop(IndexedSeq.fill(8)(0), threads = 2,
        call = _ => { Thread.sleep(50); (None, 1L) })
      // 8 requests of 50 ms on 2 workers: 4 rounds
      check(out.length == 8 && out.map(_.rows).sum == 8, s"${out.length} samples")
      check(wallMs >= 200 && wallMs < 300, f"wall $wallMs%.1f ms")
      check(out.forall(x => x.end - x.start >= 50 && x.end - x.start < 100), "service times")
    }

    test("the same seed gives byte-identical inputs, another seed other inputs") {
      def files(seed: Long, dir: String): Seq[Array[Byte]] =
        PipelineWork.plan("refresh_intraday", seed, new File(work, dir)).take(8)
          .map(i => Files.readAllBytes(i.csv))
      val (a, b, c) = (files(7, "g1"), files(7, "g2"), files(8, "g3"))
      check(a.zip(b).forall { case (x, y) => java.util.Arrays.equals(x, y) }, "same seed, different bytes")
      check(!a.zip(c).forall { case (x, y) => java.util.Arrays.equals(x, y) }, "different seeds, same bytes")
      check(Gen.dims(7) == Gen.dims(7), "dims differ for one seed")
      val d = Gen.dims(7)
      check(d.muns.length == Gen.MunCount && d.muns.map(_.uf).distinct.length == 27, "IBGE-scale municipality layer")
      val s1 = ServeWork.schedule(new scala.util.Random(3), Routes.DeckSize, 5)
      check(s1 == ServeWork.schedule(new scala.util.Random(3), Routes.DeckSize, 5), "serve schedule differs for one seed")
      check(s1.grouped(Routes.DeckSize).forall(_.sorted == (0 until Routes.DeckSize)), "a deck sends every request once")
    }

    test("refresh versions grow in file order and the closed-form counts hold") {
      val invs = PipelineWork.plan("refresh_intraday", 11, new File(work, "v"))
      val day = invs.take(4)
      check(day.map(_.version) == Seq(1, 2, 3, 4) && day.map(_.day).distinct.length == 1, "four versions of one day")
      val lines = day.map(i => new String(Files.readAllBytes(i.csv), "UTF-8").split("\n").toSeq)
      check(lines.sliding(2).forall { case Seq(x, y) => y.startsWith(x) }, "each version extends the previous one")
      val valid = lines.last.tail.count { l =>
        val lat = l.split(";")(0)
        lat != "nan" && math.abs(lat.replace(",", ".").toDouble) <= 90
      }
      check(valid == day.last.expectedAttempted, s"valid rows $valid vs ${day.last.expectedAttempted}")
      check(day.map(_.expectedInserted).sum == day.last.expectedAttempted, "fresh tails add up to the day")
      val dup = day.map(i => i.expectedAttempted - i.expectedInserted).sum.toDouble / day.map(_.expectedAttempted).sum
      check(math.abs(dup - 0.6) < 0.01, s"duplicate share $dup")
    }

    val spark = Main.session(2, new File(work, "spark"))
    try {
      val dims = Gen.dims(5)
      val days = Gen.days(5, LocalDate.of(2024, 1, 1), 3, 33)
      val csv = days.map { case (d, evs) =>
        val p = new File(work, s"sf/$d.csv").toPath
        Gen.writeCsv(p, d, evs)
        d -> p
      }.toMap
      def invocation(d: LocalDate, evs: Seq[Gen.Event]) = {
        val v = Gen.validCount(evs.map(_.id))
        Invocation(d, 1, csv(d), 0, evs.length, v, v)
      }
      val backfilled = new File(work, "backfill")
      lazy val done = PipelineWork.pipeline(spark, backfilled, dims)
        .backfill(days.head._1, days.last._1, d => Ingest.readCsv(spark, csv(d).toString))
      def rows(root: File, t: String, where: Option[LocalDate] = None): Seq[String] = {
        val df = spark.read.parquet(new File(root, t).getPath)
        where.fold(df)(d => df.filter(org.apache.spark.sql.functions.col("day") === java.sql.Date.valueOf(d)))
          .collect().map(_.toString).sorted.toSeq
      }

      test("the traced decomposition leaves the same store as Pipeline.backfill") {
        val a = new File(work, "decomposed")
        val pa = PipelineWork.pipeline(spark, a, dims)
        val rec = new Recorder(true)
        days.zipWithIndex.foreach { case ((d, evs), i) => PipelineWork.invoke(spark, pa, invocation(d, evs), rec, i) }
        check(done == days.map(_._1), s"backfill ran $done")
        def tables(root: File): Seq[String] =
          Seq("curated", "enriched") ++ new File(root, "marts").list().sorted.map("marts/" + _)
        check(tables(a) == tables(backfilled), s"tables ${tables(a)} vs ${tables(backfilled)}")
        tables(a).foreach { t =>
          check(rows(a, t) == rows(backfilled, t), s"$t differs")
          check(rows(a, t).nonEmpty, s"$t is empty")
        }
        def state(root: File) = new String(Files.readAllBytes(new File(root, "backfill_state.json").toPath), "UTF-8")
        check(state(a) == state(backfilled), "state files differ")
        val names = rec.all.filter(_.inv == 0).map(_.name).toSet
        check(names == Set("invocation") ++ PipelineRun.InvocationLayers, s"spans $names")
        LayerMetrics.reconcile(rec.all, "invocation", PipelineRun.InvocationLayers).foreach { case (_, w, u) =>
          check(u >= 0 && u <= math.max(PipelineRun.ReconcileTolerance * w, 0.025), s"unattributed $u of $w s")
        }
      }

      test("a bulk-loaded prefix and one daily run leave the rows the daily runs leave") {
        val c = new File(work, "bulk")
        val prefix = new File(work, "sf-prefix/prefix.csv")
        Gen.writeDaysCsv(prefix.toPath, days.init)
        val loaded = PipelineWork.bulkLoad(spark, c, dims, prefix)
        check(loaded == days.init.map(d => Gen.validCount(d._2.map(_.id))).sum, s"bulk load of $loaded rows")
        val (last, evs) = days.last
        PipelineWork.invoke(spark, PipelineWork.pipeline(spark, c, dims), invocation(last, evs), new Recorder(false), 0)
        check(done == days.map(_._1), s"backfill ran $done")
        // the month marts are rebuilt from every fact of the month; the
        // daily marts and the cube of the bulk-loaded days are not written
        val marts = new File(c, "marts").list().sorted.filterNot(_.endsWith("_trend")).map("marts/" + _)
        check(marts.length == 11, s"marts ${marts.mkString(", ")}")
        (Seq("curated", "enriched") ++ marts).foreach { t =>
          val day = if (t.contains("mensal")) None else Some(last).filter(_ => t.startsWith("marts/"))
          check(rows(c, t) == rows(backfilled, t, day), s"$t differs")
          check(rows(c, t).nonEmpty, s"$t is empty")
        }
      }
    } finally spark.stop()
    Frames.deleteTree(work)
    val failed = results.count(_._2.nonEmpty)
    println(s"${results.length - failed}/${results.length} passed")
    sys.exit(if (failed == 0) 0 else 1)
  }
}
