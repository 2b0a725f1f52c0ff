package perfbench

/** Per-layer metrics from the recorded spans and the listener's jobs. A
  * layer's value is its median over the invocations (or requests) that ran
  * it; a layer the workload never ran reports 0. */
object LayerMetrics {
  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  /** Jobs each span submitted, keyed by span id. */
  def jobsBySpan(jobs: Seq[JobStats]): Map[Int, Seq[JobStats]] = jobs.groupBy(_.span)

  def spanMetrics(spans: Seq[Span], jobs: Seq[JobStats], layers: Seq[String],
                  filesBySpan: Map[Int, Long]): Seq[(String, Double)] = {
    val bySpan = jobsBySpan(jobs)
    def sum(f: JobStats => Double): (Span, Seq[JobStats]) => Double = (_, js) => js.map(f).sum
    val measures: Map[String, (Span, Seq[JobStats]) => Double] = Map(
      "wall_s" -> ((s, _) => s.wallMs / 1000),
      "driver_s" -> ((s, js) => driverMs(s, js) / 1000),
      "jobs" -> ((_, js) => js.length.toDouble),
      "tasks" -> sum(_.tasks.toDouble),
      "task_s" -> sum(_.runMs / 1000.0),
      "cpu_s" -> sum(_.cpuNs / 1e9),
      "gc_s" -> sum(_.gcMs / 1000.0),
      "shuffle_bytes" -> sum(_.shuffleBytes.toDouble),
      "spill_bytes" -> sum(_.spillBytes.toDouble),
      "written_bytes" -> sum(_.writtenBytes.toDouble),
      "written_files" -> ((s, _) => filesBySpan.getOrElse(s.id, 0L).toDouble))
    for (layer <- layers; (suffix, _) <- Metrics.SpanSuffixes) yield {
      val ss = spans.filter(_.name == layer)
      s"$layer.$suffix" -> med(ss.map(s => measures(suffix)(s, bySpan.getOrElse(s.id, Nil))))
    }
  }

  /** Time within the span during which none of its jobs was running. */
  def driverMs(s: Span, js: Seq[JobStats]): Double =
    s.wallMs - Intervals.covered(js.map(j => (j.startMs, if (j.endMs.isNaN) s.endMs else j.endMs)),
      s.startMs, s.endMs)

  def rowsWritten(spans: Seq[Span], jobs: Seq[JobStats]): Long = {
    val ids = spans.map(_.id).toSet
    jobs.filter(j => ids(j.span)).map(_.writtenRows).sum
  }

  /** For each `root` span: (invocation, wall, self time), the self time
    * being the part of its wall that none of its `layers` children covers. */
  def reconcile(spans: Seq[Span], root: String, layers: Seq[String]): Seq[(Int, Double, Double)] = {
    val byParent = spans.groupBy(_.parent)
    spans.filter(_.name == root).map { r =>
      val kids = byParent.getOrElse(r.id, Nil).filter(s => layers.contains(s.name))
      (r.inv, r.wallMs / 1000, Intervals.selfMs(r, kids) / 1000)
    }
  }
}
