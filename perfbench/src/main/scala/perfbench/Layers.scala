package perfbench

/** The traced run's view of one run: spans of the timed steps and the
  * Spark jobs whose start fell inside them.
  */
final case class TraceSummary(ctx: Ctx) {
  private val t = ctx.tracer
  val spans: Seq[Span] = t.allSpans
  private val byId = spans.map(s => s.id -> s).toMap
  val timedTop: Seq[Span] = spans.filter(s => s.parent < 0 && s.timed)
  private val intervals: Seq[(Double, Double)] = timedTop.map(s => (t.epochMs(s.startNs), t.epochMs(s.endNs)))
  private def inTimed(ms: Double) = intervals.exists { case (a, b) => ms >= a - 1 && ms <= b + 1 }
  val jobs: Seq[JobRec] = t.jobs.filter(j => inTimed(j.startMs.toDouble))
  val steps: Double = math.max(1, ctx.steps).toDouble

  private def under(s: Span, ancestor: Int): Boolean =
    s.id == ancestor || (s.parent >= 0 && under(byId(s.parent), ancestor))

  /** Length of the union of intervals, clipped to [a, b]. */
  private def covered(iv: Seq[(Double, Double)], a: Double, b: Double): Double = {
    val clipped = iv.map { case (x, y) => (math.max(x, a), math.min(y, b)) }.filter(p => p._2 > p._1).sortBy(_._1)
    var total = 0.0; var curA = Double.NaN; var curB = Double.NaN
    clipped.foreach { case (x, y) =>
      if (curA.isNaN) { curA = x; curB = y }
      else if (x <= curB) curB = math.max(curB, y)
      else { total += curB - curA; curA = x; curB = y }
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs.toDouble, k.endNs.toDouble))
    s.seconds - covered(kids, s.startNs.toDouble, s.endNs.toDouble) / 1e9
  }

  /** Span wall minus the union of the Spark job intervals inside it. */
  def driverGap(s: Span): Double = {
    val a = t.epochMs(s.startNs); val b = t.epochMs(s.endNs)
    s.seconds - covered(t.jobs.map(j => (j.startMs.toDouble, j.endMs.toDouble)), a, b) / 1e3
  }

  def timedSpans: Seq[Span] = spans.filter(_.timed)
  def named(name: String): Seq[Span] = timedSpans.filter(_.name == name)
  def p50(name: String): Double = {
    val xs = named(name).map(_.seconds)
    if (xs.isEmpty) 0.0 else Stats.median(xs)
  }
  def perStep(name: String): Double = named(name).map(_.seconds).sum / steps

  def bySpanName: Map[String, Map[String, Any]] =
    timedSpans.groupBy(_.name).map { case (n, ss) =>
      val ids = ss.map(_.id).toSet
      val js = jobs.filter(j => j.span >= 0 && ids.exists(i => under(byId(j.span), i)))
      n -> Map[String, Any](
        "calls" -> ss.size,
        "wall_s" -> ss.map(_.seconds).sum,
        "self_s" -> ss.map(selfSeconds).sum,
        "jobs" -> js.size,
        "tasks" -> js.map(_.tasks).sum,
        "driver_gap_s" -> ss.map(driverGap).sum)
    }

  /** Per-workload Spark engine metrics, per timed step. */
  def sparkMetrics: Map[String, Double] = {
    val small = jobs.filter(_.tasks <= ctx.nproc).map(j => (j.endMs - j.startMs) / 1e3)
    val planMs = t.plans.filter(p => inTimed(p._1.toDouble)).map(_._2).sum
    Map(
      "spark.jobs" -> jobs.size / steps,
      "spark.tasks" -> jobs.map(_.tasks).sum / steps,
      "spark.task_busy_s" -> jobs.map(_.busyMs).sum / 1e3 / steps,
      "spark.job_floor_s" -> (if (small.isEmpty) 0.0 else Stats.median(small)),
      "spark.driver_gap_s" -> timedTop.map(driverGap).sum / steps,
      "spark.plan_s" -> planMs / 1e3 / steps,
      "spark.shuffle_read_bytes" -> jobs.map(_.shuffleRead).sum / steps,
      "spark.shuffle_write_bytes" -> jobs.map(_.shuffleWrite).sum / steps,
      "spark.spill_bytes" -> jobs.map(_.spill).sum / steps,
      "spark.gc_s" -> jobs.map(_.gcMs).sum / 1e3 / steps,
      "spark.unattributed_jobs" -> jobs.count(_.span < 0) / steps)
  }
}

/** The per-layer figures every workload shares: the Spark engine's and
  * the benchmark's own. BENCHMARK.json's per_layer list is the catalogue;
  * `run.py` reports each of its names and fills the ones a workload never
  * touches with 0 (the bypass).
  */
object Layers {
  def all(workload: Map[String, Double], s: TraceSummary, ctx: Ctx, calibS: Double): Map[String, Double] =
    s.sparkMetrics ++ workload ++ Map(
      "trace.listener_s" -> ctx.tracer.listenerSeconds / s.steps,
      "trace.spans" -> s.timedSpans.size / s.steps,
      "bench.steps" -> ctx.steps.toDouble,
      "bench.calibration_s" -> calibS)
}
