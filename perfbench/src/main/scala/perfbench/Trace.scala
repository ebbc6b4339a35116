package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call made by the benchmark into a layer. `step` is the
  * night/day/shard the call belongs to (shared by all spans of that step);
  * `parent` is the enclosing span's id, -1 at top level.
  */
final class Span(val id: Int, val name: String, val parent: Int, val step: Int,
    val timed: Boolean, val startNs: Long) {
  @volatile var endNs: Long = 0L
  def seconds: Double = (endNs - startNs) / 1e9
}

/** A finished Spark job as seen by the benchmark's listener. */
final case class JobRec(id: Int, span: Int, startMs: Long, endMs: Long, tasks: Int,
    busyMs: Long, gcMs: Long, shuffleRead: Long, shuffleWrite: Long, spill: Long)

/** Spans in memory, written out (aggregated) when the run ends. Spans are
  * always timed — the end-to-end metrics are built from them — but Spark
  * listeners and job labels are attached only in a traced run.
  */
final class Tracer(spark: SparkSession, val traced: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  // inheritable: a thread started inside a span (a streaming query's
  // execution thread) sees the span that started it
  private val stack = new InheritableThreadLocal[List[Span]] { override def initialValue(): List[Span] = Nil }
  @volatile var step: Int = 0
  /** True while the timed steps run (set by the driver loop). */
  @volatile var inTimed: Boolean = false
  private val nano0 = System.nanoTime()
  private val epochMs0 = System.currentTimeMillis()
  def epochMs(ns: Long): Double = epochMs0 + (ns - nano0) / 1e6

  // -- listener state (traced runs only) ---------------------------------
  private val listenerNs = new AtomicLong(0L)
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val open = new ConcurrentHashMap[Int, Array[Long]]() // job -> [start, span, tasks, busy, gc, sr, sw, spill]
  private val done = new java.util.concurrent.ConcurrentLinkedQueue[JobRec]()
  private val planMs = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]() // (end epoch ms, plan ms)
  private val streamSpan = new ConcurrentHashMap[String, Int]() // streaming runId -> span
  private val batchMs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long)]() // (span, batch ms)
  private val eventsSeen = new AtomicLong(0L)

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    try body finally { listenerNs.addAndGet(System.nanoTime() - t0); eventsSeen.incrementAndGet() }
  }

  private val GroupPrefix = "perfbench-span-"

  /** The span a job's label names, if that span was open when the job
    * started. A label inherited by a pooled thread from a span that has
    * since closed is stale: the job is left unattributed, not guessed.
    */
  private def resolve(group: String, startMs: Long): Int = {
    val id =
      if (group == null) -1
      else if (group.startsWith(GroupPrefix)) group.stripPrefix(GroupPrefix).toInt
      else Option(streamSpan.get(group)).map(_.intValue).getOrElse(-1)
    if (id < 0) -1
    else {
      val s = spans.synchronized(spans(id))
      val end = if (s.endNs == 0L) Double.MaxValue else epochMs(s.endNs)
      if (startMs + 1 >= epochMs(s.startNs) && startMs - 1 <= end) id else -1
    }
  }

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      open.put(e.jobId, Array(e.time, resolve(group, e.time).toLong, 0, 0, 0, 0, 0, 0))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      Option(stageJob.get(e.stageId)).flatMap(j => Option(open.get(j.intValue))).foreach { a =>
        a.synchronized {
          a(2) += 1
          val m = e.taskMetrics
          if (m != null) {
            a(3) += m.executorRunTime
            a(4) += m.jvmGCTime
            a(5) += m.shuffleReadMetrics.totalBytesRead
            a(6) += m.shuffleWriteMetrics.bytesWritten
            a(7) += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      Option(open.remove(e.jobId)).foreach { a =>
        done.add(JobRec(e.jobId, a(1).toInt, a(0), e.time, a(2).toInt, a(3), a(4), a(5), a(6), a(7)))
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = timed {
      val phases = qe.tracker.phases
      val ms = Seq("analysis", "optimization", "planning").flatMap(phases.get).map(_.durationMs).sum
      planMs.add((System.currentTimeMillis(), ms))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    // delivered on the query's execution thread, created by the span that
    // started the query; its inherited span stack names that span
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      current.foreach(s => streamSpan.put(e.runId.toString, s.id))
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = timed {
      val id = Option(streamSpan.get(e.progress.runId.toString)).map(_.intValue).getOrElse(-1)
      if (e.progress.numInputRows > 0) batchMs.add((id, e.progress.batchDuration))
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  if (traced) {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def current: Option[Span] = stack.get.headOption

  /** Time `body` as a span named `name` (`layer:Call`). In a traced run the
    * calling thread's Spark jobs carry the span's id as their job group.
    */
  def span[T](name: String)(body: => T): T = {
    val parent = current
    val s = spans.synchronized {
      val s = new Span(spans.size, name, parent.map(_.id).getOrElse(-1), step, inTimed, System.nanoTime())
      spans += s; s
    }
    stack.set(s :: stack.get)
    val sc = spark.sparkContext
    if (traced) sc.setJobGroup(GroupPrefix + s.id, name, interruptOnCancel = false)
    try body
    finally {
      s.endNs = System.nanoTime()
      stack.set(stack.get.tail)
      if (traced) parent match {
        case Some(p) => sc.setJobGroup(GroupPrefix + p.id, p.name, interruptOnCancel = false)
        case None    => sc.clearJobGroup()
      }
    }
  }

  def allSpans: Seq[Span] = spans.synchronized(spans.toList)

  /** Wait until every started job has ended and the listener bus has
    * been quiet for a moment, so the traced totals are complete.
    */
  def drain(): Unit = if (traced) {
    val deadline = System.nanoTime() + 15L * 1000000000L
    var last = -1L
    var quietSince = System.nanoTime()
    while (System.nanoTime() < deadline &&
        (!open.isEmpty || System.nanoTime() - quietSince < 300L * 1000000L)) {
      val seen = eventsSeen.get
      if (seen != last) { last = seen; quietSince = System.nanoTime() }
      Thread.sleep(25)
    }
  }

  def jobs: Seq[JobRec] = done.asScala.toSeq.sortBy(_.id)
  def plans: Seq[(Long, Long)] = planMs.asScala.toSeq
  def streamBatches: Seq[(Int, Long)] = batchMs.asScala.toSeq
  def listenerSeconds: Double = listenerNs.get / 1e9

  def detach(): Unit = if (traced) {
    try spark.sparkContext.removeSparkListener(jobListener) catch { case NonFatal(_) => () }
    try spark.listenerManager.unregister(queryListener) catch { case NonFatal(_) => () }
    try spark.streams.removeListener(streamListener) catch { case NonFatal(_) => () }
  }
}
