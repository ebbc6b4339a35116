package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One operation the closed-loop client issued. `kind` is its role in the
  * end-to-end metrics: write | read | forget | maint | curate | ann | check | setup.
  */
final case class OpRec(kind: String, name: String, seconds: Double, ok: Boolean, timed: Boolean)

/** Everything a workload needs: the session, its seed, the tracer, and the
  * operation ledger the end-to-end metrics are computed from.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val tracer: Tracer,
    val scratch: String, val nproc: Int) {
  val ops = ArrayBuffer.empty[OpRec]
  val failures = ArrayBuffer.empty[String]
  /** Inputs and ground truth, reported as generated. */
  val detail = mutable.LinkedHashMap.empty[String, Any]
  def inTimed: Boolean = tracer.inTimed
  def inTimed_=(v: Boolean): Unit = tracer.inTimed = v
  var timedWall = 0.0
  var steps = 0
  /** Work units (rows, documents) the timed operations consumed. */
  var timedRows = 0L

  def traced: Boolean = tracer.traced

  /** Roots of the ManifestStore tables the workload writes. In a traced run
    * each timed top-level operation diffs them (outside its own timing):
    * new data files and bytes, and manifest versions committed.
    */
  var watchRoots: Seq[String] = Nil
  var filesWritten = 0L
  var bytesWritten = 0L
  var commits = 0L
  var commitSeconds = 0.0

  /** Run one operation as a span; a thrown exception is recorded with its
    * class and first stack frame, and the caller gets None.
    */
  def op[T](kind: String, name: String)(body: => T): Option[T] = {
    val watch = traced && inTimed && watchRoots.nonEmpty && tracer.current.isEmpty
    val before = if (watch) watchRoots.map(r => (Files2.dataFiles(r), Files2.manifestVersions(r))) else Nil
    val t0 = System.nanoTime()
    val r = try Some(tracer.span(name)(body)) catch {
      case NonFatal(e) => fail(name, e); None
    }
    val secs = (System.nanoTime() - t0) / 1e9
    ops.synchronized(ops += OpRec(kind, name, secs, r.isDefined, inTimed))
    if (watch) watchRoots.zip(before).foreach { case (root, (files, versions)) =>
      val added = Files2.dataFiles(root).filter { case (f, _) => !files.contains(f) }
      filesWritten += added.size
      bytesWritten += added.values.sum
      val c = Files2.manifestVersions(root) - versions
      commits += c
      if (c > 0) commitSeconds += secs
    }
    r
  }

  /** A correctness check; a mismatch counts as a failed operation. */
  def check(name: String, ok: => Boolean, detail: => String): Unit = {
    val pass = try ok catch { case NonFatal(e) => fail(s"check $name", e); false }
    if (!pass) failures.synchronized(failures += s"check $name failed: $detail")
    ops.synchronized(ops += OpRec("check", name, 0.0, pass, inTimed))
  }

  private def fail(name: String, e: Throwable): Unit = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    val frame = e.getStackTrace.headOption.map(_.toString).getOrElse("?")
    failures.synchronized(failures += s"$name: ${e.getClass.getName} at $frame" +
      (if (root ne e) s" (cause ${root.getClass.getName}: ${String.valueOf(root.getMessage).take(200)})"
       else s": ${String.valueOf(e.getMessage).take(200)}"))
  }

  /** Seconds of the successful timed operations of one kind. */
  def timedSeconds(kind: String): Seq[Double] =
    ops.toSeq.filter(o => o.timed && o.ok && o.kind == kind).map(_.seconds)
}

/** A workload: staged once per set-up repetition, warmed by one untimed
  * step, then stepped (one night / day / shard at a time) until the timed
  * wall reaches `--seconds`.
  */
trait Workload {
  def stage(ctx: Ctx, dir: String): Unit
  def warm(ctx: Ctx): Unit
  /** Stage the inputs of timed step `n` (untimed). */
  def prepare(ctx: Ctx, n: Int): Unit
  /** One timed step; returns nothing, records ops. */
  def step(ctx: Ctx, n: Int): Unit
  /** Untimed correctness checks (and traced-only probes) after a step. */
  def afterStep(ctx: Ctx, n: Int): Unit
  /** Workload-named end-to-end figures: name -> (value, unit). */
  def namedMetrics(ctx: Ctx): Seq[(String, Double, String)]
  /** Per-layer metrics from the trace: name -> value. */
  def layerMetrics(ctx: Ctx, t: TraceSummary): Map[String, Double]
}

object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, scratch: String)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("scratch"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val workload: Workload = a.workload match {
      case "etl_nightly"   => new EtlNightly
      case "store_daily"   => new StoreDaily
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
    val scratch = new File(a.scratch).getAbsoluteFile
    scratch.mkdirs()
    val nproc = Runtime.getRuntime.availableProcessors
    val spark = Session.create(nproc, scratch.getPath)
    try run(a, workload, spark, scratch.getPath, nproc, jvmStartMs)
    finally {
      spark.stop()
      Files2.deleteRec(scratch)
      progress(jvmStartMs, "stopped")
    }
  }

  private def run(a: Args, wl: Workload, spark: SparkSession, scratch: String, nproc: Int,
      jvmStartMs: Long): Unit = {
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val tracer = new Tracer(spark, a.trace)
    val ctx = new Ctx(spark, a.seed, tracer, scratch, nproc)

    // set-up: staging is repeated and its median taken; the untimed warm
    // step runs once, on the last staging
    val reps = 3
    val stageS = (0 until reps).map { r =>
      val dir = s"$scratch/stage$r"
      val t0 = System.nanoTime()
      ctx.op("setup", "bench:stage")(wl.stage(ctx, dir))
      val s = (System.nanoTime() - t0) / 1e9
      if (r < reps - 1) Files2.deleteRec(new File(dir))
      s
    }
    val t0 = System.nanoTime()
    wl.warm(ctx)
    val warmS = (System.nanoTime() - t0) / 1e9
    val setupS = sessionS + Stats.median(stageS) + warmS
    val calibS = Calibration.probe(ctx)
    progress(jvmStartMs, "set-up done")

    ctx.inTimed = true
    var n = 0
    while (ctx.timedWall < a.seconds) {
      n += 1
      tracer.step = n
      ctx.inTimed = false
      wl.prepare(ctx, n)
      ctx.inTimed = true
      val s0 = System.nanoTime()
      wl.step(ctx, n)
      ctx.timedWall += (System.nanoTime() - s0) / 1e9
      ctx.steps = n
      ctx.inTimed = false
      wl.afterStep(ctx, n)
      ctx.inTimed = true
    }
    ctx.inTimed = false
    progress(jvmStartMs, "timed steps done")
    tracer.drain()
    tracer.detach()

    val attempted = ctx.ops.size
    val failed = ctx.ops.count(!_.ok)
    val correct = !ctx.ops.exists(o => o.kind == "check" && !o.ok)
    val rssMb = peakRssMb()
    val writes = ctx.timedSeconds("write")
    val reads = ctx.timedSeconds("read")
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("op_ok_ratio", (attempted - failed).toDouble / attempted, "ratio"),
      ("peak_rss_mb", rssMb, "MB"),
      ("rows_per_s", ctx.timedRows / ctx.timedWall, "1/s"),
      ("write_p50_s", Stats.median(writes), "s"),
      ("read_p50_s", Stats.median(reads), "s"))
    val named = wl.namedMetrics(ctx)
    val summary = if (a.trace) Some(TraceSummary(ctx)) else None
    val layers = summary.map(s => Layers.all(wl.layerMetrics(ctx, s), s, ctx, calibS)).getOrElse(Map.empty)

    val detail = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
      "client" -> "closed loop, 1 driver thread",
      "settings" -> Session.settings(spark),
      "setup" -> Map("session_s" -> sessionS, "stage_s" -> stageS, "warm_s" -> warmS),
      "calibration_s" -> calibS,
      "steps" -> ctx.steps, "timed_wall_s" -> ctx.timedWall,
      "samples" -> Map("write" -> writes.size, "read" -> reads.size),
      "metrics" -> (e2e ++ named)
        .map { case (k, v, u) => k -> Map("value" -> v, "unit" -> u) }.toMap,
      "ops" -> ctx.ops.filter(_.kind != "check").groupBy(o => (if (o.timed) "" else "untimed ") + o.name)
        .map { case (k, os) => k -> Map("calls" -> os.size, "p50_s" -> Stats.median(os.map(_.seconds).toSeq)) },
      "op_fail_ratio" -> failed.toDouble / attempted,
      "failures" -> ctx.failures.toList) ++ ctx.detail
    summary.foreach(s => detail += "spans" -> s.bySpanName)
    println(Json.render(Map("perfbench" -> detail)))

    // bare values: run.py attaches the units from BENCHMARK.json
    val metrics: Seq[(String, Double)] =
      if (a.trace) layers.toSeq.sortBy(_._1) else e2e.map { case (k, v, _) => k -> v }
    println(Json.render(mutable.LinkedHashMap(
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> mutable.LinkedHashMap(metrics: _*))))
  }

  private def progress(jvmStartMs: Long, what: String): Unit =
    System.err.println(f"perfbench: $what at ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.1f s")

  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/** The benchmark session: graft.Bench's settings (RawLocalFileSystem,
  * committer v2, UTC, nanosAsLong) with master and shuffle partitions both
  * at the machine's core count, and all Spark scratch inside the run's
  * scratch root.
  */
object Session {
  def create(nproc: Int, scratch: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$scratch/checkpoints")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def settings(spark: SparkSession): Map[String, Any] = {
    val c = spark.conf
    val keys = Seq("spark.master", "spark.sql.shuffle.partitions", "spark.sql.session.timeZone",
      "spark.sql.legacy.parquet.nanosAsLong", "spark.hadoop.fs.file.impl",
      "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version",
      "spark.sql.autoBroadcastJoinThreshold", "spark.sql.adaptive.enabled")
    keys.map(k => k -> c.getOption(k).getOrElse("(default)")).toMap ++ Map(
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "java" -> System.getProperty("java.version"),
      "spark" -> spark.version)
  }
}

/** graft.Bench's calibration probe — a lineitem groupBy(l_returnflag)
  * count — run on this workload's own staged lineitem-shaped table, so
  * machine-load drift shows beside the metrics.
  */
object Calibration {
  def probe(ctx: Ctx): Double = {
    val spark = ctx.spark
    import org.apache.spark.sql.functions._
    val t0 = System.nanoTime()
    spark.range(0, 600000, 1, ctx.nproc)
      .select(element_at(array(lit("A"), lit("N"), lit("R")),
        (pmod(xxhash64(col("id"), lit(ctx.seed)), lit(3L)) + 1).cast("int")).as("l_returnflag"))
      .groupBy("l_returnflag").count().collect()
    (System.nanoTime() - t0) / 1e9
  }
}
