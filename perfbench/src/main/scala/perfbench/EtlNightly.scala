package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.expr.FkResolve
import graft.operators.Transformer
import graft.runner.JobRunner
import graft.sinks.{CsvSink, FixedWidthSink, LogStore, MergeRouter}
import graft.sources.ManifestStore
import graft.spec.SpecLoader
import graft.spec.Specs._

/** `etl_nightly` — the paper's own use case. Each night a batch of four JSON
  * job specs runs through `JobRunner.runAll`: fixed-width orders, CSV
  * lineitem and a catalog-registered customer model (with an Odoo domain)
  * are extracted, transformed (value mappings, coercions, `expr` fields),
  * routed against the `LogStore` state (update, noupdate and delete modes)
  * and loaded into ManifestStore targets (with FK resolution on customer)
  * and into a CSV and a fixed-width export.
  * Night 1 is a full load; later nights carry a seeded delta of updates,
  * inserts, deletes and unchanged rows. The log starts with an earlier
  * season's history, so the routing joins plan past the broadcast
  * threshold while the nation dimension of the FK lookup stays under it.
  */
final class EtlNightly extends Workload {
  private val BaseRows = 20000
  private val DeltaRows = 20000
  private val Tables = Seq("orders", "lineitem", "customer")
  private val Nations = Array("ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA",
    "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN", "JORDAN", "KENYA",
    "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA", "ROMANIA", "SAUDI ARABIA", "VIETNAM", "RUSSIA",
    "UNITED KINGDOM", "UNITED STATES")
  private val AcctFloor = -500.0
  private val HistoryRows = 100000
  private val HistoryJobs = 8

  private var seed = 0L
  private var dir = ""
  private def tgt(t: String) = s"$dir/targets/$t"
  private def logPath = s"$dir/log"

  // -- generator state: per table, rev(pk-1) > 0 live at that revision,
  // < 0 deleted; the truth of each job is simulated in plain Scala
  private val revs = Tables.map(_ -> ArrayBuffer.empty[Int]).toMap
  private val nightRows = mutable.Map.empty[(String, Int), Array[(Int, Int, Char)]]
  private val stagedBytes = mutable.Map.empty[Int, Long]
  private val custLoaded = mutable.Map.empty[Int, Int]          // job c: pk -> rev loaded
  private val exported = mutable.BitSet()                        // job d: pks sent on earlier nights
  private val expected = mutable.Map.empty[String, Map[String, Long]]
  private val mix = mutable.LinkedHashMap.empty[String, Any]

  // -- row values: pure functions of (seed, table, pk, rev) --------------
  private def priceOf(pk: Int, rev: Int) = (Gen.rng(seed, "op", pk, rev).nextInt(5000000) + 100) / 100.0
  private def acctOf(pk: Int, rev: Int) = (Gen.rng(seed, "ca", pk, rev).nextInt(1100000) - 100000) / 100.0
  private def statusOf(pk: Int, rev: Int) = "FOP".charAt(Gen.rng(seed, "os", pk, rev).nextInt(3))

  private def orderLine(pk: Int, rev: Int, op: Char): String = {
    val r = Gen.rng(seed, "o", pk, rev)
    val date = java.time.LocalDate.of(1993, 1, 1).plusDays(r.nextInt(2400))
    val prio = Gen.Priorities(r.nextInt(5))
    f"$pk%-10d${r.nextInt(150000) + 1}%-10d${statusOf(pk, rev)}${priceOf(pk, rev)}%-12.2f$date%-10s$prio%-15s$op$rev%-4d"
  }

  private def lineitemLine(pk: Int, rev: Int, op: Char): String = {
    val r = Gen.rng(seed, "l", pk, rev)
    val date = java.time.LocalDate.of(1993, 1, 1).plusDays(r.nextInt(2500))
    val qty = r.nextInt(50) + 1
    val price = (r.nextInt(9000000) + 90000) / 100.0
    val disc = r.nextInt(11) / 100.0
    val flag = "ANR".charAt(r.nextInt(3))
    f"$pk|${pk / 4 + 1}|${pk % 4 + 1}|${r.nextInt(20000) + 1}|$qty|$price%.2f|$disc%.2f|$flag|$date|$op|$rev"
  }

  private def customerRow(pk: Int, rev: Int, op: Char): Row = {
    val r = Gen.rng(seed, "c", pk, rev)
    Row(pk.toLong, f"Customer#$pk%09d", Nations(r.nextInt(Nations.length)), acctOf(pk, rev),
      Gen.Segments(r.nextInt(5)),
      op.toString, rev.toLong)
  }

  private val customerSchema = StructType.fromDDL(
    "c_custkey long, c_name string, c_nation string, c_acctbal double, c_segment string, c_op string, c_rev long")

  /** Night `n`'s rows of `table`: (pk, rev, op). Night 1 is the full load;
    * later nights: 30% updates, 10% deletes, 40% unchanged, 20% inserts.
    */
  private def deltaOf(table: String, n: Int): Array[(Int, Int, Char)] = {
    val rv = revs(table)
    if (n == 1) {
      (1 to BaseRows).foreach(_ => rv += 1)
      return (1 to BaseRows).map(pk => (pk, 1, 'U')).toArray
    }
    val r = Gen.rng(seed, "delta", table, n)
    val live = rv.indices.filter(i => rv(i) > 0).map(_ + 1).toArray
    val touched = (DeltaRows * 0.8).toInt
    (0 until touched).foreach { i =>
      val j = i + r.nextInt(live.length - i)
      val t = live(i); live(i) = live(j); live(j) = t
    }
    val u = (DeltaRows * 0.3).toInt
    val d = (DeltaRows * 0.1).toInt
    val rows = ArrayBuffer.empty[(Int, Int, Char)]
    (0 until touched).foreach { i =>
      val pk = live(i)
      if (i < u) { rv(pk - 1) = n; rows += ((pk, n, 'U')) }
      else if (i < u + d) rows += ((pk, rv(pk - 1), 'D'))
      else rows += ((pk, rv(pk - 1), 'U'))
    }
    (0 until DeltaRows - touched).foreach { _ =>
      rv += n; rows += ((rv.size, n, 'U'))
    }
    rows.filter(_._3 == 'D').foreach { case (pk, _, _) => rv(pk - 1) = -rv(pk - 1) }
    mix(s"night$n.$table") = Map("updates" -> u, "deletes" -> d, "unchanged" -> (touched - u - d),
      "inserts" -> (DeltaRows - touched))
    rows.sortBy(_._1).toArray
  }

  private def inDir = s"$dir/in"
  private def dateOf(n: Int) = java.time.LocalDate.of(2024, 1, 1).plusDays(n)
  private def stamp(n: Int) = dateOf(n).toString.replace("-", "")

  private def writeLines(path: String, header: Option[String], lines: Iterator[String], dg: Gen.Digest): Long = {
    val f = new File(path); f.getParentFile.mkdirs()
    val w = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(f), StandardCharsets.UTF_8), 1 << 16)
    var bytes = 0L
    try (header.iterator ++ lines).foreach { l =>
      w.write(l); w.write('\n'); dg.add(l); bytes += l.length + 1
    } finally w.close()
    bytes
  }

  /** Stage night `n`'s three source files; returns their byte count. */
  private def stageNight(ctx: Ctx, n: Int): Long = {
    val dg = new Gen.Digest
    Tables.foreach(t => nightRows((t, n)) = deltaOf(t, n))
    var bytes = writeLines(s"$inDir/orders_${stamp(n)}.txt", None,
      nightRows(("orders", n)).iterator.map { case (pk, rev, op) => orderLine(pk, rev, op) }, dg)
    bytes += writeLines(s"$inDir/lineitem_${stamp(n)}.csv",
      Some("l_id|l_orderkey|l_linenumber|l_partkey|l_quantity|l_extendedprice|l_discount|l_returnflag|l_shipdate|l_op|l_rev"),
      nightRows(("lineitem", n)).iterator.map { case (pk, rev, op) => lineitemLine(pk, rev, op) }, dg)
    val cust = nightRows(("customer", n)).map { case (pk, rev, op) => customerRow(pk, rev, op) }
    bytes += Gen.writeJson(s"$inDir/customer_${stamp(n)}", customerSchema, cust.toSeq, dg)
    stagedBytes(n) = bytes
    ctx.detail.getOrElseUpdate("inputs", mutable.LinkedHashMap.empty[String, Any])
      .asInstanceOf[mutable.LinkedHashMap[String, Any]](s"night$n") =
      Map("rows" -> Tables.map(t => t -> nightRows((t, n)).length).toMap, "bytes" -> bytes, "sha256_16" -> dg.hex)
    simulate(n)
    bytes
  }

  /** The expected outcome of night `n` for each job, computed in plain
    * Scala from the generated rows (independent of the program).
    */
  private def simulate(n: Int): Unit = {
    val ord = nightRows(("orders", n)); val li = nightRows(("lineitem", n)); val cu = nightRows(("customer", n))
    def isNew(rows: Array[(Int, Int, Char)]) = if (n == 1) rows.length else DeltaRows - (DeltaRows * 0.8).toInt
    // a, b: update mode into ManifestStore targets
    Seq("a" -> ord, "b" -> li).foreach { case (j, rows) =>
      expected(s"$j.routed") = Map("insert" -> isNew(rows).toLong, "update" -> (rows.length - isNew(rows)).toLong)
    }
    // c: noupdate over the domain-filtered customer model
    var ins = 0L; var skip = 0L
    cu.foreach { case (pk, rev, op) =>
      if (acctOf(pk, rev) >= AcctFloor) {
        if (custLoaded.contains(pk)) skip += 1
        else { ins += 1; if (op != 'D') custLoaded(pk) = rev }
      }
    }
    expected("c.routed") = Map("insert" -> ins, "skip" -> skip)
    // d: delete mode; matched = sent on an earlier night; both exports carry
    // every routed row, the CSV one a header line too
    val matched = li.count(r => exported.contains(r._1)).toLong
    li.foreach(r => exported += r._1)
    expected("d.routed") = Map("insert" -> li.length.toLong, "delete" -> matched)
    expected("d.csv") = Map("lines" -> (li.length + matched + 1))
    expected("d.fw") = Map("lines" -> (li.length + matched))
    expected.keys.toSeq.foreach(k => expected(k) = expected(k).filter(_._2 > 0))
  }

  // -- job specs ---------------------------------------------------------
  private def ordersExtract(n: Int) =
    s"""{"file": {"path": "$inDir/orders_{aaaa}{mm}{dd}.txt", "type": "txt", "columns": [
       |  {"name": "o_orderkey", "position": 1, "length": 10, "type": "long"},
       |  {"name": "o_custkey", "position": 11, "length": 10, "type": "long"},
       |  {"name": "o_status", "position": 21, "length": 1},
       |  {"name": "o_totalprice", "position": 22, "length": 12, "type": "double"},
       |  {"name": "o_orderdate", "position": 34, "length": 10},
       |  {"name": "o_priority", "position": 44, "length": 15},
       |  {"name": "o_op", "position": 59, "length": 1},
       |  {"name": "o_rev", "position": 60, "length": 4, "type": "long"}]}}""".stripMargin

  private def lineitemExtract(n: Int) =
    s"""{"file": {"path": "$inDir/lineitem_{aaaa}{mm}{dd}.csv", "type": "csv",
       |  "dialect": {"separator": "|", "header": true}, "columns": [
       |  {"name": "l_id", "type": "long"}, {"name": "l_orderkey", "type": "long"},
       |  {"name": "l_linenumber", "type": "int"}, {"name": "l_partkey", "type": "long"},
       |  {"name": "l_quantity", "type": "double"}, {"name": "l_extendedprice", "type": "double"},
       |  {"name": "l_discount", "type": "double"}, {"name": "l_returnflag"},
       |  {"name": "l_shipdate", "type": "date"}, {"name": "l_op"}, {"name": "l_rev", "type": "long"}]}}""".stripMargin

  private def spec(n: Int, name: String, extract: String, mode: String, pk: String, fields: String): JobSpec =
    SpecLoader.fromJson(
      s"""{"name": "$name", "date": "${dateOf(n)}", "extract": $extract,
         | "transform": {"reprocess": "$mode", "pk": "$pk", "fields": [$fields]}}""".stripMargin)

  private val orderFields =
    """{"name": "o_orderkey", "as": "okey", "type": "int"},
      |{"name": "o_custkey", "as": "custkey", "type": "int"},
      |{"name": "o_status", "as": "status", "mapping": {"entries": {"F": "done", "O": "open", "P": "pending"}, "default": "unknown"}},
      |{"name": "o_totalprice", "as": "price", "type": "float"},
      |{"name": "o_orderdate", "as": "odate", "type": "date"},
      |{"name": "o_priority", "as": "priority", "expr": "trim(o_priority)"},
      |{"name": "o_op", "as": "op"},
      |{"name": "o_rev", "as": "rev", "type": "int"},
      |{"name": "pt", "expr": "pmod(o_orderkey, 16)", "type": "int"},
      |{"name": "ref", "expr": "concat('ORD-', cast(o_orderkey as string))"}""".stripMargin

  private val lineFields =
    """{"name": "l_id", "as": "lid", "type": "int"},
      |{"name": "l_orderkey", "as": "okey", "type": "int"},
      |{"name": "l_linenumber", "as": "lineno", "type": "int"},
      |{"name": "l_quantity", "as": "qty", "type": "float"},
      |{"name": "l_extendedprice", "as": "price", "type": "float"},
      |{"name": "net", "expr": "round(l_extendedprice * (1 - l_discount), 2)", "type": "float"},
      |{"name": "l_returnflag", "as": "flag", "mapping": {"entries": {"A": "accepted", "N": "none", "R": "returned"}, "returnNull": true}},
      |{"name": "l_shipdate", "as": "shipdate", "type": "date"},
      |{"name": "l_op", "as": "op"},
      |{"name": "l_rev", "as": "rev", "type": "int"},
      |{"name": "pt", "expr": "pmod(l_orderkey, 16)", "type": "int"}""".stripMargin

  private val customerFields =
    """{"name": "c_custkey", "as": "custkey", "type": "int"},
      |{"name": "c_name", "as": "name"},
      |{"name": "c_nation", "as": "nation"},
      |{"name": "c_acctbal", "as": "acctbal", "type": "float"},
      |{"name": "c_segment", "as": "segment", "mapping": {"entries": {"AUTOMOBILE": "auto", "BUILDING": "build"}}},
      |{"name": "c_op", "as": "op"},
      |{"name": "c_rev", "as": "rev", "type": "int"},
      |{"name": "pt", "expr": "pmod(c_custkey, 16)", "type": "int"}""".stripMargin

  private def jobs(n: Int): Seq[JobSpec] = Seq(
    spec(n, "a_orders", ordersExtract(n), "update", "o_orderkey", orderFields),
    spec(n, "b_lineitem", lineitemExtract(n), "update", "l_id", lineFields),
    spec(n, "c_customer",
      s"""{"connector": {"model": "bench_customer", "domain": [["c_acctbal", ">=", $AcctFloor]],
         |  "fields": ["c_custkey", "c_name", "c_nation", "c_acctbal", "c_segment", "c_op", "c_rev"]}}""".stripMargin,
      "noupdate", "c_custkey", customerFields),
    spec(n, "d_lineitem_export", lineitemExtract(n), "delete", "l_id", lineFields))

  /** Rows the night's jobs extract: lineitem feeds two jobs. */
  private def sourceRows(n: Int): Long =
    nightRows(("orders", n)).length + 2L * nightRows(("lineitem", n)).length + nightRows(("customer", n)).length

  private val deps = Map("b_lineitem" -> Seq("a_orders"))
  private val jobNames = Seq("a_orders", "b_lineitem", "c_customer", "d_lineitem_export")

  private val csvCols: Seq[FwColumn] = FwColumn(MergeRouter.ActionCol, fieldName = Some("action")) +:
    Seq("lid", "okey", "lineno", "qty", "net", "flag", "shipdate").map(c => FwColumn(c))

  private val fwCols: Seq[FwColumn] = Seq(
    FwColumn(MergeRouter.ActionCol, fieldName = Some("action"), position = 1, length = 6),
    FwColumn("lid", position = 8, length = 10, align = "rjust", fillChar = "0"),
    FwColumn("okey", position = 19, length = 10), FwColumn("qty", position = 30, length = 8),
    FwColumn("net", position = 39, length = 12, dataType = "double", format = Some("%.2f")),
    FwColumn("flag", position = 52, length = 8), FwColumn("shipdate", position = 61, length = 10))

  // -- per-night bookkeeping ---------------------------------------------
  private val routedCounts = mutable.Map.empty[String, Map[String, Long]]
  private val routingJoins = mutable.LinkedHashMap.empty[String, Map[String, Seq[String]]]
  private val outcomes = ArrayBuffer.empty[JobRunner.JobOutcome]
  private val runPlanS = ArrayBuffer.empty[Double]
  private val loadS = ArrayBuffer.empty[Double]
  private val logS = ArrayBuffer.empty[Double]
  private val planProbe = mutable.Map.empty[String, ArrayBuffer[Double]]
  private val layerCounts = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  /** Sizes of the per-job ledgers after the warm night: (outcomes, plan, load, log). */
  private var warmCounts = (0, 0, 0, 0)

  private def nationDim(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Nations.zipWithIndex.map { case (nm, i) => (nm, i.toLong) }.toSeq.toDF("n_name", "n_nationkey")
  }

  /** Sink side of one job, called by runAll with the routed plan. */
  private def load(ctx: Ctx, n: Int, res: JobRunner.JobResult): Unit = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val routed = tr.span("runner:JobRunner.execute")(res.routed.localCheckpoint(true))
    routingJoins(res.job) = joinKinds(res.routed)
    val counts = routed.groupBy(MergeRouter.ActionCol).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    routedCounts(res.job) = counts
    val act = col(MergeRouter.ActionCol)
    val t0 = System.nanoTime()
    res.job match {
      case "a_orders" | "b_lineitem" | "c_customer" =>
        val target = tgt(res.job.drop(2))
        var rows = routed.filter(act.isin("insert", "update") && col("op") =!= "D")
          .drop(MergeRouter.ActionCol, MergeRouter.IdCol)
        if (res.job == "c_customer")
          rows = tr.span("operators:FkResolve.nameSearch")(
            FkResolve.nameSearch(rows, "nation", nationDim(spark), "n_name", "n_nationkey", "nationkey"))
              .drop(FkResolve.MissCol)
        tr.span("manifest:ManifestStore.mergeOrCreate")(
          ManifestStore.mergeOrCreate(spark, target, rows, Seq("pk"), "pt"))
        val dels = routed.filter(act === "update" && col("op") === "D").select("pk", "pt")
        if (counts.getOrElse("update", 0L) > 0)
          tr.span("manifest:ManifestStore.delete")(
            ManifestStore.delete(spark, target, dels, Seq("pk"), Seq("pt")))
      case "d_lineitem_export" =>
        // one routed result, two feeds: a CSV export and a fixed-width one
        tr.span("sinks:CsvSink.write")(CsvSink.write(MergeRouter.actionable(routed),
          s"$dir/out/csv/night$n", csvCols, CsvDialect(separator = ";"), "lid"))
        tr.span("sinks:FixedWidthSink.write")(FixedWidthSink.write(routed,
          s"$dir/out/fw/night$n", fwCols, "lid"))
    }
    loadS += (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val loaded = routed.filter(act === "insert" && col("op") =!= "D")
    tr.span("sinks:LogStore.append")(LogStore.append(spark, logPath, loaded.select(
      lit(res.job).as("job"), col("pk"), xxhash64(col("pk")).as("model_id"), lit("info").as("level"),
      lit(s"night $n").as("message"), current_timestamp().as("ts"))))
    logS += (System.nanoTime() - t1) / 1e9
  }

  /** The join operators of a physical plan as planned and, once the query
    * has run, as adaptive execution left them.
    */
  private def joinKinds(df: DataFrame): Map[String, Seq[String]] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    object Plans extends AdaptiveSparkPlanHelper
    def kinds(p: SparkPlan) = Plans.collect(p) { case j: BaseJoinExec => j.nodeName }
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => Map("planned" -> kinds(a.inputPlan), "executed" -> kinds(a.executedPlan))
      case p => Map("planned" -> kinds(p), "executed" -> kinds(p))
    }
  }

  /** An earlier season's log: load entries of jobs no longer scheduled,
    * each with its load message. Routing never reads these keys (they sit
    * in other job partitions and are pruned at scan time), but
    * MergeRouter sizes the state side from the plan-time estimate of the
    * whole log, so it no longer hints a broadcast of the state.
    */
  private def stageHistory(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val id = col("id")
    val message = concat_ws(" ", (0 until 6).map(k =>
      sha2(concat_ws(":", lit(seed.toString), id.cast("string"), lit(k.toString)).cast("binary"), 256)): _*)
    LogStore.append(spark, logPath, spark.range(0, HistoryRows, 1, ctx.nproc).select(
      concat(lit("retired_"), pmod(id, lit(HistoryJobs.toLong)).cast("string")).as("job"),
      id.cast("string").as("pk"), xxhash64(id, lit(seed)).as("model_id"), lit("info").as("level"),
      message.as("message"), lit(java.sql.Timestamp.valueOf("2023-12-31 00:00:00")).as("ts")))
    ctx.detail.getOrElseUpdate("inputs", mutable.LinkedHashMap.empty[String, Any])
      .asInstanceOf[mutable.LinkedHashMap[String, Any]]("log_history") =
      Map("rows" -> HistoryRows, "jobs" -> HistoryJobs, "bytes" -> Files2.du(logPath)._2)
  }

  /** One night: the batch through runAll, then three report reads. */
  private def night(ctx: Ctx, n: Int): Unit = {
    val spark = ctx.spark
    Gen.readJson(spark, s"$inDir/customer_${stamp(n)}", customerSchema)
      .createOrReplaceTempView("bench_customer")
    routedCounts.clear()
    var boundary = System.nanoTime()
    def jobDone(ok: Boolean): Unit = {
      val now = System.nanoTime()
      ctx.ops += OpRec("write", "etl:job", (now - boundary) / 1e9, ok, ctx.inTimed)
      boundary = now
    }
    val out = ctx.op("night", "runner:JobRunner.runAll") {
      boundary = System.nanoTime()
      JobRunner.runAll(spark, jobs(n), deps, Some(logPath), res => {
        runPlanS += (System.nanoTime() - boundary) / 1e9
        try { load(ctx, n, res); jobDone(ok = true) }
        catch { case e: Exception => ctx.op("write", s"etl:${res.job}")(throw e); jobDone(ok = false); throw e }
      })
    }
    out.foreach { os =>
      outcomes ++= os
      os.filter(_.state != "done").foreach { o =>
        if (o.state == "skipped") jobDone(ok = false)
        ctx.failures += s"job ${o.job} ${o.state}: ${o.error.getOrElse("")}"
      }
      if (os.forall(_.state == "done") && ctx.inTimed)
        ctx.timedRows += sourceRows(n)
    }
    if (n > 1) reports(ctx)
  }

  /** Downstream reads of the loaded targets, as a reporting user runs them. */
  private def reports(ctx: Ctx): Unit = {
    val spark = ctx.spark
    ctx.op("read", "manifest:ManifestStore.read.orders")(
      ManifestStore.read(spark, tgt("orders")).groupBy("status").agg(count(lit(1)), sum("price")).collect())
    ctx.op("read", "manifest:ManifestStore.read.lineitem")(
      ManifestStore.read(spark, tgt("lineitem")).groupBy("flag").agg(count(lit(1)), sum("net")).collect())
    ctx.op("read", "manifest:ManifestStore.read.customer")(
      ManifestStore.read(spark, tgt("customer")).groupBy("nationkey").agg(count(lit(1)), sum("acctbal")).collect())
  }

  // -- Workload ------------------------------------------------------------
  def stage(ctx: Ctx, d: String): Unit = {
    seed = ctx.seed
    dir = d
    revs.values.foreach(_.clear())
    custLoaded.clear(); exported.clear(); nightRows.clear(); mix.clear()
    stageNight(ctx, 1)
  }

  /** Night 1, the full load. Its result is checked through night 2: every
    * target hash and routed count after a delta night depends on it.
    */
  def warm(ctx: Ctx): Unit = {
    ctx.op("setup", "sinks:LogStore.append.history")(stageHistory(ctx))
    night(ctx, 1)
    warmCounts = (outcomes.size, runPlanS.size, loadS.size, logS.size)
    ctx.watchRoots = Seq(s"$dir/targets")
  }

  def prepare(ctx: Ctx, k: Int): Unit = stageNight(ctx, k + 1)

  def step(ctx: Ctx, k: Int): Unit = night(ctx, k + 1)

  def afterStep(ctx: Ctx, k: Int): Unit = {
    val n = k + 1
    check(ctx, n)
    if (ctx.traced) { countLayers(); probePlans(ctx, n) }
  }

  /** Target row count and order-independent (pk, rev) hash, routed action
    * counts and export line counts against the simulated truth.
    */
  private def check(ctx: Ctx, n: Int): Unit = {
    val spark = ctx.spark
    def hashOf(df: DataFrame) = df.agg(count(lit(1)), sum(pmod(xxhash64(col("pk"), col("rev")), lit(1000000007L))))
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))).head
    // the same hash on the driver, over the simulated live rows
    def truth(pairs: Iterable[(Int, Int)]) = {
      import org.apache.spark.sql.catalyst.expressions.XxHash64Function
      import org.apache.spark.unsafe.types.UTF8String
      val p = 1000000007L
      (pairs.size.toLong, pairs.iterator.map { case (pk, rev) =>
        val h = XxHash64Function.hash(rev.toLong, LongType,
          XxHash64Function.hash(UTF8String.fromString(pk.toString), StringType, 42L))
        ((h % p) + p) % p
      }.sum)
    }
    val live = Map(
      "orders" -> revs("orders").zipWithIndex.collect { case (r, i) if r > 0 => (i + 1, r) },
      "lineitem" -> revs("lineitem").zipWithIndex.collect { case (r, i) if r > 0 => (i + 1, r) },
      "customer" -> custLoaded.toSeq)
    Tables.foreach { t =>
      var got = (0L, 0L); var want = (0L, 0L)
      ctx.check(s"etl.target.$t", {
        want = truth(live(t))
        got = hashOf(ManifestStore.read(spark, tgt(t)).select(col("pk"), col("rev").cast("long").as("rev")))
        got == want
      }, s"night $n $t: (count, hash) got $got want $want")
    }
    jobNames.foreach { j =>
      val want = expected(s"${j.take(1)}.routed")
      val got = routedCounts.getOrElse(j, Map.empty)
      ctx.check(s"etl.routed.$j", got == want, s"night $n $j: got $got want $want")
    }
    Seq("csv", "fw").foreach { f =>
      val want = expected(s"d.$f")("lines")
      ctx.check(s"etl.lines.$f", spark.read.text(s"$dir/out/$f/night$n").count() == want,
        s"night $n $f export: want $want lines")
    }
    ctx.check("etl.outcomes", outcomes.takeRight(jobNames.size).forall(_.state == "done"),
      outcomes.takeRight(jobNames.size).mkString(","))
    ctx.detail("ground_truth") = mix.clone()
    val state = LogStore.stateFor(LogStore.readOrEmpty(spark, logPath), "b_lineitem")
    ctx.detail("routing") = Map(
      "state_estimate_bytes" -> state.queryExecution.optimizedPlan.stats.sizeInBytes.toLong,
      "broadcast_threshold_bytes" -> spark.sessionState.conf.autoBroadcastJoinThreshold,
      "joins" -> routingJoins.clone())
  }

  private def countLayers(): Unit = {
    val rc = routedCounts.values
    def sumOf(a: String) = rc.map(_.getOrElse(a, 0L)).sum.toDouble
    layerCounts("sinks.rows_inserted") += sumOf("insert")
    layerCounts("sinks.rows_updated") += sumOf("update")
    layerCounts("sinks.rows_deleted") += sumOf("delete")
    layerCounts("sinks.rows_skipped") += sumOf("skip")
  }

  /** Traced runs only: time the lazy layers one by one on each job's spec,
    * through the same public calls JobRunner.run makes, after the night.
    */
  private def probePlans(ctx: Ctx, n: Int): Unit = {
    val spark = ctx.spark
    def timed[T](k: String)(body: => T): T = {
      val t0 = System.nanoTime(); val r = body
      planProbe.getOrElseUpdate(k, ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e9; r
    }
    jobs(n).foreach { job =>
      val ex = timed("extract")(JobRunner.extract(spark, job))
      val tspec = if (job.transform.fields.isEmpty) job.transform.copy(fields = JobRunner.introspectFields(ex.schema))
        else job.transform
      val tf = timed("transform")(Transformer(ex, tspec))
      val st = timed("state")(LogStore.stateFor(LogStore.readOrEmpty(spark, logPath), job.name))
      timed("route")(MergeRouter.route(tf, st, "pk", job.transform.reprocess))
    }
  }

  def namedMetrics(ctx: Ctx): Seq[(String, Double, String)] = {
    Seq(("etl_rows_per_s", ctx.timedRows / ctx.timedWall, "1/s")) ++
      Stats.timing("etl_job", ctx.timedSeconds("write"))
  }

  def layerMetrics(ctx: Ctx, t: TraceSummary): Map[String, Double] = {
    val nights = t.steps
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val timedOutcomes = outcomes.drop(warmCounts._1)
    val rowsIn = (2 to ctx.steps + 1).map(sourceRows).sum
    val bytesIn = (2 to ctx.steps + 1).map(stagedBytes).sum
    val routedAll = Seq("sinks.rows_inserted", "sinks.rows_updated", "sinks.rows_deleted", "sinks.rows_skipped")
      .map(layerCounts).sum
    Map(
      "runner.jobs" -> timedOutcomes.count(_.state == "done") / nights,
      "runner.failed_jobs" -> timedOutcomes.count(_.state != "done") / nights,
      "runner.plan_s" -> med(runPlanS.drop(warmCounts._2).toSeq),
      "sources.extract_plan_s" -> med(planProbe.getOrElse("extract", Nil).toSeq),
      "sources.rows_in" -> rowsIn / nights,
      "sources.bytes_in" -> bytesIn / nights,
      "operators.transform_plan_s" -> med(planProbe.getOrElse("transform", Nil).toSeq),
      "sinks.route_plan_s" -> med(planProbe.getOrElse("route", Nil).toSeq),
      "sinks.load_s" -> med(loadS.drop(warmCounts._3).toSeq),
      "sinks.log_append_s" -> med(logS.drop(warmCounts._4).toSeq),
      "sinks.rows_inserted" -> layerCounts("sinks.rows_inserted") / nights,
      "sinks.rows_updated" -> layerCounts("sinks.rows_updated") / nights,
      "sinks.rows_deleted" -> layerCounts("sinks.rows_deleted") / nights,
      "sinks.rows_skipped" -> layerCounts("sinks.rows_skipped") / nights,
      "sinks.useful_ratio" -> (if (routedAll == 0) 0.0 else (routedAll - layerCounts("sinks.rows_skipped")) / routedAll)
    ) ++ ManifestLayer.metrics(ctx, t, bytesIn) ++ Map(
      // the night is one operation; its commits are the explicit ManifestStore calls
      "manifest.commit_s" -> (t.named("manifest:ManifestStore.mergeOrCreate") ++
        t.named("manifest:ManifestStore.delete")).map(_.seconds).sum / nights)
  }
}
