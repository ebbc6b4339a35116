package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ext.{Dedup, DedupStores, IndexStore, Similarity, TextAnalysis, VectorStore, ViewStore}
import graft.sources.ManifestStore
import graft.streaming.StreamUpsert

/** `store_daily` — a day-by-day ingest into the maintained stores, the
  * shape of the x242 ingest capstone run as a closed loop. Each day folds
  * a few hundred rows into DedupStores, VectorStore, IndexStore, ViewStore
  * and a quality-judge table fed through StreamUpsert.replayedPipeline,
  * then probes each store with seeded queries, then curates the day's
  * documents with the one-shot operators (no commits). Every day opens by
  * forgetting seeded id lists from DedupStores and ViewStore and closes by
  * compacting and vacuuming every table: a run measures one day, so a
  * forget or maintenance cadence of several days would never be measured.
  */
final class StoreDaily extends Workload {
  private val BaseDocs = 600
  private val DayDocs = 300
  private val PlantedExact = 10
  private val PlantedNear = 10
  private val Dim = 32
  private val Cells = 16
  private val DayOrders = 100
  private val LinesPerOrder = 3
  private val ForgetN = 5
  private val DayClusters = 5        // planted near-duplicate clusters inside each day
  private val VecQueries = 16
  private val Resubmit = 100000000L  // id offset of re-submitted forgotten content
  private val RecallFloor = 0.5

  private var seed = 0L
  private var dir = ""
  private def st(name: String) = s"$dir/stores/$name"

  // generator state and ground truth, kept in plain Scala
  private val docText = mutable.Map.empty[Long, (String, String)]      // id -> (text, lang)
  private val vecIds = ArrayBuffer.empty[Long]
  private val baseVecs = mutable.LinkedHashMap.empty[Long, Array[Float]]
  private val orders = mutable.Map.empty[Long, String]                 // okey -> priority
  private val lines = mutable.LinkedHashMap.empty[(Long, Int), Double] // (okey, lineno) -> qty
  private val lineDay = mutable.Map.empty[(Long, Int), Int]             // day the line was staged
  private val forgotFp = mutable.Set.empty[Long]                        // forgotten from DedupStores
  private val planted = mutable.Map.empty[Int, Set[Long]]              // day -> exact dup ids
  private val clusters = mutable.Map.empty[Int, Seq[Seq[Long]]]         // day -> planted clusters
  private val dayRows = mutable.Map.empty[Int, Long]
  private val dayBytes = mutable.Map.empty[Int, Long]
  private var lastDocId = 0L
  private var lastOkey = 0L
  private val centres = mutable.ArrayBuffer.empty[Array[Double]]

  private val docSchema = StructType.fromDDL("doc_id long, text string, lang string")
  private val vecSchema = StructType.fromDDL("vec_id long, embedding array<float>")
  private val aSchema = StructType.fromDDL("okey long, lineno int, qty double")
  private val bSchema = StructType.fromDDL("okey long, prio string")

  private def inDir(d: Int) = s"$dir/in/day$d"

  /** Stage day `d` (day 0 is the base snapshot) under in/day<d>. */
  private def stageDay(ctx: Ctx, d: Int): Unit = {
    val r = Gen.rng(seed, "day", d)
    val dg = new Gen.Digest
    val nDocs = if (d == 0) BaseDocs else DayDocs
    val docs = ArrayBuffer.empty[Row]
    val exact = mutable.Set.empty[Long]
    val dayClusters = mutable.ArrayBuffer.empty[Seq[Long]]
    def add(text: String, lang: String): Long = {
      lastDocId += 1
      docText(lastDocId) = (text, lang)
      docs += Row(lastDocId, text, lang)
      lastDocId
    }
    if (d > 0) {
      // exact and near copies of base documents, for the stores' probes
      // exact-copy sources come from the lower half of the base, which is never forgotten
      (0 until PlantedExact).foreach { _ => exact += add(docText(1L + r.nextInt(BaseDocs / 2))._1, "en") }
      (0 until PlantedNear).foreach(_ => add(Gen.nearCopy(r, docText(1L + r.nextInt(BaseDocs))._1, 2), "en"))
      // clusters within the day (an original, an exact and a near copy), for the curate pass
      (0 until DayClusters).foreach { _ =>
        val t = Gen.doc(r, 60 + r.nextInt(40), "en")
        dayClusters += Seq(add(t, "en"), add(t, "en"), add(Gen.nearCopy(r, t, 2), "en"))
      }
    }
    while (docs.size < nDocs) {
      val lang = if (r.nextInt(5) == 0) "es" else "en"
      add(Gen.doc(r, 30 + r.nextInt(50), lang), lang)
    }
    planted(d) = exact.toSet
    clusters(d) = dayClusters.toSeq
    if (centres.isEmpty) centres ++= Gen.centres(seed, Cells, Dim)
    val vecs = (0 until nDocs).map { _ =>
      val id = vecIds.size.toLong + 1; vecIds += id
      val v = Gen.near(r, centres(r.nextInt(Cells)), 0.3)
      if (d == 0) baseVecs(id) = v
      Row(id, v.toSeq)
    }
    val nOrders = if (d == 0) 5 * DayOrders else DayOrders
    val bRows = (0 until nOrders).map { _ =>
      lastOkey += 1
      val p = Gen.Priorities(r.nextInt(5))
      orders(lastOkey) = p
      Row(lastOkey, p)
    }
    // lines join today's orders and, for a third of them, earlier orders
    val aRows = (0 until nOrders * LinesPerOrder).map { i =>
      val okey = if (i % 3 == 2 && lastOkey > nOrders) 1L + r.nextInt((lastOkey - nOrders).toInt)
        else lastOkey - nOrders + 1 + i / LinesPerOrder
      var lineno = 1
      while (lines.contains((okey, lineno))) lineno += 1
      val qty = (r.nextInt(5000) + 100) / 100.0
      lines((okey, lineno)) = qty
      lineDay((okey, lineno)) = d
      Row(okey, lineno, qty)
    }
    val bytes = Seq(
      Gen.writeJson(s"${inDir(d)}/docs", docSchema, docs.toSeq, dg),
      Gen.writeJson(s"${inDir(d)}/vecs", vecSchema, vecs, dg),
      Gen.writeJson(s"${inDir(d)}/a", aSchema, aRows, dg),
      Gen.writeJson(s"${inDir(d)}/b", bSchema, bRows, dg)).sum
    dayRows(d) = (docs.size + vecs.size + aRows.size + bRows.size).toLong
    dayBytes(d) = bytes
    ctx.detail.getOrElseUpdate("inputs", mutable.LinkedHashMap.empty[String, Any])
      .asInstanceOf[mutable.LinkedHashMap[String, Any]](s"day$d") = Map(
        "rows" -> Map("docs" -> docs.size, "vectors" -> vecs.size, "lines" -> aRows.size, "orders" -> bRows.size),
        "bytes" -> bytes, "sha256_16" -> dg.hex,
        "planted_exact_dups" -> exact.size, "planted_near_dups" -> (if (d > 0) PlantedNear else 0),
        "planted_day_clusters" -> dayClusters.size)
  }

  private val schemas = Map("docs" -> docSchema, "vecs" -> vecSchema, "a" -> aSchema, "b" -> bSchema)
  private def read(ctx: Ctx, d: Int, what: String): DataFrame =
    Gen.readJson(ctx.spark, s"${inDir(d)}/$what", schemas(what))

  private def judged(b: DataFrame): DataFrame =
    TextAnalysis.qualityGate(b, "text", "lang")
      .select(col("doc_id"), col("keep"), col("fail_mask"), pmod(col("doc_id"), lit(8L)).as("pt"))

  private def queryVecs(d: Int): Seq[(Long, Array[Float])] = {
    val r = Gen.rng(seed, "vq", d)
    (0 until VecQueries).map(q => (10000000L + q, Gen.near(r, centres(r.nextInt(Cells)), 0.3)))
  }

  private def vecQueries(ctx: Ctx, d: Int): DataFrame = ctx.spark.createDataFrame(
    java.util.Arrays.asList(queryVecs(d).map { case (id, v) => Row(id, v.toSeq) }: _*), vecSchema)

  private def cosine(a: Array[Float], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    a.indices.foreach { i => dot += a(i) * b(i); na += a(i).toDouble * a(i); nb += b(i) * b(i) }
    dot / math.sqrt(na * nb)
  }

  /** Exact cosine top-10 over the base vectors, on the driver. */
  private def exactTop10(d: Int): Map[Long, Seq[Long]] =
    queryVecs(d).map { case (q, qv) =>
      q -> baseVecs.toSeq.map { case (id, v) => (-cosine(qv, v.map(_.toDouble)), id) }.sorted.take(10).map(_._2)
    }.toMap

  /** The base vectors with their nearest cell, assigned on the driver: the
    * IVF index `ivfTopK` probes (the assignment itself is not measured).
    */
  private def assignBase(ctx: Ctx): DataFrame = {
    val rows = baseVecs.toSeq.map { case (id, v) =>
      Row(id, v.toSeq, centres.indices.maxBy(c => cosine(v, centres(c))).toLong)
    }
    ctx.spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType.fromDDL("vec_id long, embedding array<float>, centroid_id long"))
  }

  private def textQueries(ctx: Ctx, d: Int): DataFrame = {
    val r = Gen.rng(seed, "tq", d)
    val rows = (0 until 8).map(q => Row(q.toLong, Gen.terms(r, 3)))
    ctx.spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType.fromDDL("query_id long, terms array<string>"))
  }

  /** Build every store from the base snapshot (day 0). The five builds are
    * independent, so set-up runs them concurrently, which keeps a run within
    * the benchmark's run budget; the timed days are a single closed-loop
    * client.
    */
  private def build(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val docs = read(ctx, 0, "docs")
    val cents = centroidsDf(ctx)
    val builds: Seq[() => Unit] = Seq(
      () => ctx.op("setup", "ext:DedupStores.build")(
        DedupStores.build(spark, docs, "doc_id", "text", st("dedup/fp"), st("dedup/idx"))),
      () => ctx.op("setup", "ext:VectorStore.build")(
        VectorStore.build(spark, read(ctx, 0, "vecs"), cents, "vec_id", "embedding", st("vec"),
          dim = Dim, m = 4, k = 16, stride = 3)),
      () => ctx.op("setup", "ext:IndexStore.appendDay")(
        IndexStore.appendDay(spark, docs, "doc_id", "text", "d0", st("bm25"))),
      () => ctx.op("setup", "ext:ViewStore.appendDay")(
        ViewStore.appendDay(spark, st("view"), read(ctx, 0, "a"), read(ctx, 0, "b"), "okey",
          Seq("okey", "lineno"), Seq("okey"))),
      () => ctx.op("setup", "manifest:ManifestStore.write")(
        ManifestStore.write(spark, judged(docs), st("judge"), "pt")))
    assigned = assignBase(ctx)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(builds.size)
    try builds.map(b => pool.submit(new Runnable { def run(): Unit = b() })).foreach(_.get())
    finally pool.shutdown()
  }

  private var assigned: DataFrame = _
  private def centroidsDf(ctx: Ctx): DataFrame = ctx.spark.createDataFrame(java.util.Arrays.asList(
    centres.zipWithIndex.map { case (c, i) => Row(i.toLong, c.map(_.toFloat).toSeq) }.toSeq: _*), vecSchema)
  private val exactFlagged = mutable.Map.empty[Int, Set[Long]]

  /** One day: forget, then per store probe or read with seeded queries and
    * fold the day in, curate, and maintain every table.
    */
  private def day(ctx: Ctx, d: Int): Unit = {
    val spark = ctx.spark
    val docs = read(ctx, d, "docs")
    forget(ctx, d)
    // the probe also re-submits content forgotten from DedupStores, under
    // fresh ids: erased content must no longer read as already seen
    val resubmitted = {
      import spark.implicits._
      forgotFp.toSeq.map(i => (Resubmit + i, docText(i)._1, "en")).toDF("doc_id", "text", "lang")
    }
    ctx.op("read", "ext:DedupStores.probe") {
      exactFlagged(d) = DedupStores.probe(spark, docs.unionByName(resubmitted), "doc_id", "text",
        st("dedup/fp"), st("dedup/idx"))
        .filter(col("is_exact_dup")).select("doc_id").collect().map(_.getLong(0)).toSet
    }
    ctx.op("write", "ext:DedupStores.append")(
      DedupStores.append(spark, docs, "doc_id", "text", st("dedup/fp"), st("dedup/idx")))
    ctx.op("write", "ext:VectorStore.appendDay")(
      VectorStore.appendDay(spark, read(ctx, d, "vecs"), "vec_id", "embedding", st("vec"),
        dim = Dim, m = 4, k = 16, stride = 3))
    ctx.op("read", "ext:VectorStore.probe") {
      VectorStore.probe(spark, vecQueries(ctx, d), "vec_id", "embedding", st("vec"),
        dim = Dim, m = 4, k = 16, stride = 3, nprobe = 4, topK = 10)
        .select("vec_id").collect()
    }
    ctx.op("write", "ext:IndexStore.appendDay")(
      IndexStore.appendDay(spark, docs, "doc_id", "text", s"d$d", st("bm25")))
    ctx.op("read", "ext:IndexStore.bm25Probe") {
      IndexStore.bm25Probe(spark, st("bm25"), textQueries(ctx, d), "doc_id", 10)
        .select("doc_id").collect()
    }
    ctx.op("write", "ext:ViewStore.appendDay")(
      ViewStore.appendDay(spark, st("view"), read(ctx, d, "a"), read(ctx, d, "b"), "okey",
        Seq("okey", "lineno"), Seq("okey")))
    ctx.op("read", "ext:ViewStore.readView") {
      viewTotals = ViewStore.readView(spark, st("view")).groupBy("prio")
        .agg(count(lit(1)), sum("qty")).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    }
    ctx.op("write", "streaming:StreamUpsert.replayedPipeline")(
      StreamUpsert.replayedPipeline(spark, docs.withColumn("__b", lit(0L)),
        Seq("doc_id", "text", "lang"), "__b", s"$dir/stream/day$d", st("judge"), Seq("doc_id"), Seq("pt"),
        judged))
    curate(ctx, d, docs)
    maintain(ctx)
    if (ctx.inTimed) ctx.timedRows += dayRows(d)
  }

  private var viewTotals = Map.empty[String, (Long, Double)]
  private val labels = mutable.Map.empty[Int, Map[Long, Long]]
  private val pairsOut = mutable.Map.empty[Int, Seq[(Long, Long)]]
  private val ivfOut = mutable.Map.empty[Int, Map[Long, Seq[Long]]]

  /** The one-shot LLM-data operators over the day's increment — no store,
    * no commit: quality gate, MinHash near-duplicate pairs, duplicate
    * clusters, then IVF top-k over the base vectors.
    */
  private def curate(ctx: Ctx, d: Int, docs: DataFrame): Unit = {
    val kept = ctx.op("curate", "ext:TextAnalysis.qualityGate")(
      TextAnalysis.qualityGate(docs, "text", "lang").filter(col("keep"))
        .select("doc_id", "text").localCheckpoint(true))
    val pairs = kept.flatMap(k => ctx.op("curate", "ext:Dedup.minhashPairs")(
      Dedup.minhashPairs(k, "doc_id", "text").localCheckpoint(true)))
    pairs.foreach { p =>
      pairsOut(d) = p.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      ctx.op("curate", "ext:Dedup.duplicateClusters") {
        labels(d) = Dedup.duplicateClusters(p).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
    }
    ctx.op("ann", "ext:Similarity.ivfTopK") {
      ivfOut(d) = topK(Similarity.ivfTopK(assigned, centroidsDf(ctx), vecQueries(ctx, d),
        "vec_id", "embedding", k = 10, nprobe = 4))
    }
  }

  private def topK(df: DataFrame): Map[Long, Seq[Long]] =
    df.select("query_id", "rank", "neighbor_id").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq }

  private val recall = mutable.ArrayBuffer.empty[Double]
  private val precision = mutable.ArrayBuffer.empty[Double]
  private val candidates = mutable.ArrayBuffer.empty[Double]

  /** Planted day clusters come back whole; ivfTopK recall@10 against an
    * exact cosine top-10 of the same queries computed on the driver.
    */
  private def checkCurate(ctx: Ctx, d: Int): Unit = {
    val lab = labels.getOrElse(d, Map.empty)
    val cl = clusters(d)
    val recovered = cl.count(ids => ids.forall(lab.contains) && ids.map(lab).distinct.size == 1)
    ctx.check("curate.clusters_recovered", recovered == cl.size, s"day $d: $recovered of ${cl.size}")
    val sameCluster = cl.flatMap(ids => ids.map(_ -> ids.head)).toMap
    val ps = pairsOut.getOrElse(d, Nil)
    candidates += ps.size
    precision += (if (ps.isEmpty) 0.0
      else ps.count { case (a, b) => sameCluster.get(a).exists(sameCluster.get(b).contains) }.toDouble / ps.size)
    val exact = exactTop10(d)
    val got = ivfOut.getOrElse(d, Map.empty)
    val rc = exact.map { case (q, ns) => (ns.toSet & got.getOrElse(q, Nil).toSet).size }.sum.toDouble /
      (10 * exact.size)
    recall += rc
    ctx.check("curate.recall_at_10", rc >= RecallFloor, s"day $d: recall@10 $rc")
  }

  /** Forget seeded id lists from the two cheapest store families: base
    * documents from the upper half of the snapshot from DedupStores, lines
    * staged on earlier days from ViewStore. VectorStore.forget and
    * IndexStore.forget are not run: a run measures one day and cannot
    * afford the four forgets of a day within the benchmark's run budget.
    */
  private def forget(ctx: Ctx, d: Int): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val r = Gen.rng(seed, "forget", d)
    val candidates = (BaseDocs / 2 + 1L to BaseDocs).filterNot(forgotFp.contains)
    val ids = Seq.fill(ForgetN)(candidates(r.nextInt(candidates.size))).distinct
    ctx.op("forget", "ext:DedupStores.forget")(DedupStores.forget(spark,
      ids.map(i => (i, docText(i)._1)).toDF("doc_id", "text"), "doc_id", "text", st("dedup/fp"), st("dedup/idx")))
    forgotFp ++= ids
    val keys = lines.keys.filter(k => lineDay(k) < d).toSeq
    val doomed = Seq.fill(ForgetN)(keys(r.nextInt(keys.size))).distinct
    ctx.op("forget", "ext:ViewStore.forgetA")(ViewStore.forgetA(spark, st("view"),
      doomed.toDF("okey", "lineno"), "okey", Seq("okey", "lineno"), d.toLong))
    doomed.foreach(lines.remove)
  }

  /** The maintenance pass: compact every store table, then vacuum it with
    * no retention. With a few hundred rows a day most tables are rewritten
    * whole by each merge, so the day-partitioned tables (IndexStore stats)
    * carry most of the compaction work.
    */
  private def maintain(ctx: Ctx): Unit = {
    val tables = ManifestLayer.tables(s"$dir/stores")
    ctx.op("maint", "ext:ManifestStore.compact")(tables.foreach(t => ManifestStore.compact(ctx.spark, t)))
    ctx.op("maint", "ext:ManifestStore.vacuum")(tables.foreach(t => ManifestStore.vacuum(ctx.spark, t, 0L)))
  }

  private def check(ctx: Ctx, d: Int): Unit = {
    val spark = ctx.spark
    ctx.check("store.exact_dups_flagged", exactFlagged.get(d).map(_.filter(_ < Resubmit)).contains(planted(d)),
      s"day $d: flagged ${exactFlagged.get(d).map(_.size)} planted ${planted(d).size}")
    ctx.check("store.forgotten_content_not_flagged", exactFlagged.get(d).exists(_.forall(_ < Resubmit)),
      s"day $d: ${exactFlagged.get(d).map(_.filter(_ >= Resubmit))}")
    // the view's totals against a plain aggregation of the generated rows
    val want = lines.toSeq.collect { case ((okey, _), qty) if orders.contains(okey) => orders(okey) -> qty }
      .groupBy(_._1).map { case (p, xs) => p -> (xs.size.toLong, xs.map(_._2).sum) }
    val close = want.keySet == viewTotals.keySet && want.forall { case (p, (n, q)) =>
      viewTotals(p)._1 == n && math.abs(viewTotals(p)._2 - q) < 1e-6 * math.max(1.0, q)
    }
    ctx.check("store.view_totals", close, s"day $d: got $viewTotals want $want")
    val judgedRows = ManifestStore.read(spark, st("judge")).count()
    ctx.check("store.judge_rows", judgedRows == lastDocId, s"day $d: $judgedRows of $lastDocId docs")
    checkCurate(ctx, d)
  }

  // -- Workload ------------------------------------------------------------
  def stage(ctx: Ctx, d: String): Unit = {
    seed = ctx.seed; dir = d
    Seq(docText, orders, lines, planted, clusters, dayRows, dayBytes).foreach(_.clear())
    vecIds.clear(); baseVecs.clear(); centres.clear(); forgotFp.clear(); lineDay.clear()
    lastDocId = 0; lastOkey = 0
    stageDay(ctx, 0)
  }

  /** Building the stores from the base snapshot is this workload's warm
    * step: a full untimed day would double the run (each day is a few dozen
    * commits), so day 1 is the first timed day.
    */
  def warm(ctx: Ctx): Unit = {
    build(ctx)
    ctx.watchRoots = Seq(s"$dir/stores")
  }

  def prepare(ctx: Ctx, n: Int): Unit = stageDay(ctx, n)

  def step(ctx: Ctx, n: Int): Unit = day(ctx, n)

  def afterStep(ctx: Ctx, n: Int): Unit = check(ctx, n)

  private def userBytes(days: Seq[Int]): Long = days.map(dayBytes).sum

  def namedMetrics(ctx: Ctx): Seq[(String, Double, String)] = {
    val fg = ctx.timedSeconds("forget")
    val onDisk = Files2.du(s"$dir/stores")._2
    Stats.timing("store_append", ctx.timedSeconds("write")) ++
      Stats.timing("store_probe", ctx.timedSeconds("read")) ++ Seq(
      ("store_forget_p50_s", if (fg.isEmpty) Double.NaN else Stats.median(fg), "s"),
      ("store_maint_s", ctx.timedSeconds("maint").sum, "s"),
      ("curate_docs_per_s", ctx.steps * DayDocs / ctx.timedSeconds("curate").sum, "1/s"),
      ("ann_queries_per_s", ctx.steps * VecQueries / ctx.timedSeconds("ann").sum, "1/s"),
      ("store_bytes_per_user_byte", onDisk.toDouble / userBytes(0 to ctx.steps), "ratio"))
  }

  def layerMetrics(ctx: Ctx, t: TraceSummary): Map[String, Double] = {
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val calls = Seq("DedupStores.append", "DedupStores.probe", "DedupStores.forget",
      "VectorStore.appendDay", "VectorStore.probe", "IndexStore.appendDay", "IndexStore.bm25Probe",
      "ViewStore.appendDay", "ViewStore.readView", "ViewStore.forgetA")
    val batches = ctx.tracer.streamBatches
    val drains = t.named("streaming:StreamUpsert.replayedPipeline").map(_.id).toSet
    val timedBatches = batches.filter(b => drains.contains(b._1)).map(_._2 / 1e3)
    calls.map(c => s"ext.${c}_s" -> t.p50(s"ext:$c")).toMap ++ Map(
      "ext.compact_s" -> t.perStep("ext:ManifestStore.compact"),
      "ext.vacuum_s" -> t.perStep("ext:ManifestStore.vacuum"),
      "streaming.batches" -> timedBatches.size / t.steps,
      "streaming.batch_p50_s" -> (if (timedBatches.isEmpty) 0.0 else Stats.median(timedBatches)),
      "streaming.drain_s" -> t.p50("streaming:StreamUpsert.replayedPipeline"),
      "ext.TextAnalysis.qualityGate_s" -> t.p50("ext:TextAnalysis.qualityGate"),
      "ext.Dedup.minhashPairs_s" -> t.p50("ext:Dedup.minhashPairs"),
      "ext.Dedup.duplicateClusters_s" -> t.p50("ext:Dedup.duplicateClusters"),
      "ext.Similarity.ivfTopK_s" -> t.p50("ext:Similarity.ivfTopK"),
      "ext.Dedup.candidate_pairs" -> mean(candidates.toSeq),
      "ext.Dedup.pair_precision" -> mean(precision.toSeq),
      "ext.Similarity.recall_at_10" -> mean(recall.toSeq)
    ) ++ ManifestLayer.metrics(ctx, t, userBytes(1 to ctx.steps))
  }
}
