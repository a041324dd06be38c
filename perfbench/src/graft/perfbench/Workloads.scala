package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.operators._
import graft.streaming.PostingsStream
import graft.weather.{WeatherConfig, WeatherEngine}

/** Shared helpers for the workloads. */
private object W {
  /** Bytes of every regular file under `dirs`. */
  def du(dirs: String*): Long = dirs.map { d =>
    val f = new java.io.File(d)
    if (!f.exists()) 0L
    else java.nio.file.Files.walk(f.toPath).filter(p =>
      java.nio.file.Files.isRegularFile(p)).mapToLong(p =>
      java.nio.file.Files.size(p)).sum()
  }.sum

  def rmrf(d: String): Unit = {
    val f = new java.io.File(d)
    if (f.exists()) {
      val paths = java.nio.file.Files.walk(f.toPath).sorted(
        java.util.Comparator.reverseOrder[java.nio.file.Path]()).toArray
      paths.foreach(p => java.nio.file.Files.delete(p.asInstanceOf[java.nio.file.Path]))
    }
  }

  /** Collect at most `cap` rows; more fails loudly. */
  def take(df: DataFrame, cap: Int): Array[Row] = {
    val rows = df.limit(cap + 1).collect()
    if (rows.length > cap)
      throw new IllegalStateException(s"more than $cap rows collected")
    rows
  }

  def idsIn(c: Column, ids: Iterable[Long]): Column =
    c.isin(ids.toSeq.map(Long.box): _*)

  val rates = Map("en" -> 0.4, "zh" -> 0.8)
}

/** The paper's own path: a scheduled tick flattens one batch of nested
  * weather JSON into the CSV export, three parquet sinks and the stats
  * document, scores the newest rows with both registered models, and
  * reads the latest rows back.
  */
final class WeatherEtl(h: Harness) extends Workload {
  private def spark = h.spark
  import h.trace.span
  private val history = 12
  private val rows = Gen.cities.size
  def itemsPerOp: Long = rows

  private var engine: WeatherEngine = _
  private var batch = 0
  private var rawRows = 0L
  private var predRows = 0L
  private var inputBytes = 0L
  private var lastStats: Row = _
  private var lastTemp: Array[Row] = Array.empty
  private var lastCond: Array[Row] = Array.empty
  private var lastLatest: Array[Row] = Array.empty

  private val batches = scala.collection.mutable.Map.empty[Int, Seq[String]]
  private def json(b: Int): Seq[String] =
    batches.getOrElseUpdate(b, Gen.weatherBatch(h.opts.seed, b))

  def generate(): Unit = (0 until history + 64).foreach(json)

  private def frame(docs: Seq[String]): DataFrame = {
    val s = spark; import s.implicits._
    docs.toDF("json").repartition(1)
  }
  private def clock(b: Int): Column =
    lit(Gen.batchTime(b)).cast("timestamp")

  def build(): Unit = {
    engine = new WeatherEngine(spark, h.work("weather"))
    val hist = (0 until history).flatMap(json)
    engine.runEtlFromJson(frame(hist), clock(history - 1))
    // one time-ordered holdout fold: every fold is a full forest fit, and
    // the run's time budget goes to timed ticks instead
    h.trace.span("setup.train") { engine.train(numTrees = 10, nSplits = 1) }
    batch = history
    rawRows = hist.size
    predRows = 0L
    inputBytes = hist.map(_.getBytes("UTF-8").length.toLong).sum
  }

  /** Three ticks: the first pays first-call costs (about 1.5× a steady
    * tick) and the next ones still get faster by 5–10% each as the JIT
    * compiles more of the engine's code. With two, the first timed tick
    * was still warming and the median's spread across seeds doubled.
    */
  def warmup(): Unit = (0 until 3).foreach { _ => op(-1); check(-1) }

  def op(i: Int): Map[String, Double] = {
    val docs = json(batch)
    inputBytes += docs.map(_.getBytes("UTF-8").length.toLong).sum
    lastStats = span("weather.runEtlFromJson") {
      engine.runEtlFromJson(frame(docs), clock(batch)).collect().head
    }
    val (t, c) = span("ml.predict") {
      (W.take(engine.predictTemp(limit = rows), rows),
        W.take(engine.predictWeather(limit = rows), rows))
    }
    lastTemp = t; lastCond = c
    lastLatest = span("weather.latest") {
      W.take(engine.latest(WeatherConfig.rawTable, rows), rows)
    }
    Map.empty
  }

  def check(i: Int): Unit = {
    val b = batch
    batch += 1
    rawRows += rows
    predRows += 2L * rows
    h.check("etl.stats_total_records")(
      lastStats.getAs[Long]("total_records") == rows,
      s"${lastStats.getAs[Long]("total_records")} != $rows")
    val raw = engine.query(WeatherConfig.rawTable).count()
    h.check("etl.raw_log_grows_by_batch")(raw == rawRows, s"$raw != $rawRows")
    val cur = engine.query(WeatherConfig.currentTable)
      .agg(count(lit(1)), countDistinct(col("city"))).head()
    h.check("etl.snapshot_one_row_per_city")(
      cur.getLong(0) == rows && cur.getLong(1) == rows, cur.toString)
    h.check("etl.one_temp_prediction_per_row")(
      lastTemp.length == rows &&
        lastTemp.map(_.getAs[String]("city")).distinct.length == rows &&
        lastTemp.forall(r => !r.isNullAt(r.fieldIndex("pred_temperature"))),
      s"${lastTemp.length} rows")
    h.check("etl.one_condition_prediction_per_row")(
      lastCond.length == rows &&
        lastCond.map(_.getAs[String]("city")).distinct.length == rows &&
        lastCond.forall(r => !r.isNullAt(r.fieldIndex("pred_condition"))),
      s"${lastCond.length} rows")
    val preds = engine.query(WeatherConfig.predictionsTable).count()
    h.check("etl.predictions_persisted")(preds == predRows, s"$preds != $predRows")
    h.check("etl.latest_is_newest_batch")(
      lastLatest.length == rows &&
        lastLatest.forall(_.getAs[Long]("timestamp") == Gen.batchTime(b)),
      s"${lastLatest.length} rows")
  }

  def finish(): Unit = ()

  def storeBytes: (Long, Long) =
    (W.du(h.work("weather")), inputBytes)
}

/** Write-heavy store maintenance: each tick admits an arrival slice
  * through the ingest pipeline, the ANN index and the postings log, then
  * retracts earlier documents from every store and reads them back.
  */
final class CorpusMaintain(h: Harness) extends Workload {
  private def spark = h.spark
  import h.trace.span
  private val priorDocs = 1200
  private val slice = 100
  private val victimsPerTick = 5
  def itemsPerOp: Long = slice

  private var prior: Array[Gen.Doc] = _
  private var slices: IndexedSeq[Array[Gen.Doc]] = _
  private var emb: Gen.Embedder = _
  private var priorDf: DataFrame = _
  private var evalDf: DataFrame = _
  private var base = ""
  private def state = s"$base/state"
  private def ann = s"$base/ann"
  private def postings = s"$base/postings"

  private val admitted = scala.collection.mutable.ArrayBuffer.empty[Gen.Doc]
  private val retracted = scala.collection.mutable.Set.empty[Long]
  private var victimR: java.util.Random = _
  private var tick = 0
  private var lastVictims: Seq[Long] = Nil
  private var lastProbeIds: Seq[Long] = Nil
  private var lastTfHits = 0L

  def generate(): Unit = {
    val seed = h.opts.seed
    emb = new Gen.Embedder(seed)
    prior = Gen.corpus(seed, priorDocs)
    // arrivals: fresh documents plus near copies of prior ones, never
    // from the eval split (the tick contract)
    val r = new java.util.Random(seed * 7919L + 1L)
    val fresh = Gen.corpus(seed + 1L, 64 * slice * 2, idBase = priorDocs)
      .filterNot(d => Gen.evalSources.contains(d.source))
    slices = fresh.grouped(slice).take(64).map(_.map { d =>
      if (r.nextInt(100) < 5) {
        val w = prior(r.nextInt(prior.length)).text.split(" ")
        w(r.nextInt(w.length)) = "dup"
        d.copy(text = w.mkString(" "))
      } else d
    }).toIndexedSeq
    priorDf = Gen.docsParquet(spark, prior.toSeq, h.work("input/prior"), 4)
    evalDf = priorDf.filter(col("source").isin(Gen.evalSources: _*))
  }

  def build(): Unit = {
    base = h.work("maint")
    val train = prior.filterNot(d => Gen.evalSources.contains(d.source))
    h.trace.span("setup.index_build") {
      val manifest = PipelineOps.trainingManifest(priorDf, Gen.evalSources,
        minQualityBps = 4000L, contamThreshold = 0.5, rates = W.rates,
        defaultRate = 0.6, capacity = 256, shards = 4,
        stageDir = Some(s"$base/prior"), nearDupThreshold = Some(0.8))
      IngestPipeline.init(spark.read.parquet(s"$base/prior/gated_deduped"),
        manifest, state)
      AnnIndex.init(spark, Gen.embFrame(spark, train.map(_.id).toSeq, emb, 4),
        "doc_id", "embedding", ann, kCells = 8, m = 16, kCodewords = 64)
      PostingsStream.applyBatch(
        priorDf.filter(!col("source").isin(Gen.evalSources: _*)), postings, 0L)
    }
    admitted.clear(); admitted ++= train
    retracted.clear()
    victimR = new java.util.Random(h.opts.seed * 104729L + 3L)
    storeBytesBefore = W.du(state, ann, postings)
    tick = 0
  }

  /** No warm-up tick: a tick costs as much as the whole measured window,
    * and the set-up's own builds already ran the ingest, index and
    * postings code once.
    */
  def warmup(): Unit = ()

  def op(i: Int): Map[String, Double] = {
    val docs = slices(tick)
    val id = 2L * tick + 2L
    val df = Gen.docsFrame(spark, docs.toSeq)
    span("operators.IngestPipeline.tick") {
      graft.Bench.materialize(IngestPipeline.tick(df, evalDf,
        Gen.evalSources, state, id, minQualityBps = 4000L,
        contamThreshold = 0.5, rates = W.rates, defaultRate = 0.6,
        capacity = 256, shards = 4, nearDupThreshold = 0.7,
        hotShingleDf = Long.MaxValue))
    }
    span("operators.AnnIndex.appendBatch") {
      AnnIndex.appendBatch(spark, Gen.embFrame(spark, docs.map(_.id).toSeq, emb),
        "doc_id", "embedding", ann, id)
    }
    span("streaming.PostingsStream.applyBatch") {
      PostingsStream.applyBatch(df, postings, id)
    }
    admitted ++= docs
    // seed-chosen earlier documents, never the slice just admitted
    val pool = admitted.dropRight(docs.length).filterNot(d => retracted(d.id))
    val victims = Seq.fill(victimsPerTick)(pool(victimR.nextInt(pool.size)))
      .distinctBy(_.id)
    lastVictims = victims.map(_.id)
    val t0 = System.nanoTime()
    span("takedown.visible") {
      span("operators.TakedownOps.retract") {
        TakedownOps.retract(Gen.docsFrame(spark, victims), id + 1L,
          TakedownTargets(postingsStore = Some(postings), annBase = Some(ann),
            annIdCol = "doc_id", ingestStateDir = Some(state)))
      }
      val q = Gen.embFrame(spark, lastVictims, emb)
        .select(col("doc_id").as("qid"), col("embedding").as("qv"))
      lastProbeIds = span("operators.AnnIndex.probe") {
        W.take(AnnIndex.probe(spark, q, "qid", "qv", ann, "doc_id", 5,
          nprobe = 2), 5 * victimsPerTick).map(_.getAs[Long]("doc_id")).toSeq
      }
      lastTfHits = span("streaming.PostingsStream.readTf") {
        PostingsStream.readTf(spark, postings).get
          .filter(W.idsIn(col("doc_id"), lastVictims)).count()
      }
    }
    val visible = (System.nanoTime() - t0) / 1e9
    retracted ++= lastVictims
    tick += 1
    Map("takedown_visible_s" -> visible)
  }

  def check(i: Int): Unit = {
    h.check("maint.retracted_not_in_probe")(
      lastProbeIds.nonEmpty && !lastProbeIds.exists(lastVictims.contains),
      s"probe returned ${lastProbeIds.filter(lastVictims.contains)}")
    h.check("maint.retracted_not_in_postings")(lastTfHits == 0L,
      s"$lastTfHits tf rows")
    val inManifest = DeltaManifest.readManifest(spark, state)
      .filter(W.idsIn(col("doc_id"), retracted)).count()
    h.check("maint.retracted_not_in_manifest")(inManifest == 0L,
      s"$inManifest manifest rows")
    val dl = PostingsStream.readDl(spark, postings).map(_.count()).getOrElse(-1L)
    val live = admitted.count(d => !retracted(d.id)).toLong
    h.check("maint.postings_docs_equal_survivors")(dl == live, s"$dl != $live")
    val bytes = W.du(state, ann, postings)
    if (i >= 0) written += (bytes - storeBytesBefore) / 1e6
    storeBytesBefore = bytes
  }
  private val written = scala.collection.mutable.ArrayBuffer.empty[Double]
  private var storeBytesBefore = 0L

  def finish(): Unit = {
    if (written.nonEmpty)
      h.figure("store_written_mb", written.sorted.apply(written.size / 2))
    // full recount: the maintained term postings equal a one-pass count
    // over the surviving documents
    val survivors = Gen.docsFrame(spark, admitted.filterNot(d => retracted(d.id)).toSeq)
    val expect = RetrievalOps.termCounts(survivors, 2).select("doc_id", "tok", "tf")
    val got = PostingsStream.readTf(spark, postings).get.select("doc_id", "tok", "tf")
    val diff = got.exceptAll(expect).count() + expect.exceptAll(got).count()
    h.check("maint.postings_equal_recount")(diff == 0L, s"$diff differing rows")
  }

  def storeBytes: (Long, Long) = {
    val in = admitted.map(d => d.text.getBytes("UTF-8").length.toLong + 4L * Gen.dim).sum
    (W.du(state, ann, postings), in)
  }
}

/** Read-only serving against stores built during setup: each request
  * sends one query batch to the ANN probe and one to BM25 over the
  * maintained postings.
  */
final class RetrievalServe(h: Harness) extends Workload {
  private def spark = h.spark
  import h.trace.span
  private val corpusDocs = 2000
  private val queries = 10
  def itemsPerOp: Long = queries

  private var docs: Array[Gen.Doc] = _
  private var docsDf: DataFrame = _
  private var emb: Gen.Embedder = _
  private var vecs: Array[Array[Float]] = _
  private var batches: IndexedSeq[Seq[Long]] = _
  private var base = ""
  private def ann = s"$base/ann"
  private def postings = s"$base/postings"
  private var req = 0
  private var lastAnn: Array[Row] = Array.empty
  private var lastBm25: Array[Row] = Array.empty
  private var lastQ: Seq[Long] = Nil
  private val recalls = scala.collection.mutable.ArrayBuffer.empty[Double]

  def generate(): Unit = {
    emb = new Gen.Embedder(h.opts.seed)
    docs = Gen.corpus(h.opts.seed, corpusDocs)
    vecs = docs.map(d => emb(d.id))
    docsDf = Gen.docsParquet(spark, docs.toSeq, h.work("input/docs"), 4)
    val r = new java.util.Random(h.opts.seed * 31337L + 5L)
    batches = IndexedSeq.fill(400)(
      Seq.fill(queries)(r.nextInt(corpusDocs).toLong).distinct)
  }

  def build(): Unit = {
    base = h.work("serve")
    h.trace.span("setup.index_build") {
      val ids = docs.map(_.id).toSeq
      def part(k: Int) = Gen.embFrame(spark, ids.filter(_ % 3 == k), emb, 4)
      AnnIndex.init(spark, part(0), "doc_id", "embedding", ann,
        kCells = 8, m = 16, kCodewords = 64)
      Par.run(
        () => AnnIndex.appendBatch(spark, part(1), "doc_id", "embedding", ann, 1L),
        () => AnnIndex.appendBatch(spark, part(2), "doc_id", "embedding", ann, 2L))
      PostingsStream.applyBatch(docsDf, postings, 0L)
    }
    req = 0
  }

  /** The first request pays the JVM's and Spark's first-call costs (about
    * twice a steady request) and the second is still 10–40% slower than
    * steady; both are spent before timing starts. Probe latency keeps
    * settling for several more calls; the timed requests report their
    * median, which those calls barely move.
    */
  def warmup(): Unit = (0 until 2).foreach(_ => op(-1))

  private def annQuery(q: Seq[Long]): DataFrame =
    Gen.embFrame(spark, q, emb).select(col("doc_id").as("qid"),
      col("embedding").as("qv"))

  def op(i: Int): Map[String, Double] = {
    val q = batches(req % batches.size)
    req += 1
    lastQ = q
    lastAnn = span("operators.AnnIndex.probe") {
      W.take(AnnIndex.probe(spark, annQuery(q), "qid", "qv", ann, "doc_id", 5,
        nprobe = 2, excludeSelf = true), 5 * queries)
    }
    val qids = { val s = spark; import s.implicits._; q.toDF("q_id") }
    lastBm25 = span("operators.RetrievalOps.bm25TopKFromState") {
      val tf = PostingsStream.readTf(spark, postings).get
      val dl = PostingsStream.readDl(spark, postings).get
      W.take(RetrievalOps.bm25TopKFromState(tf, dl, docsDf, qids, 5), 5 * queries)
    }
    Map.empty
  }

  def check(i: Int): Unit = {
    val byQ = lastAnn.groupBy(_.getAs[Long]("qid"))
    h.check("serve.ann_k_results_per_query")(
      lastQ.forall(q => byQ.get(q).exists(rs => rs.length == 5 &&
        rs.map(_.getAs[Long]("doc_id")).distinct.length == 5 &&
        !rs.exists(_.getAs[Long]("doc_id") == q))),
      s"${byQ.map { case (k, v) => k -> v.length }}")
    val recall = lastQ.map { q =>
      val truth = Gen.exactKnn(vecs(q.toInt), vecs, 5, q).toSet
      byQ.getOrElse(q, Array.empty[Row]).count(r =>
        truth(r.getAs[Long]("doc_id"))) / 5.0
    }
    recalls += recall.sum / recall.size
    h.check("serve.bm25_top5_per_query")(
      lastBm25.groupBy(_.getAs[Long]("q_id")).values.forall(_.length <= 5) &&
        lastBm25.forall(r => r.getAs[Long]("q_id") != r.getAs[Long]("doc_id")),
      s"${lastBm25.length} rows")
    if (i == 0) {
      // BM25 from the maintained postings equals BM25 over the raw docs
      val s = spark; import s.implicits._
      val ref = W.take(RetrievalOps.bm25TopK(docsDf, lastQ.toDF("q_id"), 5), 5 * queries)
      def norm(rs: Array[Row]) = rs.map(r => (r.getAs[Long]("q_id"),
        r.getAs[Long]("doc_id"), r.getAs[Long]("score_bp"))).sorted.toSeq
      h.check("serve.bm25_state_equals_raw")(norm(ref) == norm(lastBm25),
        s"${norm(ref).take(3)} vs ${norm(lastBm25).take(3)}")
    }
  }

  def finish(): Unit =
    h.figure("ann_recall_at_5", recalls.sum / math.max(1, recalls.size))

  def storeBytes: (Long, Long) =
    (W.du(ann, postings),
      docs.map(d => d.text.getBytes("UTF-8").length.toLong + 4L * Gen.dim).sum)
}

/** One bulk curation pass over a 50k-document corpus: the training
  * manifest build, then BPE token counts for the kept documents. The
  * corpus content is fixed; the seed only permutes row order, so the
  * manifest must come out identical for every seed.
  */
final class Curate10x(h: Harness) extends Workload {
  private def spark = h.spark
  import h.trace.span
  /** Fixed content seed of the curation corpus. */
  private val contentSeed = 20260417L
  private val nDocs = 50000
  def itemsPerOp: Long = nDocs

  private var docs: DataFrame = _
  private var inputBytes = 0L
  private var merges: DataFrame = _
  private var pass = 0
  private var manifest: DataFrame = _
  private var counted = 0L

  def generate(): Unit = {
    val all = Gen.corpus(contentSeed, nDocs)
    inputBytes = all.map(_.text.getBytes("UTF-8").length.toLong).sum
    val r = new java.util.Random(h.opts.seed)
    val perm = all.clone()
    var i = perm.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = perm(i); perm(i) = perm(j); perm(j) = t
      i -= 1
    }
    docs = Gen.docsParquet(spark, perm.toSeq, h.work("input/docs"),
      2 * spark.sparkContext.defaultParallelism)
  }

  def build(): Unit = {
    val dir = h.work("bpe")
    h.trace.span("setup.train") {
      BpeOps.train(docs, "text", numMerges = 16)
        .coalesce(1).write.mode("overwrite").parquet(dir)
    }
    merges = spark.read.parquet(dir)
    pass = 0
  }

  /** JIT and codegen warm-up on a slice, so the first timed pass does
    * not pay first-call costs.
    */
  def warmup(): Unit = curate(docs.filter(pmod(col("doc_id"), lit(20)) === 0), "warm")

  private def curate(in: DataFrame, tag: String): Long = {
    val stage = h.work(s"curate/$tag")
    manifest = span("operators.PipelineOps.trainingManifest") {
      PipelineOps.trainingManifest(in, Gen.evalSources, minQualityBps = 4000L,
        contamThreshold = 0.5, rates = W.rates, defaultRate = 0.6,
        capacity = 256, shards = 4, stageDir = Some(s"$stage/stage"),
        nearDupThreshold = Some(0.8))
        .write.mode("overwrite").parquet(s"$stage/manifest")
      spark.read.parquet(s"$stage/manifest")
    }
    span("operators.BpeOps.tokenCountsPerDoc") {
      val kept = in.join(manifest.select("doc_id").distinct(), "doc_id")
      BpeOps.tokenCountsPerDoc(kept, "doc_id", "text", merges)
        .write.mode("overwrite").parquet(s"$stage/tokens")
      spark.read.parquet(s"$stage/tokens").count()
    }
  }

  def op(i: Int): Map[String, Double] = {
    if (pass > 0) W.rmrf(h.work(s"curate/pass${pass - 1}"))
    counted = curate(docs, s"pass$pass")
    pass += 1
    Map.empty
  }

  /** Order-independent digest of the manifest rows. */
  private def digest(m: DataFrame): String = {
    val r = m.agg(count(lit(1)),
      sum(xxhash64(col("shard"), col("chunk_id"), col("doc_id"),
        col("tok_in_chunk")).cast("decimal(38,0)"))).head()
    s"${r.getLong(0)}:${r.getDecimal(1)}"
  }

  def check(i: Int): Unit = {
    val evalIn = manifest.join(docs.filter(col("source").isin(Gen.evalSources: _*)),
      "doc_id").count()
    h.check("curate.no_eval_doc_in_manifest")(evalIn == 0L, s"$evalIn eval docs")
    val over = manifest.groupBy("shard", "chunk_id")
      .agg(sum("tok_in_chunk").as("t")).filter(col("t") > 256).count()
    h.check("curate.no_chunk_over_capacity")(over == 0L, s"$over chunks")
    val kept = manifest.select("doc_id").distinct().count()
    h.check("curate.token_counts_cover_manifest")(counted == kept,
      s"$counted != $kept")
    val d = digest(manifest)
    h.figure("manifest_rows", d.takeWhile(_ != ':').toDouble)
    val expect = scala.util.Try(scala.io.Source.fromFile(h.opts.expect)
      .getLines().map(_.trim).find(_.nonEmpty).get).getOrElse("")
    h.check("curate.manifest_digest_fixed")(d == expect,
      s"digest $d, expected '$expect'")
  }

  /** Traced runs only: the single-threaded baseline. One pass over a
    * quarter of the corpus on all cores, then the same pass in a fresh
    * session on one core; `speedup_vs_1core` is their ratio.
    */
  def finish(): Unit = if (h.opts.traced) {
    def slicePass(tag: String): Double = {
      docs = spark.read.parquet(h.work("input/docs"))
      merges = spark.read.parquet(h.work("bpe"))
      val t0 = System.nanoTime()
      curate(docs.filter(pmod(col("doc_id"), lit(4)) === 0), tag)
      (System.nanoTime() - t0) / 1e9
    }
    val all = slicePass("slice_all_cores")
    h.singleCoreSession()
    h.figure("speedup_vs_1core", slicePass("slice_one_core") / all)
  }

  def storeBytes: (Long, Long) =
    (W.du(h.work(s"curate/pass${pass - 1}")), inputBytes)
}
