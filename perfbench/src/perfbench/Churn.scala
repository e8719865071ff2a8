package perfbench

import java.util.SplittableRandom

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.incremental.{Incremental, IncrementalIndex}
import graft.operators.{Search, TwoTier}
import graft.sinks.ParquetConnector

/** `churn`: a closed loop of change rounds. Each round applies one
  * change batch with `Incremental.applyChangeStreamTo`, folds it into
  * the BM25 token base (`IncrementalIndex.syncTokenBase` + `index`),
  * and then runs one cycle of the search mix against the refreshed
  * index. Freshness is the time from the batch's arrival until it is
  * committed and searchable; reads follow the write they depend on. */
final class Churn(seed: Long) extends Workload {
  import Churn._
  val name = "churn"
  val clients = 1

  private val words = new Gen.Words(seed)
  private val corpus = Gen.corpus(seed, NDocs, words)
  private lazy val vectorsRef: Map[Long, Array[Float]] =
    corpus.docs.map(d => d.id -> Brute.embed(d.text, Pipeline.Dim)).toMap

  private def preview(s: Long, w: Gen.Words, c: Gen.Corpus): Iterator[String] = {
    val m = new Gen.ChangeModel(s, c.docs, w)
    (0 until 5).iterator.flatMap { i =>
      val (b, _) = m.next(i, BatchRows)
      b.upserts.iterator.map(_.toString) ++ b.deletes.iterator.map(_.toString)
    }
  }
  /** A seeded query stream in the fixed kind cycle. */
  private def queries(s: Long): Iterator[Gen.Query] = {
    val r = new SplittableRandom(s)
    Iterator.from(0).map(i => Gen.query(i, r, words, corpus, vectorsRef))
  }
  val digest: String = Gen.digest(Iterator(Gen.corpusDigest(corpus)) ++ preview(seed, words, corpus))
  def regenerateDigest(s: Long): String = {
    val w = new Gen.Words(s)
    val c = Gen.corpus(s, NDocs, w)
    Gen.digest(Iterator(Gen.corpusDigest(c)) ++ preview(s, w, c))
  }
  def inputs: Map[String, Any] = {
    val m = new Gen.ChangeModel(seed, corpus.docs, words)
    val effects = (0 until 20).map(i => m.next(i, BatchRows)._2)
    val mix = queries(seed).take(1000).toSeq.groupBy(_.kind)
      .map { case (k, v) => k -> v.size / 1000.0 }
    Gen.properties(corpus) ++ Map("batch_rows" -> BatchRows,
      "reads_per_round" -> ReadsPerRound, "query_mix" -> mix,
      "content_changes_per_batch" -> effects.map(_.changed.size).sum / 20.0,
      "deletes_per_batch" -> effects.map(_.deleted.size).sum / 20.0)
  }

  private var model: Gen.ChangeModel = null
  private var vectors: Queries.Vectors = null
  private var index: Search.Bm25Index = null
  private var stream: Iterator[Gen.Query] = null
  private var probeFailures = 0L
  private var batchNo = 0
  /** Each read with the source state its index reflects and its result. */
  private val log = mutable.ArrayBuffer[(Gen.Query, Map[String, Gen.Row], Seq[(Long, Double)])]()

  private def sinkPath(ctx: Ctx) = ctx.path("sink")
  private def trackingPath(ctx: Ctx) = ctx.path("tracking")
  private def basePath(ctx: Ctx) = ctx.path("token-base")

  /** A service start over the on-disk state (sink, tracking, token
    * base): build the live BM25 index and warm up on a separate query
    * stream, one query of each kind. */
  def setup(ctx: Ctx): Unit = {
    releaseIndex()
    index = IncrementalIndex.index(ctx.spark, basePath(ctx), "source_key", eager = true)
    queries(seed ^ 0x77a4L).take(Gen.Mix.length).toSeq.groupBy(_.kind).values
      .foreach(qs => Queries.run(ctx, index, vectors, qs.head))
    stream = queries(seed * 31)
  }

  /** Once: the initial sync (the on-disk state every set-up opens) and
    * the static vector side (embeddings and IVF index). No change round:
    * the measured phase runs at least [[MinRounds]] and reports medians. */
  override def warmup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    // the vector side does not depend on the sync: build it beside it
    val docs = corpus.docs.toSeq.map(d => (d.id, d.text)).toDF("doc_id", "text")
    val side = Future(Queries.vectors(ctx, docs))(ExecutionContext.global)
    model = new Gen.ChangeModel(seed, corpus.docs, words)
    val snap = rowsDf(spark, model.state.values.toSeq)
    Incremental.syncSource(spark, snap, process, LogicFp, sinkPath(ctx), trackingPath(ctx))
    IncrementalIndex.syncTokenBase(spark, basePath(ctx), snap.select("source_key", "text"),
      "source_key", "text")
    vectors = Await.result(side, Duration.Inf)
    Main.log("initial sync and vector side done")
  }

  /** Spark's cache matches a file relation by its path: while an index
    * over the token base is persisted, `IncrementalIndex.index` over the
    * same path returns its stale frames. Release it before rebuilding. */
  private def releaseIndex(): Unit =
    if (index != null) Seq(index.idx, index.dls, index.stats, index.impacts).foreach(_.unpersist())

  private def rowsDf(spark: SparkSession, rows: Seq[Gen.Row]): DataFrame = {
    import spark.implicits._
    rows.map(r => (r.key, r.ordinal, r.hash, r.text))
      .toDF("source_key", "ordinal", "content_hash", "text")
  }

  /** Apply one batch and refresh the index; returns rows evaluated and
    * rows re-tokenized. The token base takes the batch's effective
    * content changes and deletions. */
  private def apply(ctx: Ctx, b: Gen.Batch, e: Gen.ChangeModel#Effect): (Long, Long) = {
    val spark = ctx.spark
    import spark.implicits._
    val ups = rowsDf(spark, b.upserts)
    val dels = b.deletes.toDF("source_key", "ordinal")
    if (ctx.trace.enabled) ctx.span("incremental.diff") {
      val d = Incremental.diff(ups, Incremental.readTracking(spark, trackingPath(ctx)), LogicFp)
      d.toEvaluate.count() + d.ordinalOnly.count()
    }
    val nEval = ctx.span("incremental.apply") {
      Incremental.applyChangeStreamTo(spark, ups, dels, process, LogicFp,
        ParquetConnector, sinkPath(ctx), trackingPath(ctx))
    }
    val changed = e.changed.map(r => (r.key, r.text)).toDF("source_key", "text")
    val deleted = e.deleted.toDF("source_key")
    val nTok = ctx.span("index.sync_token_base") {
      IncrementalIndex.syncTokenBase(spark, basePath(ctx), changed, "source_key", "text",
        Some(deleted))
    }
    releaseIndex()
    index = ctx.span("index.rebuild") {
      IncrementalIndex.index(spark, basePath(ctx), "source_key", eager = true)
    }
    (nEval, nTok)
  }

  def measure(ctx: Ctx, seconds: Double): Measured = {
    log.clear()
    val fresh = mutable.ArrayBuffer[Double]()
    val reads = mutable.ArrayBuffer[Double]()
    var writeNs = 0L
    var rows = 0L; var upRows = 0L; var evaluated = 0L; var retok = 0L; var deletedRows = 0L
    var cached = 0.0
    val t0 = System.nanoTime()
    val end = t0 + (seconds * 1e9).toLong
    while (fresh.size < MinRounds || System.nanoTime() < end) {
      val arrived = System.nanoTime()
      val (b, e) = model.next(batchNo, BatchRows)
      batchNo += 1
      val (nEval, nTok) = ctx.span("churn.apply")(apply(ctx, b, e))
      val commit = System.nanoTime()
      fresh += (commit - arrived) / 1e6
      Main.log(f"batch $batchNo committed in ${fresh.last}%.0f ms")
      writeNs += commit - arrived
      rows += e.rows; upRows += b.upserts.size; evaluated += nEval; retok += nTok
      deletedRows += e.deleted.size
      cached = math.max(cached, Pipeline.cachedMb(ctx))
      // the committed change is searchable: its unique new term finds it first
      e.probes.headOption.foreach { case (marker, key) =>
        val hit = ctx.span("churn.probe")(Queries.bm25(ctx, index, Seq(marker), Queries.K))
        if (hit.headOption.map(_._1) != Some(Queries.numericId(key))) probeFailures += 1
      }
      val state = model.state.toMap
      (1 to ReadsPerRound).foreach { _ =>
        val q = stream.next()
        val s = System.nanoTime()
        val res = ctx.span("search.query")(Queries.run(ctx, index, vectors, q))
        reads += (System.nanoTime() - s) / 1e6
        log += ((q, state, res))
      }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val writeS = writeNs / 1e9
    Measured(fresh.size + reads.size, 0, rows.toDouble, reads.toSeq, fresh.toSeq,
      Map("query_p50_ms" -> (if (Main.admissible(reads.size, 0.5)) Main.median(reads.toSeq) else null),
        "query_p95_ms" -> (if (Main.admissible(reads.size, 0.95)) Main.quantile(reads.toSeq, 0.95) else null),
        "freshness_p50_ms" -> (if (Main.admissible(fresh.size, 0.5)) Main.median(fresh.toSeq) else null),
        "freshness_p75_ms" -> (if (Main.admissible(fresh.size, 0.75)) Main.quantile(fresh.toSeq, 0.75) else null),
        "queries" -> reads.size, "batches" -> fresh.size, "wall_s" -> wall,
        "change_rows_per_s" -> rows / writeS),
      Map("incremental.evaluate_ratio" -> evaluated.toDouble / math.max(upRows, 1L),
        "incremental.deleted_rows" -> deletedRows.toDouble,
        "index.retokenized_rows" -> retok.toDouble,
        "artifacts.cached_mb" -> cached,
        "search.ivf.scan_ratio" -> scanRatio(log.collect { case (Gen.IvfQ(p), _, _) => p }.toSeq)))
  }

  /** Share of the corpus the IVF probes scan: rows of the probed clusters. */
  private def scanRatio(probes: Seq[Array[Float]]): Double =
    if (probes.isEmpty) 0.0
    else {
      val sizes = vectors.assigned.groupBy("cluster").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      probes.map { p =>
        vectors.cents.zipWithIndex
          .map { case (c, i) => (Brute.cosine(c.map(_.toFloat), p), i) }
          .sortBy { case (s, i) => (-s, i) }.take(Queries.Probes)
          .map(x => sizes.getOrElse(x._2, 0L)).sum.toDouble / NDocs
      }.sum / probes.size
    }

  def check(ctx: Ctx): Seq[Check] = {
    val spark = ctx.spark
    val snap = rowsDf(spark, model.state.values.toSeq)
    val scratch = ctx.work.resolve("scratch")
    Incremental.syncSource(spark, snap, process, LogicFp,
      scratch.resolve("sink").toString, scratch.resolve("tracking").toString)
    def sinkRows(p: String) = spark.read.parquet(p).select("target_key", "page_text")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    def trackRows(p: String) = spark.read.parquet(p)
      .select(col("source_key"), col("ordinal"), col("content_hash"), col("logic_fp"),
        sort_array(col("target_keys")))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getString(3),
        r.getSeq[String](4))).toSet
    val sinkA = sinkRows(sinkPath(ctx)); val sinkB = sinkRows(scratch.resolve("sink").toString)
    val trA = trackRows(trackingPath(ctx)); val trB = trackRows(scratch.resolve("tracking").toString)
    def toks(df: DataFrame) = df.select(col("source_key"), col("dl"), col("_toks"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getSeq[String](2))).toSet
    val baseA = toks(spark.read.parquet(basePath(ctx)))
    val baseB = toks(Search.tokenBase(snap, "source_key", "text"))
    Seq(
      Check("churn.sink_equals_from_scratch_sync", sinkA == sinkB,
        s"${sinkA.size} vs ${sinkB.size} rows, ${(sinkA diff sinkB).size} differ"),
      Check("churn.tracking_equals_from_scratch_sync", trA == trB,
        s"${trA.size} vs ${trB.size} rows, ${(trA diff trB).size} differ"),
      Check("churn.token_base_equals_tokenBase_of_snapshot", baseA == baseB,
        s"${baseA.size} vs ${baseB.size} docs, ${(baseA diff baseB).size} differ"),
      Check("churn.updated_docs_retrievable", probeFailures == 0,
        s"$probeFailures probes missed")) ++ checkReads()
  }

  /** Reads against driver-side brute force: BM25 over the source state
    * the read's index reflects, exact vector top-k, IVF top-k inside
    * the probed clusters of the program's index, and that index's
    * recall@10 against exact on seeded probes. */
  private def checkReads(): Seq[Check] = {
    val bm25Refs = mutable.HashMap[Map[String, Gen.Row], Brute.Bm25[Long]]()
    val bmS = log.filter(_._1.kind == "bm25")
    val bmOk = bmS.forall {
      case (Gen.Bm25Q(t), state, got) =>
        val ref = bm25Refs.getOrElseUpdate(state, new Brute.Bm25(
          state.values.map(row => Queries.numericId(row.key) -> Brute.tokens(row.text)).toMap))
        Brute.sameTopK(got, ref.score(t), Queries.K, 1e-9)
      case _ => false
    }
    def exact(p: Array[Float]): Seq[(Long, Double)] =
      vectorsRef.toSeq.map { case (id, v) => id -> Brute.cosine(v, p) }
        .sortBy { case (id, s) => (-s, id) }
    val round6 = (x: Double) => BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val vS = log.filter(_._1.kind == "vector")
    val vOk = vS.forall {
      case (Gen.VecQ(p), _, got) =>
        Brute.sameTopK(got, exact(p).map { case (i, s) => i -> round6(s) }, Queries.K, 1e-6)
      case _ => false
    }
    // the program's IVF index: assignments and centroids
    val rows = vectors.assigned.select("id", "embedding", "cluster").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
    def cos(a: Array[Double], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      a.indices.foreach { i => dot += a(i) * b(i); na += a(i) * a(i); nb += b(i).toDouble * b(i) }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    def ivf(p: Array[Float]): Seq[(Long, Double)] = {
      val probed = vectors.cents.zipWithIndex.map { case (c, i) => (cos(c, p), i) }
        .sortBy { case (s, i) => (-s, i) }.take(Queries.Probes).map(_._2).toSet
      rows.collect { case (id, v, c) if probed(c) => id -> round6(Brute.cosine(v, p)) }
        .toSeq.sortBy { case (id, s) => (-s, id) }
    }
    val iS = log.filter(_._1.kind == "ivf")
    val iOk = iS.forall {
      case (Gen.IvfQ(p), _, got) => Brute.sameTopK(got, ivf(p), Queries.K, 1e-6)
      case _ => false
    }
    val pr = new SplittableRandom(seed ^ 0x1fa5L)
    val recalls = Seq.fill(IvfRecallProbes) {
      val p = Gen.perturbVec(vectorsRef(corpus.docs(pr.nextInt(corpus.docs.length)).id), pr)
      val want = exact(p).take(Queries.K).map(_._1).toSet
      ivf(p).take(Queries.K).count(g => want(g._1)).toDouble / Queries.K
    }
    val recall = recalls.sum / recalls.size
    val hyb = log.filter(_._1.kind == "hybrid")
    Seq(
      Check("search.bm25_equals_brute_force", bmOk, s"${bmS.size} queries"),
      Check("search.vector_topk_equals_brute_force", vOk, s"${vS.size} queries"),
      Check("search.ivf_equals_probed_brute_force", iOk, s"${iS.size} queries"),
      Check("search.ivf_recall_at_10_floor", recall >= IvfRecallFloor,
        f"mean recall@10 $recall%.3f over ${recalls.size} queries, floor $IvfRecallFloor"),
      Check("search.hybrid_results_distinct_nonempty", hyb.forall(h => h._3.nonEmpty &&
        h._3.map(_._1).distinct.size == h._3.size), s"${hyb.size} queries"))
  }
}

object Churn {
  val NDocs = 5000
  val BatchRows = 50
  /** One cycle of the search mix after each commit. */
  val ReadsPerRound = Gen.Mix.length
  /** Rounds a run measures at least: two batches and two cycles of
    * reads, each with a median. */
  val MinRounds = 2
  val LogicFp = "perfbench-pages-60-10"
  /** Stated floor for the IVF index's mean recall@10 against exact
    * top-10 over `IvfRecallProbes` seeded probes (4 of 16 clusters
    * probed, hash-projection vectors). */
  val IvfRecallProbes = 50
  val IvfRecallFloor = 0.3

  /** Source rows → one target row per 60-token page. */
  val process: DataFrame => DataFrame = ev =>
    TwoTier.pages(ev, "source_key", "text", 60, 10)
      .select(col("source_key"), col("page_id").as("target_key"), col("page_text"))
}
