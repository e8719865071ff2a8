package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dataflow.Flow
import graft.operators.{CorpusArtifacts, Dedup, EmbedText, Search, SimilaritySearch,
  StubEmbedder, TwoTier}

/** The batch ingest pipeline: import → token/BM25/shingle/fingerprint
  * artifacts → exact, MinHash-LSH and Jaccard dedup → two-tier chunks →
  * stub embeddings → IVF index → export of chunks and vectors. Every
  * step forces its output inside its span. */
object Pipeline {
  val Dim = 32
  val IvfClusters = 16
  val IvfIters = 3
  val Bands = 4
  val MinSim = 0.5

  final case class Built(
      docs: DataFrame,
      bm25: Search.Bm25Index,
      shingles: DataFrame,
      exactGroups: Seq[(Long, Long)],
      lshPairs: Set[(Long, Long)],
      lshRows: Int,
      jaccard: Map[(Long, Long), Double],
      chunkRows: Long,
      vecs: DataFrame,
      assigned: DataFrame,
      cents: Array[Array[Double]],
      exportRows: Long,
      cachedMb: Double,
      searchableMs: Double) {
    def release(): Unit = {
      CorpusArtifacts.reset()
      Seq(docs, shingles, vecs, assigned, bm25.idx, bm25.dls, bm25.stats, bm25.impacts)
        .foreach(_.unpersist())
    }
  }

  def cachedMb(ctx: Ctx): Double =
    if (!ctx.trace.enabled) 0.0
    else ctx.spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1048576.0

  /** One pass. `searchableMs` in the result is the time from the start
    * of the pass until its BM25 index is built. */
  def run(ctx: Ctx, source: String, out: String, key: String): Built = {
    val start = System.nanoTime()
    val spark = ctx.spark
    val flow = Flow(spark)
    val (docs, n) = ctx.span("dataflow.import") {
      Main.forceCount(flow.importSource(spark.read.parquet(source), "doc_id").df)
    }
    val tokens = ctx.span("artifacts.tokens") {
      CorpusArtifacts.tokens(key, docs, "doc_id", "text")
    }
    val bm25 = ctx.span("artifacts.bm25") {
      Search.buildIndexFromTokens(tokens, "doc_id", eager = true)
    }
    val searchableMs = (System.nanoTime() - start) / 1e6
    val shingles = ctx.span("artifacts.shingles") {
      Main.force(Dedup.shingleIndexFromTokens(tokens, "doc_id", 3))
    }
    val fps = ctx.span("artifacts.fingerprints") {
      CorpusArtifacts.fingerprints(key, docs, "doc_id", "text")
    }
    val cached = cachedMb(ctx)
    val exact = ctx.span("dedup.exact") {
      Dedup.exactFromFingerprints(fps, "doc_id").where(col("n_dups") > 1)
        .select("kept_id", "n_dups").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    }
    val rows = Dedup.lshSizing(n, Bands, MinSim, floor = 4)
    val lsh = ctx.span("dedup.minhash_lsh") {
      Dedup.minhashCandidatesFromTokens(tokens, "doc_id", 3, Bands * rows, Bands)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val jac = ctx.span("dedup.jaccard") {
      Dedup.jaccardPairsFromIndex(shingles, "doc_id", MinSim)
        .select("id_a", "id_b", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    }
    val (chunks, chunkRows) = ctx.span("chunk.two_tier") {
      Main.forceCount(TwoTier.chunk(docs, "doc_id", "text"))
    }
    val vecs = ctx.span("embed.stub") {
      Main.force(EmbedText.embed(docs, "doc_id", "text", () => StubEmbedder(Dim)))
    }
    val (assigned, cents) = ctx.span("ivf.build") {
      SimilaritySearch.kmeansIvf(vecs, "id", "embedding", IvfClusters, IvfIters)
    }
    ctx.span("sinks.export") {
      flow.importSource(chunks, "chunk_id").collect("doc_chunks", Seq(
        "chunk_id" -> col("chunk_id"), "doc_id" -> col("doc_id"),
        "page_id" -> col("page_id"), "chunk_text" -> col("chunk_text"),
        "n_tokens" -> col("n_tokens")))
      flow.importSource(assigned, "id").collect("doc_vectors", Seq(
        "id" -> col("id"), "embedding" -> col("embedding"), "cluster" -> col("cluster")))
      flow.exportTo("doc_chunks", "parquet", s"$out/doc_chunks", Seq("chunk_id"))
      flow.exportTo("doc_vectors", "parquet", s"$out/doc_vectors", Seq("id"))
    }
    chunks.unpersist()
    Built(docs, bm25, shingles, exact, lsh, rows, jac, chunkRows, vecs,
      assigned, cents, chunkRows + n, cached, searchableMs)
  }

  /** Write the generated corpus as the parquet source the pipeline reads. */
  def writeSource(ctx: Ctx, docs: Array[Gen.Doc], path: String): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    docs.toSeq.map(d => (d.id, d.text)).toDF("doc_id", "text")
      .repartition(ctx.cores).write.mode("overwrite").parquet(path)
  }
}

/** `ingest`: whole-corpus ingest passes back to back (closed loop, one
  * driver thread). No search or incremental code runs. */
final class Ingest(seed: Long) extends Workload {
  val name = "ingest"
  val clients = 1
  val NDocs = 5000

  private val words = new Gen.Words(seed)
  private val corpus = Gen.corpus(seed, NDocs, words)
  private lazy val warmCorpus = Gen.corpus(seed ^ 0x3a3aL, NDocs / 3, words)
  val digest: String = Gen.corpusDigest(corpus)
  def regenerateDigest(s: Long): String =
    Gen.corpusDigest(Gen.corpus(s, NDocs, new Gen.Words(s)))
  private lazy val props = Gen.properties(corpus)
  def inputs: Map[String, Any] = props

  private var last: Pipeline.Built = null
  private var passes = 0

  /** Ingest depends on no index: its set-up is the input load. */
  def setup(ctx: Ctx): Unit =
    Pipeline.writeSource(ctx, corpus.docs, ctx.path("source"))

  override def warmup(ctx: Ctx): Unit = {
    Pipeline.writeSource(ctx, warmCorpus.docs, ctx.path("warm-source"))
    Pipeline.run(ctx, ctx.path("warm-source"), ctx.path("warm-out"), s"warm-$seed").release()
  }

  /** One pass on its own (the single-core reading). */
  def singlePass(ctx: Ctx): Unit = {
    Pipeline.writeSource(ctx, corpus.docs, ctx.path("source"))
    Pipeline.run(ctx, ctx.path("source"), ctx.path("out"), s"single-$seed").release()
  }

  def measure(ctx: Ctx, seconds: Double): Measured = {
    val lat = mutable.ArrayBuffer[Double]()
    val searchable = mutable.ArrayBuffer[Double]()
    var failed = 0L
    var cached = 0.0
    val t0 = System.nanoTime()
    val end = t0 + (seconds * 1e9).toLong
    // passes back to back, while the next one is expected to end in time
    while (lat.isEmpty || System.nanoTime() + (lat.last * 1e6).toLong <= end) {
      if (last != null) { last.release(); last = null }
      passes += 1
      val out = ctx.path(s"out-$passes")
      val s = System.nanoTime()
      val b = ctx.span("ingest.pass") {
        Pipeline.run(ctx, ctx.path("source"), out, s"ingest-$seed-$passes")
      }
      lat += (System.nanoTime() - s) / 1e6
      searchable += b.searchableMs
      Main.log(f"pass $passes took ${lat.last}%.0f ms, searchable after ${b.searchableMs}%.0f ms")
      cached = math.max(cached, b.cachedMb)
      Main.deleteTree(java.nio.file.Paths.get(out))
      // every pass must find exactly the planted exact-duplicate groups
      if (b.exactGroups != plantedExact) failed += 1
      last = b
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val b = last
    val cand = b.lshPairs.size.toDouble
    val verified = b.lshPairs.count(b.jaccard.contains).toDouble
    Measured(lat.size, failed, NDocs.toDouble * lat.size, lat.toSeq, searchable.toSeq,
      Map("ingest_docs_per_s" -> NDocs * lat.size / wall, "passes" -> lat.size),
      Map("artifacts.cached_mb" -> cached,
        "dedup.exact.groups" -> b.exactGroups.size.toDouble,
        "dedup.lsh.candidates" -> cand,
        "dedup.lsh.precision" -> (if (cand > 0) verified / cand else 0.0),
        "dedup.jaccard.copostings" -> copostings,
        "dedup.jaccard.pairs" -> b.jaccard.size.toDouble,
        "chunk.rows" -> b.chunkRows.toDouble,
        "sinks.export.rows" -> b.exportRows.toDouble))
  }

  private lazy val plantedExact: Seq[(Long, Long)] =
    corpus.exactGroups.map(g => (g.min, g.size.toLong)).sorted

  private lazy val tokens: Map[Long, Array[String]] =
    corpus.docs.map(d => d.id -> Brute.tokens(d.text)).toMap

  /** Σ df·(df−1)/2 over shingle postings: the self-join's pair rows. */
  private lazy val copostings: Double = {
    val df = mutable.HashMap[String, Long]()
    tokens.values.foreach(t => Brute.shingles(t).foreach(s => df(s) = df.getOrElse(s, 0L) + 1))
    df.values.map(d => d * (d - 1) / 2).sum.toDouble
  }

  def check(ctx: Ctx): Seq[Check] = {
    val b = last
    val out = mutable.ArrayBuffer[Check]()
    out += Check("ingest.exact_groups_equal_planted", b.exactGroups == plantedExact,
      s"${b.exactGroups.size} groups vs ${plantedExact.size} planted")

    // Jaccard pairs against brute force on a seeded sample: planted
    // duplicates plus random documents
    val r = new SplittableRandom(seed ^ 0x7ac0L)
    val planted = (corpus.exactGroups.flatten ++ corpus.nearPairs.flatMap(p => Seq(p._1, p._2)))
      .distinct.take(120)
    val sample = (planted ++ Seq.fill(180)(1L + r.nextInt(NDocs))).distinct.sorted
    val sh = sample.map(id => id -> Brute.shingles(tokens(id))).toMap
    val want = (for (a <- sample; b2 <- sample if a < b2;
      j = Brute.jaccard(sh(a), sh(b2)) if j >= Pipeline.MinSim) yield (a, b2) -> j).toMap
    val inSample = sample.toSet
    val got = b.jaccard.filter { case ((a, c), _) => inSample(a) && inSample(c) }
    val jacOk = got.keySet == want.keySet &&
      got.forall { case (k, v) => math.abs(v - want(k)) <= 1e-6 }
    out += Check("ingest.jaccard_equals_brute_force", jacOk,
      s"${got.size} pairs vs ${want.size} on ${sample.size} docs")

    // MinHash-LSH recall on planted near-duplicate pairs against the
    // banding law 1-(1-J^r)^b at the lshSizing rows, less 3 sigma
    val probs = corpus.nearPairs.map { case (a, c) =>
      val j = Brute.jaccard(Brute.shingles(tokens(a)), Brute.shingles(tokens(c)))
      1 - math.pow(1 - math.pow(j, b.lshRows), Pipeline.Bands)
    }
    val expected = probs.sum
    val sigma = math.sqrt(probs.map(p => p * (1 - p)).sum)
    val hits = corpus.nearPairs.count(b.lshPairs.contains)
    out += Check("ingest.lsh_recall_meets_sizing", hits >= expected - 3 * sigma - 1,
      f"$hits of ${corpus.nearPairs.size} planted pairs; expected $expected%.1f, sigma $sigma%.1f, rows ${b.lshRows}")

    // BM25 top-10 against brute force on sampled queries
    val bm = new Brute.Bm25(tokens)
    val qr = new SplittableRandom(seed ^ 0xb25L)
    val bmOk = (1 to 10).forall { _ =>
      val terms = Gen.zipfTerms(qr, words)
      val got = Search.scoreWith(b.bm25, terms)
        .orderBy(col("score").desc, col("doc_id").asc).limit(10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      Brute.sameTopK(got, bm.score(terms), 10, 1e-9)
    }
    out += Check("ingest.bm25_top10_equals_brute_force", bmOk, "10 queries")

    // embeddings equal the reference hash projection on a sample
    val ids = (1 to 40).map(_ => 1L + r.nextInt(NDocs)).distinct
    val vecs = b.vecs.where(col("id").isin(ids: _*)).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val text = corpus.docs.map(d => d.id -> d.text).toMap
    val embOk = ids.forall(id => vecs.get(id).exists(_.sameElements(Brute.embed(text(id), Pipeline.Dim))))
    out += Check("ingest.embeddings_equal_reference", embOk, s"${ids.size} docs")
    b.release()
    last = null
    out.toSeq
  }
}
