package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.execution.{MapPartitionsExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, Exchange}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{EmbedText, Search, SimilaritySearch, StubEmbedder}

/** The shape of a plain read over state built once: a BM25 read over
  * an eager index, an exact vector read and an IVF read each run as
  * one job with no exchange, and none of them recomputes what its
  * index already holds. */
class ReadShapeSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  /** The executed nodes of `df`'s plan after an action: the final
    * adaptive plan and its query stages, not the plans that filled a
    * cache entry it scans. */
  private def executed(df: DataFrame): Seq[SparkPlan] = {
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => s +: walk(s.plan)
      case other => other +: other.children.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
  }

  /** Runs `df` and returns its rows, its job count and its executed
    * nodes. */
  private def read(df: DataFrame): (Array[org.apache.spark.sql.Row], Int, Seq[SparkPlan]) = {
    val (rows, jobs) = JobCount.during(spark)(df.collect())
    (rows, jobs, executed(df))
  }

  private def embeddings: DataFrame =
    Tables.load(spark, "/root/testdata/sf0.001", "embeddings")

  private def queryVec(id: Long): Seq[Float] =
    embeddings.where(col("vec_id") === id).select("embedding").head().getSeq[Float](0)

  /** ivfSearch as it was before probes were chosen on the driver: the
    * centroid frame ranked by a Spark sort, joined back to the
    * assignment. */
  private def ivfByJoin(assigned: DataFrame, cents: Array[Array[Double]],
      query: org.apache.spark.sql.Column, probes: Int, k: Int): DataFrame = {
    val probed = SimilaritySearch.centroidsDf(spark, cents)
      .withColumn("rep_score", graft.functions.VectorFunctions.cosine(col("centroid"), query))
      .orderBy(col("rep_score").desc, col("cluster").asc)
      .limit(probes)
      .select(col("cluster"))
    assigned.join(broadcast(probed), Seq("cluster"))
      .withColumn("score", graft.functions.VectorFunctions.cosine(col("embedding"), query))
      .orderBy(col("score").desc, col("vec_id").asc)
      .select(col("vec_id"), col("cluster"), round(col("score"), 6).as("score"))
      .limit(k)
  }

  test("kmeansIvf leaves the caller's cached (id, embedding) frame cached, " +
      "and topK over it re-embeds nothing") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val vecs = EmbedText.embed(docs, "doc_id", "text", () => StubEmbedder(16))
      .persist(StorageLevel.MEMORY_AND_DISK)
    vecs.count()
    try {
      val (assigned, _) = SimilaritySearch.kmeansIvf(vecs, "id", "embedding", 4, 2)
      assigned.unpersist()
      assert(vecs.storageLevel !== StorageLevel.NONE, "kmeansIvf evicted the caller's cache")
      val q = SimilaritySearch.vecLit(Seq.fill(16)(0.5f))
      val (_, _, nodes) = read(SimilaritySearch.topK(vecs, "id", "embedding", q, 10))
      assert(nodes.exists(_.isInstanceOf[InMemoryTableScanExec]))
      assert(!nodes.exists(_.isInstanceOf[MapPartitionsExec]), "the read re-embedded")
    } finally vecs.unpersist()
  }

  test("kmeansIvf releases the projection it cached itself") {
    val withText = embeddings.withColumn("extra", lit(1))
    val (assigned, _) = SimilaritySearch.kmeansIvf(withText, "vec_id", "embedding", 4, 2)
    assigned.unpersist()
    assert(withText.select(col("vec_id"), col("embedding")).storageLevel === StorageLevel.NONE)
  }

  test("a BM25 read over an eager index is one job with no exchange") {
    val base = Search.tokenBase(Tables.load(spark, "/root/testdata/sf0.001", "documents"),
      "doc_id", "text").persist()
    val ix = Search.buildIndexFromTokens(base, "doc_id", eager = true)
    try {
      val terms = Seq("spark", "query", "data")
      val lazyIx = Search.buildIndexFromTokens(base, "doc_id")
      def top(i: Search.Bm25Index) = Search.scoreWith(i, terms)
        .orderBy(col("score").desc, col("doc_id").asc).limit(10)
      val (rows, jobs, nodes) = read(top(ix))
      assert(rows.nonEmpty)
      assert(jobs === 1)
      assert(!nodes.exists(_.isInstanceOf[Exchange]), nodes.map(_.nodeName).mkString(", "))
      assert(rows.toSeq === top(lazyIx).collect().toSeq)
    } finally {
      Seq(ix.idx, ix.dls, ix.stats, ix.impacts).foreach(_.unpersist())
      base.unpersist()
    }
  }

  test("an IVF read is one job with no broadcast, returns what the " +
      "join-based probe returned, and another probe set compiles no class") {
    val corpus = embeddings.where(col("vec_id") =!= 0)
    val (assigned, cents) = SimilaritySearch.kmeansIvf(corpus, "vec_id", "embedding", 8, 3)
    try {
      def ivf(q: Seq[Float], probes: Int) = SimilaritySearch.ivfSearch(assigned, cents,
        "vec_id", "embedding", SimilaritySearch.vecLit(q), probes, 10)
      val (q0, q1) = (queryVec(0), queryVec(1))
      val (_, jobs, nodes) = read(ivf(q0, 3))
      assert(jobs === 1)
      assert(!nodes.exists(_.isInstanceOf[BroadcastExchangeExec]))
      assert(!nodes.exists(_.isInstanceOf[Exchange]))
      val second = Compiles.during(ivf(q1, 5).collect())
      assert(second === 0)
      // a zero query scores every centroid 0.0 (ties go to the lower
      // cluster), an infinite component makes NaN scores (ranked
      // highest), and a short query makes null ones (ranked last)
      val queries = Seq(q0, q1, queryVec(7), Seq.fill(cents.head.length)(0f),
        queryVec(2).updated(0, Float.PositiveInfinity), Seq(1f, 2f))
      for (q <- queries; probes <- Seq(0, 1, 3, 8)) {
        val lit = SimilaritySearch.vecLit(q)
        assert(ivf(q, probes).collect().toSeq ===
          ivfByJoin(assigned, cents, lit, probes, 10).collect().toSeq,
          s"probes = $probes, query = ${q.take(3)}")
      }
    } finally assigned.unpersist()
  }

  test("ivfSearch names a non-literal query vector") {
    val (assigned, cents) = SimilaritySearch.kmeansIvf(embeddings, "vec_id", "embedding", 4, 1)
    try {
      val e = intercept[IllegalArgumentException] {
        SimilaritySearch.ivfSearch(assigned, cents, "vec_id", "embedding",
          col("embedding"), 2, 10)
      }
      assert(e.getMessage.contains("literal query vector"))
    } finally assigned.unpersist()
  }

  test("an Observation below Search.tokenBase counts its rows after a write") {
    val docs = (1L to 30L).map(i => (i, s"spark query number $i")).toDF("doc_id", "text")
      .coalesce(1)
    val observed = Observation()
    val out = Files.createTempDirectory("spread-obs").resolve("t").toString
    Search.tokenBase(docs.observe(observed, count(lit(1)).as("n")), "doc_id", "text")
      .write.parquet(out)
    assert(observed.get("n") === 30L)
    assert(spark.read.parquet(out).count() === 30L)
  }
}
