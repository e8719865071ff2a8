package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.incremental.IncrementalIndex
import graft.operators.Search

/** Incremental token-base maintenance: deltas re-tokenize only the
  * changed documents, and the rebuilt index is indistinguishable from
  * a from-scratch build over the final corpus state. */
class IncrementalIndexSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  private val v1 = Seq(
    (1L, "spark filter join query"),
    (2L, "filter data rows with spark"),
    (3L, "query planner joins tables"),
    (4L, "storage layer writes parquet data"),
    (5L, "going away soon filter"),
    (6L, "spark spark spark query"))

  private def impacts(idx: Search.Bm25Index): Set[(Long, String, Double)] =
    idx.impacts.as[(Long, String, Double)].collect().toSet

  /** The from-scratch index over a corpus state. */
  private def rebuilt(rows: Seq[(Long, String)]): Search.Bm25Index =
    Search.buildIndexFromTokens(
      Search.tokenBase(rows.toDF("doc_id", "text"), "doc_id", "text"), "doc_id")

  test("incremental sync equals a full rebuild at every step") {
    val base = java.nio.file.Files.createTempDirectory("incidx").toString + "/tb"
    val n1 = IncrementalIndex.syncTokenBase(spark, base,
      v1.toDF("doc_id", "text"), "doc_id", "text")
    assert(n1 === 6)
    assert(impacts(IncrementalIndex.index(spark, base, "doc_id")) ===
      impacts(rebuilt(v1)))

    // doc 2 edited, doc 7 added, doc 5 deleted — only 2 docs tokenize
    val delta = Seq((2L, "filter data columns with spark engine"),
      (7L, "fresh spark document arrives"))
    val n2 = IncrementalIndex.syncTokenBase(spark, base,
      delta.toDF("doc_id", "text"), "doc_id", "text",
      deletedIds = Some(Seq(Tuple1(5L)).toDF("doc_id")))
    assert(n2 === 2)
    val v2 = v1.filterNot(_._1 == 5L).filterNot(_._1 == 2L) ++ delta
    val inc = IncrementalIndex.index(spark, base, "doc_id")
    assert(impacts(inc) ===
      impacts(rebuilt(v2)))
    // global stats moved with the delta (N, avgdl are corpus-wide)
    val (n, avgdl) = inc.stats.as[(Double, Double)].head()
    assert(n === 6.0)
    val dls = spark.read.parquet(base).select("dl").as[Int].collect()
    assert(avgdl === dls.sum.toDouble / dls.length)
    // scoring through the maintained index works end to end
    val scores = Search.scoreWith(inc, Seq("spark", "filter"))
      .as[(Long, Double)].collect().toMap
    assert(scores.contains(7L) && !scores.contains(5L))
  }

  test("a rebuild after a sync sees the new base while the previous eager index is still persisted") {
    val base = java.nio.file.Files.createTempDirectory("incidx").toString + "/tb"
    IncrementalIndex.syncTokenBase(spark, base, v1.toDF("doc_id", "text"),
      "doc_id", "text")
    val before = IncrementalIndex.index(spark, base, "doc_id", eager = true)
    assert(Search.scoreWith(before, Seq("zanzibar")).count() === 0)
    // doc 3 gains a marker term; the old index is NOT released
    IncrementalIndex.syncTokenBase(spark, base,
      Seq((3L, "query planner joins zanzibar tables")).toDF("doc_id", "text"),
      "doc_id", "text")
    val after = IncrementalIndex.index(spark, base, "doc_id", eager = true)
    val scores = Search.scoreWith(after, Seq("zanzibar"))
      .as[(Long, Double)].collect().toMap
    assert(scores.keySet === Set(3L))
    val v2 = v1.map { case (id, t) =>
      if (id == 3L) (id, "query planner joins zanzibar tables") else (id, t) }
    assert(impacts(after) ===
      impacts(rebuilt(v2)))
    Seq(before, after).foreach(i =>
      Seq(i.idx, i.dls, i.stats, i.impacts).foreach(_.unpersist()))
  }

  test("index() without a prior sync fails loudly") {
    intercept[IllegalStateException](
      IncrementalIndex.index(spark, "/tmp/graft-no-such-base", "doc_id"))
  }
}
