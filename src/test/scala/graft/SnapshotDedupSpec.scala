package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.operators.{Dedup, Search}
import graft.functions.TextFunctions

/** Cross-snapshot incremental dedup (Dedup.newAgainstSnapshot /
  * newAgainstSnapshotBloom — q197's operator): the Bloom-pruned path
  * must equal the exact anti join at ANY filter size (no false
  * negatives; false positives stripped by the exact confirm), the
  * prune must actually shrink the join's probe side at a realistic
  * size, and a null-text row must stay new on both paths. */
class SnapshotDedupSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  private def ids(df: DataFrame): Set[Long] =
    df.select("doc_id").collect().map(_.getLong(0)).toSet

  test("bloom path ≡ exact path, from all-positive (m=8) to sparse " +
      "(m=65536); null-text rows stay new") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"))
      .unionByName(Seq((9999L, null: String)).toDF("doc_id", "text"))
    val batch = docs.where(col("doc_id") >= 250 || col("doc_id") === 9999L)
    val prior = docs
      .where(col("doc_id") < 250 || col("doc_id") % 5 === 0)
      .select(TextFunctions.fingerprint(col("text")).as("fingerprint"))
    val exact = ids(Dedup.newAgainstSnapshot(batch, "doc_id", "text", prior))
    assert(exact.contains(9999L), "null text never matches a fingerprint")
    for (m <- Seq(8, 256, 4096, 65536)) {
      val bloom = ids(Dedup.newAgainstSnapshotBloom(
        batch, "doc_id", "text", prior, m, 3))
      assert(bloom === exact, s"m=$m must reproduce the exact anti join")
    }
  }

  test("the prune shrinks the probe side: bloom-positive rows ≈ dups " +
      "+ fpp, well under the batch") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val batch = docs.where(col("doc_id") >= 250)
    val prior = docs
      .where(col("doc_id") < 250 || col("doc_id") % 5 === 0)
      .select(TextFunctions.fingerprint(col("text")).as("fingerprint"))
    val m = 4096; val k = 3
    val bits = prior.agg(graft.functions.Sketch
      .bloomBits(col("fingerprint"), m, k).as("bits"))
    val maybe = (0 until k).map(i =>
        org.apache.spark.sql.functions.array_contains(col("bits"),
          (graft.functions.Sketch.hash48Of(
            org.apache.spark.sql.functions.concat(
              org.apache.spark.sql.functions.lit(s"$i:"),
              TextFunctions.fingerprint(col("text")))) % m).cast("int")))
      .reduce(_ && _)
    val positives = batch
      .crossJoin(org.apache.spark.sql.functions.broadcast(bits))
      .where(maybe).count()
    val batchN = batch.count()
    val dups = batchN - ids(Dedup.newAgainstSnapshot(
      batch, "doc_id", "text", prior)).size
    assert(positives >= dups, "a Bloom has no false negatives")
    // 300 keys in 4096 bits, k=3 → fpp ≈ 0.8%; allow generous slack
    assert(positives <= dups + (batchN - dups) / 10,
      s"prune must cut the probe side: positives=$positives dups=$dups " +
        s"batch=$batchN")
  }

  test("near-dup face: an exact cross-snapshot duplicate is always a " +
      "candidate (identical signature → identical buckets) and " +
      "verdicts 1.0; unrelated and null-text batch docs verdict false") {
    val prior = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "completely different prior material about spark shuffles"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"), // == doc 1
      (11L, "unrelated batch prose concerning parquet readers only"),
      (12L, null: String))
      .toDF("doc_id", "text")
    val priorToks = Search.tokenBase(prior, "doc_id", "text")
    val out = Dedup.nearDupAgainstSnapshot(batch, "doc_id", "text",
        Dedup.lshBucketsFromTokens(priorToks, "doc_id"), "doc_id",
        Dedup.shingleIndexFromTokens(priorToks, "doc_id"), minSim = 0.5)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getBoolean(3)))).toMap
    assert(out(10L) === ((1L, 1.0, true)))
    assert(out(11L) === ((0L, 0.0, false)))
    assert(out(12L) === ((0L, 0.0, false)))
  }

  test("near-dup face at sf0.001: every exact cross-snapshot dup " +
      "(the q197 complement) is flagged with best_jaccard 1.0, and " +
      "every flagged doc has a candidate-verified match >= minSim") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val prior = docs.where(col("doc_id") < 250 || col("doc_id") % 5 === 0)
    val batch = docs.where(col("doc_id") >= 250)
    val stillNew = ids(Dedup.newAgainstSnapshot(batch, "doc_id", "text",
      prior.select(TextFunctions.fingerprint(col("text")).as("fingerprint"))))
    val priorToks = Search.tokenBase(prior, "doc_id", "text")
    val verdicts = Dedup.nearDupAgainstSnapshot(batch, "doc_id", "text",
        Dedup.lshBucketsFromTokens(priorToks, "doc_id"), "doc_id",
        Dedup.shingleIndexFromTokens(priorToks, "doc_id"), minSim = 0.5)
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(2), r.getBoolean(3)))).toMap
    val exactDups = verdicts.keySet.diff(stillNew)
    assert(exactDups.nonEmpty, "the split is known to straddle dups")
    exactDups.foreach { id =>
      assert(verdicts(id) === ((1.0, true)),
        s"exact dup $id must be a 1.0 near-dup")
    }
    assert(verdicts.values.count(_._2) >= exactDups.size)
  }

  test("releaseDiff: added/removed/changed/unchanged by the " +
      "exact-dedup fingerprint — case/whitespace churn is NOT a " +
      "change, null text keys presence, every id verdicts once") {
    import spark.implicits._
    val oldDf = Seq(
      (1L, "alpha beta"), (2L, "to be removed"), (3L, "gets a rewrite"),
      (4L, "Spaced   Out"), (5L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val newDf = Seq(
      (1L, "alpha beta"),                  // unchanged verbatim
      (3L, "rewritten body"),              // changed
      (4L, "  spaced out "),               // fingerprint-unchanged churn
      (5L, null.asInstanceOf[String]),     // null on both sides: unchanged
      (6L, "brand new")).toDF("doc_id", "text")
    val got = Dedup.releaseDiff(oldDf, newDf, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(1L -> "unchanged", 2L -> "removed",
      3L -> "changed", 4L -> "unchanged", 5L -> "unchanged",
      6L -> "added"))
  }
}
