package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Search}

/** Gates the LSH-banded embedding near-dup (q72) against the exact
  * cartesian baseline (q20) on the sf0.001 corpus: candidates are
  * verified (precision 1 by construction), recall must stay high, and
  * the plan must never contain a cartesian product. */
class DedupLshSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  test("embeddingNearDupLsh: verified subset of exact pairs, recall >= 0.8, no cartesian") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Dedup.embeddingNearDup(emb, "vec_id", "embedding", 0.4))
    val lshDf = Dedup.embeddingNearDupLsh(emb, "vec_id", "embedding", 64, 0.4, 3, 12)
    assert(!lshDf.queryExecution.executedPlan.toString.contains("Cartesian"),
      "LSH near-dup plan must not contain a cartesian product")
    val lsh = pairs(lshDf)
    assert(lsh.subsetOf(exact), "every LSH pair must pass the exact verify")
    assert(exact.nonEmpty)
    val recall = lsh.size.toDouble / exact.size
    assert(recall >= 0.8, s"recall=$recall (${lsh.size}/${exact.size})")
  }

  test("lshSizing: the collision-budget law lands on the measured picks") {
    // hyperplane bits (p = 1/2, 12 bands): the gate corpus stays on
    // the gate's 3 bits; the sf1 decade (20k vectors) lands on the
    // measured (8, 12) → ~4 s (SCALING.md r12); growth is ln n
    assert(Dedup.lshSizing(500, 12, 0.5) === 3)
    assert(Dedup.lshSizing(2000, 12, 0.5) === 5)
    assert(Dedup.lshSizing(20000, 12, 0.5) === 8)
    assert(Dedup.lshSizing(1000000000L, 12, 0.5) === 24)
    // minhash rows per band (p = jaccard boundary 0.5, 4 bands):
    // gate corpus floors at q18's 4 rows; the 50k-doc decade sizes
    // to 8 rows (32 hashes) where the fixed 16-hash width measured
    // 3.1x at 10x data
    assert(Dedup.lshSizing(500, 4, 0.5, floor = 4) === 4)
    assert(Dedup.lshSizing(50000, 4, 0.5, floor = 4) === 8)
    // boundary exactness: bands*n == budget*2^k keeps k (<=, not <)
    assert(Dedup.lshSizing(256000, 1, 0.5, budget = 1000.0) === 8)
    // cap bounds a pathological corpus claim
    assert(Dedup.lshSizing(Long.MaxValue / 16, 12, 0.5) === 32)
  }

  test("lshSizing: budget bound and minimality hold across the grid") {
    // the law's contract: the smallest k with bands*n*p^k <= budget,
    // clamped to [floor, cap] — checked exhaustively over a grid
    // spanning the gate corpus to a 100 TB-class row count
    for (n <- Seq(1L, 10L, 500L, 20000L, 50000L, 1000000L, 1000000000L);
         bands <- Seq(1, 4, 12);
         p <- Seq(0.3, 0.5, 0.8);
         budget <- Seq(100.0, 1000.0)) {
      val floor = 1; val cap = 32
      val k = Dedup.lshSizing(n, bands, p, budget, floor, cap)
      val mass = (e: Int) => bands.toDouble * n.toDouble * math.pow(p, e)
      assert(k >= floor && k <= cap)
      // bound holds unless the cap clamps it
      assert(mass(k) <= budget * 1.0000001 || k === cap,
        s"n=$n bands=$bands p=$p budget=$budget k=$k mass=${mass(k)}")
      // minimality: one step fewer would blow the budget (unless the
      // floor forced k up)
      assert(k === floor || mass(k - 1) > budget * 0.9999999,
        s"n=$n bands=$bands p=$p budget=$budget k=$k not minimal")
    }
  }

  test("auto paths reproduce the fixed-parameter gate plans at gate scale") {
    // the self-sizing gate paths (q153/q154): the caller counts the
    // corpus and passes the width lshSizing picks
    val sf = "/root/testdata/sf0.001"
    val emb = Tables.load(spark, sf, "embeddings")
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // 500 vectors → law picks (3, 12) — byte-identical to q72's plan
    assert(pairs(Dedup.embeddingNearDupLsh(emb, "vec_id", "embedding", 64, 0.4,
        Dedup.lshSizing(emb.count(), 12, 0.5), 12))
      === pairs(Dedup.embeddingNearDupLsh(emb, "vec_id", "embedding", 64, 0.4, 3, 12)))
    // 500 documents → floor keeps q18's (16 hashes, 4 bands)
    val toks = Search.tokenBase(Tables.load(spark, sf, "documents"),
      "doc_id", "text")
    val rows = Dedup.lshSizing(toks.count(), 4, 0.5, floor = 4)
    assert(pairs(Dedup.minhashCandidatesFromTokens(toks, "doc_id", 3, 4 * rows, 4))
      === pairs(Dedup.minhashCandidatesFromTokens(toks, "doc_id", 3, 16, 4)))
  }

  test("simhashHammingCandidates: banding recall is EXACT at " +
      "maxHamming < bands — every brute-force pair within the radius " +
      "is found, every reported distance matches brute force, and " +
      "the contract rejects a radius the pigeonhole can't cover") {
    import org.apache.spark.sql.functions._
    import graft.functions.{NativeText, TextFunctions}
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val got = Dedup.simhashHammingCandidates(docs, "doc_id", "text", 8, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    // brute force over the fingerprints (driver-side popcount)
    val fps = docs
      .withColumn("_t", TextFunctions.bm25Tokens(col("text")))
      .where(size(col("_t")) > 0)
      .select(col("doc_id"), NativeText.simhashOf(col("_t")).as("sh"))
      .collect().map(r => r.getLong(0) ->
        java.lang.Long.parseUnsignedLong(r.getString(1), 16))
    val brute = (for {
      (a, ha) <- fps; (b, hb) <- fps if a < b
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 3
    } yield (a, b) -> d.toLong).toMap
    assert(got === brute, "exact recall + exact distances at r=3/blocks=8")
    assert(brute.nonEmpty, "sf0.001 is known to contain r<=3 pairs")
    intercept[IllegalArgumentException] {
      Dedup.simhashHammingCandidates(docs, "doc_id", "text", 8, 8)
    }
  }
}
