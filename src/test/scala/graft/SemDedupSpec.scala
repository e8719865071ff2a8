package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, SimilaritySearch}

/** SemDeDup (Dedup.semDedup / semDedupVerdicts — q192's operator).
  * The oracle gate replays the label-clustered twin in DuckDB; this
  * spec covers what the oracle can't: the PRODUCTION k-means path is
  * replayed brute-force on the driver (the identical verdict law over
  * the same trained clustering), the law's invariants (per-cluster
  * minimum-centroid-cosine member always kept; every dropped member
  * has an outranking similar neighbor IN ITS CLUSTER), and the plan
  * shape (no cartesian product — candidates only via the cluster
  * key). */
class SemDedupSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  // Same op order as NativeVector.CosineSimExpr: left-to-right double
  // accumulation, dot / (sqrt(na) * sqrt(nb)).
  private def cos(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  private case class V(id: Long, cluster: Int, vec: Array[Double],
      centCos: Double)

  test("semDedup (k-means path): verdicts equal the brute-force law " +
      "over the trained clustering; invariants hold; no cartesian") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val df = Dedup.semDedup(emb, "vec_id", "embedding", k = 6,
      iters = 2, minSim = 0.30)
    assert(!df.queryExecution.executedPlan.toString.contains("Cartesian"),
      "SemDeDup plan must not contain a cartesian product")
    val got = df.collect().map(r => (r.getLong(0),
      (r.getInt(1), r.getDouble(2), r.getBoolean(3)))).toMap
    assert(got.size === emb.count())

    // Re-train the same clustering (kmeansIvf is deterministic) and
    // replay the verdict law per cluster on the driver.
    val (assigned, cents) =
      SimilaritySearch.kmeansIvf(emb, "vec_id", "embedding", 6, 2)
    val rows = assigned.collect().map { r =>
      val id = r.getLong(r.fieldIndex("vec_id"))
      val c = r.getInt(r.fieldIndex("cluster"))
      val v = r.getSeq[Float](r.fieldIndex("embedding"))
        .map(_.toDouble).toArray
      V(id, c, v, cos(v, cents(c)))
    }
    val byCluster = rows.groupBy(_.cluster)
    var nDropped = 0
    for (v <- rows) {
      val peers = byCluster(v.cluster)
      val beaten = peers.exists(o => o.id != v.id &&
        cos(v.vec, o.vec) >= 0.30 &&
        (o.centCos < v.centCos ||
          (o.centCos == v.centCos && o.id < v.id)))
      val (gc, gcc, gkeep) = got(v.id)
      assert(gc === v.cluster, s"cluster mismatch for ${v.id}")
      assert(gcc === BigDecimal(v.centCos)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        s"cent_cos mismatch for ${v.id}")
      assert(gkeep === !beaten, s"keep mismatch for ${v.id}")
      if (beaten) nDropped += 1
    }
    assert(nDropped > 0, "threshold must actually drop something")
    assert(nDropped < rows.length, "threshold must not drop everything")

    // Law invariant: each cluster's minimum-(centCos, id) member can
    // never be outranked, so it is always kept.
    for ((c, peers) <- byCluster) {
      val best = peers.minBy(v => (v.centCos, v.id))
      assert(got(best.id)._3,
        s"cluster $c's min-centroid-cosine member ${best.id} must be kept")
    }
  }

  test("semDedupVerdictsLsh: beaten ⊆ exact beaten (candidates are " +
      "verified), recall >= 0.8, survivors(exact) ⊆ survivors(lsh), " +
      "no cartesian") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val cents = SimilaritySearch.meanCentroids(emb, "label", "embedding")
    def verdicts(df: org.apache.spark.sql.DataFrame): Map[Long, Boolean] =
      df.collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    val lshDf = Dedup.semDedupVerdictsLsh(emb, "vec_id", "embedding",
      "label", cents, 0.30, 64)
    assert(!lshDf.queryExecution.executedPlan.toString.contains("Cartesian"))
    val exact = verdicts(Dedup.semDedupVerdicts(emb, "vec_id",
      "embedding", "label", cents, 0.30))
    val lsh = verdicts(lshDf)
    assert(lsh.keySet === exact.keySet)
    val exactBeaten = exact.filter(!_._2).keySet
    val lshBeaten = lsh.filter(!_._2).keySet
    assert(lshBeaten.subsetOf(exactBeaten),
      "every LSH drop must be an exact-law drop (candidates verified)")
    assert(exactBeaten.nonEmpty)
    val recall = lshBeaten.size.toDouble / exactBeaten.size
    assert(recall >= 0.8, s"recall=$recall (${lshBeaten.size}/${exactBeaten.size})")
  }

  test("semDedupVerdicts: keep is monotone in the threshold") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val cents = SimilaritySearch.meanCentroids(emb, "label", "embedding")
    def kept(thr: Double): Set[Long] =
      Dedup.semDedupVerdicts(emb, "vec_id", "embedding", "label",
        cents, thr)
        .where(org.apache.spark.sql.functions.col("keep"))
        .collect().map(_.getLong(0)).toSet
    val loose = kept(0.45)
    val tight = kept(0.30)
    assert(tight.subsetOf(loose),
      "lowering the threshold can only drop MORE documents")
    assert(tight.size < loose.size)
  }
}
