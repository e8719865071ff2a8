package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Alias, Literal}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType}
import org.apache.spark.storage.StorageLevel

import graft.functions.{CosineSimExpr, VectorFunctions}

/** Approximate / exact nearest-neighbor search over an embedding
  * column (reference: vector search, search_service.py:56-117 +
  * qdrant_service.py:235-302 — Qdrant replaced by Spark-native scans).
  *
  * Scale design:
  *  - [[topK]]: the query vector is a literal → broadcast to every
  *    task; one narrow scan + TakeOrderedAndProject. No shuffle of the
  *    corpus. This is the ≤1M-vector tier.
  *  - [[knnJoin]]: small probe set × big corpus — probe side broadcast,
  *    per-corpus-partition local scoring, then per-probe top-k via
  *    window. 100 TB tier: corpus stays partitioned, probes broadcast.
  *  - [[lshCosineCandidates]]: random-hyperplane signatures bucket the
  *    corpus so candidate generation is an equi-join, not a cross join.
  *  - [[kmeansIvf]] / [[ivfSearch]]: the centroids live on the driver,
  *    so a read chooses its probe clusters there and scans only their
  *    rows, in one job. Training reads a caller's cached embeddings and
  *    releases only the cache entries it created.
  */
object SimilaritySearch {

  /** Literal array<float> column from a query embedding. */
  def vecLit(v: Seq[Float]): Column =
    array(v.map(x => lit(x)): _*)

  /** Exact top-k by cosine against a single query vector. */
  def topK(corpus: DataFrame, idCol: String, vecCol: String,
      query: Column, k: Int): DataFrame =
    topK(corpus, idCol, vecCol, query, k, scoreThreshold = None)

  /** With the reference's `score_threshold` (search_service.py:56-117:
    * results below the floor are cut BEFORE the top-k limit). The
    * threshold filter sits under TakeOrderedAndProject, so it prunes
    * rows map-side — cheaper than post-filtering the top-k. */
  def topK(corpus: DataFrame, idCol: String, vecCol: String,
      query: Column, k: Int, scoreThreshold: Option[Double]): DataFrame = {
    val scored = corpus
      .withColumn("score", VectorFunctions.cosine(col(vecCol), query))
    scoreThreshold.fold(scored)(t => scored.where(col("score") >= t))
      .orderBy(col("score").desc, col(idCol).asc)
      .select(col(idCol), round(col("score"), 6).as("score"))
      .limit(k)
  }

  /** For every probe row, the top-k nearest corpus rows by cosine.
    * Probe side should be small (broadcast); corpus arbitrary size.
    */
  def knnJoin(probes: DataFrame, probeId: String, probeVec: String,
      corpus: DataFrame, corpusId: String, corpusVec: String,
      k: Int, excludeSelf: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // norms once per probe / corpus ROW (cosineFromNorms is
    // bit-identical to cosine): the |probes|×|corpus| score stage
    // then pays one dot per pair instead of three folds
    val p = probes.select(col(probeId).as("probe_id"), col(probeVec).as("probe_vec"),
      VectorFunctions.l2Norm(col(probeVec)).as("_pnrm"))
    val c = corpus.select(col(corpusId).as("neighbor_id"), col(corpusVec).as("nvec"),
      VectorFunctions.l2Norm(col(corpusVec)).as("_nnrm"))
    val scored = c.crossJoin(broadcast(p))
      // null-SAFE inequality: `=!=` yields SQL null on a null id and
      // the filter drops the row — a null-id probe lost ALL its
      // neighbors under excludeSelf only (r17 review pass 10)
      .where(if (excludeSelf) !(col("probe_id") <=> col("neighbor_id"))
        else lit(true))
      .withColumn("score", VectorFunctions.cosineFromNorms(
        VectorFunctions.dot(col("probe_vec"), col("nvec")),
        col("_pnrm"), col("_nnrm")))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    scored.withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .select(col("probe_id"), col("neighbor_id"),
        round(col("score"), 6).as("score"), col("rnk"))
  }

  /** Random-hyperplane LSH bucket key: sign-bit string of the vector
    * against `nBits` deterministic pseudo-random planes. nBits chars of
    * '0'/'1'.
    *
    * Plane weights are exact dyadic rationals from an integer LCG:
    * `w(b,d) = (lcg(b·dim+d) mod 2001 − 1000) / 1024`, so each product
    * with a float32 component is exact in double, and the projection is
    * a sequential left fold — the same evaluation order DuckDB's
    * list_sum uses. Bit-stable across engines (unlike the libm
    * `cos`-weight planes this replaces, whose last-ulp differences made
    * the signature engine-dependent and un-oracle-able).
    */
  def hyperplaneSignature(vec: Column, dim: Int, nBits: Int): Column =
    graft.functions.NativeVector.hyperplaneSigOf(vec, dim, nBits)
    // single-pass native expression; its HOF twin (nBits interpreted
    // aggregate(zip_with(...)) chains — the formulation the oracles
    // mirror) lives in Round6Spec and is bit-identity checked

  /** Candidate near-dup pairs whose LSH signatures match exactly
    * (all nBits sign bits equal) — equi-join on the signature.
    * Cost note (r17 review pass 10): the self-join's two projections
    * each compute the signature, so the interpreted nBits×dim pass —
    * q72's dominant cost — runs twice per row; a caller looping over
    * thresholds persists its own (id, sig) projection (the library
    * never hides a persist), while the single-shot gate wears the 2×
    * as the price of a one-expression plan. */
  def lshCosineCandidates(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, nBits: Int = 8): DataFrame = {
    // null / wrong-length vectors would all hash to the ZERO signature
    // and collapse into one bucket — a silent O(m^2) cartesian dressed
    // as candidates (r17 review pass 10); they carry no usable angle,
    // so they generate no candidates
    val sig = df.where(col(vecCol).isNotNull && size(col(vecCol)) === dim)
      .select(col(idCol),
        hyperplaneSignature(col(vecCol), dim, nBits).as("sig"))
    val a = sig.select(col(idCol).as("id_a"), col("sig"))
    val b = sig.select(col(idCol).as("id_b"), col("sig"))
    a.join(b, Seq("sig")).where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
  }

  /** Multi-probe variant: the probe side additionally visits every
    * signature at Hamming distance 1 (each bit flipped once), so a
    * near-neighbor pair split by ONE marginal hyperplane still meets —
    * the standard recall/cost lever: nBits+1 probe rows per vector
    * instead of more tables, the storage side stays one row per
    * vector. Strict superset of [[lshCosineCandidates]] (spec-proven).
    */
  def lshCosineCandidatesMultiProbe(df: DataFrame, idCol: String,
      vecCol: String, dim: Int, nBits: Int = 8): DataFrame = {
    // same zero-signature guard as the single-probe face
    val sig = df.where(col(vecCol).isNotNull && size(col(vecCol)) === dim)
      .select(col(idCol),
        hyperplaneSignature(col(vecCol), dim, nBits).as("sig"))
    val flips = transform(sequence(lit(0), lit(nBits - 1)), i =>
      concat(
        col("sig").substr(lit(1), i),
        when(col("sig").substr(i + lit(1), lit(1)) === "1", lit("0"))
          .otherwise(lit("1")),
        col("sig").substr(i + lit(2), lit(nBits))))
    val probes = sig.select(col(idCol).as("id_a"),
        explode(array_union(array(col("sig")), flips)).as("sig"))
    // no distinct needed: a vector's nBits+1 probe signatures are
    // pairwise distinct and the storage side has ONE row per vector,
    // so each (id_a, id_b) pair meets at most once
    probes.join(sig.select(col(idCol).as("id_b"), col("sig")), Seq("sig"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
  }

  /** IVF index built by spherical Lloyd k-means (the real IVF training
    * step, vs. q48's label-partition shortcut): deterministic seeding
    * (the k lowest-id vectors), fixed iteration count, assignment by
    * max cosine. Centroids are k×dim — driver-held and shipped inside
    * the native argmax-cosine expression each iteration (the
    * plan-literal form of MLlib's broadcast-centroids pattern); the
    * corpus never leaves its partitions, and the assignment pass stays
    * unboxed (NativeVector.ArgmaxCosineExpr — no per-row Seq[Float]
    * conversion; the old UDF formulation survives test-side as the
    * parity twin). Returns (assigned corpus with a `cluster` column,
    * centroid array indexed by cluster id).
    *
    * RELEASE PATH (r18 ADVICE): the returned assignment is an EAGER
    * local checkpoint (the r17 hygiene fix — a lazy return re-derived
    * the full upstream per downstream action), so its blocks stay
    * pinned until the caller `unpersist()`s it or the driver GCs the
    * frame. Consume-once callers should unpersist after their
    * terminal action; note the frame carries the embedding column, so
    * at scale those blocks are the dominant memory holder
    * ([[graft.operators.Dedup.semDedup]] shows the pattern: checkpoint
    * the narrow derivative, then release this).
    *
    * CACHE OWNERSHIP: the Lloyd passes read `df.select(idCol, vecCol)`
    * from the cache. If that projection is already cached (for an
    * `(id, embedding)` input it is the caller's own frame), the passes
    * read the caller's entry and leave it in place; only an entry this
    * call created is released before return.
    */
  def kmeansIvf(df: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int): (DataFrame, Array[Array[Double]]) = {
    require(iters >= 0, s"iters must be non-negative: $iters")
    // persisted across the iters+1 passes (the ConnectedComponents
    // iterative-algorithm precedent — without it every Lloyd pass
    // re-executes the full upstream lineage); released before return,
    // after the final assignment is checkpointed, unless the entry is
    // the caller's: persisting an already-cached plan is a no-op, and
    // its unpersist would evict the caller's cache
    val base = df.select(col(idCol), col(vecCol))
    val owned = base.storageLevel == StorageLevel.NONE
    if (owned) base.persist()
    // seeds read any numeric element type (array<float|double>, the
    // same span elemReader advertises) and skip null vectors — a
    // Float-only getSeq ClassCastExceptioned on double embeddings
    // (r17 review pass 10)
    var cents: Array[Array[Double]] = base
      .where(col(vecCol).isNotNull)
      .orderBy(col(idCol).asc).limit(k)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Number](0).map(_.doubleValue()).toArray)
    var assigned: DataFrame = null
    // iters update passes + ONE final assignment pass, so the returned
    // bucketing is consistent with the returned centroids (ivfSearch
    // probes by the final centroids — a mismatch silently costs recall)
    for (it <- 0 to iters) {
      val lastPass = it == iters
      assigned = base.withColumn("cluster",
        graft.functions.NativeVector.argmaxCosineOf(col(vecCol), cents))
      if (!lastPass) {
        // per-cluster means via the shared aggregation (meanCentroids
        // — the ordered struct-sort reassembly lives in ONE place)
        val means = meanCentroids(assigned, "cluster", vecCol)
          .collect()
          .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toMap
        cents = cents.indices.map(c => means.getOrElse(c, cents(c))).toArray
      }
    }
    val out = assigned.localCheckpoint(true)
    if (owned) base.unpersist()
    (out, cents)
  }

  /** The (cluster, centroid) frame of a driver-held centroid array —
    * the schema Dedup.semDedup consumes. */
  def centroidsDf(spark: org.apache.spark.sql.SparkSession,
      cents: Array[Array[Double]]): DataFrame = {
    import spark.implicits._
    cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cluster", "centroid")
  }

  /** ANN over a k-means IVF index: score the query against centroids,
    * keep the `probes` best clusters, exact top-k inside them.
    *
    * The probes are chosen on the driver, where the centroids already
    * are: the [[CosineSimExpr]] the scan uses, evaluated interpreted,
    * ranks them by score descending (NaN highest, null last, ties to
    * the lower cluster id). The query must be a literal vector
    * ([[vecLit]]); it is analyzed, not executed, so choosing runs no
    * job. The chosen ids filter `assigned` as one array literal, which
    * generated code reads from its reference array, so a read with
    * another probe set reuses the compiled classes. A read is then
    * one job: scan, filter, score, top-k. */
  def ivfSearch(assigned: DataFrame, cents: Array[Array[Double]],
      idCol: String, vecCol: String, query: Column, probes: Int,
      k: Int): DataFrame = {
    val chosen = probeClusters(assigned, cents, query, probes)
    assigned.where(array_contains(typedLit(chosen), col("cluster")))
      .withColumn("score", VectorFunctions.cosine(col(vecCol), query))
      .orderBy(col("score").desc, col(idCol).asc)
      .select(col(idCol), col("cluster"), round(col("score"), 6).as("score"))
      .limit(k)
  }

  /** The `probes` best clusters for `query`: the ids
    * `orderBy(cosine(centroid, query).desc, cluster.asc).limit(probes)`
    * over [[centroidsDf]] returns, in that order, computed without a
    * job. */
  private def probeClusters(assigned: DataFrame, cents: Array[Array[Double]],
      query: Column, probes: Int): Seq[Int] = {
    require(probes >= 0, s"probes must be non-negative: $probes")
    val q = assigned.select(query).queryExecution.analyzed.expressions.head match {
      case a: Alias => a.child
      case e => e
    }
    require(q.foldable, "ivfSearch needs a literal query vector " +
      s"(SimilaritySearch.vecLit), got: $q")
    val qLit = Literal.create(q.eval(), q.dataType)
    val centType = ArrayType(DoubleType, containsNull = false)
    val scores = cents.map(c =>
      Option(CosineSimExpr(Literal.create(c.toSeq, centType), qLit).eval())
        .map(_.asInstanceOf[Double]))
    // Spark's `score.desc`: NaN above every number, -0.0 equal to 0.0,
    // null last; the sort is stable, so ties keep the lower cluster first
    def compare(i: Int, j: Int): Int = (scores(i), scores(j)) match {
      case (Some(x), Some(y)) => SQLOrderingUtil.compareDoubles(y, x)
      case (Some(_), None) => -1
      case (None, Some(_)) => 1
      case _ => 0
    }
    cents.indices.sortWith(compare(_, _) < 0).take(probes)
  }

  // ---- incremental IVF index maintenance (the vector twin of
  // incremental.IncrementalIndex's BM25 maintenance) ----

  /** True-mean centroids per partition label — the q48 shape shared
    * by the maintenance tier. Exactness note as on q48: testdata
    * components are 24-bit dyadics, so double means are
    * aggregation-order-free. */
  def meanCentroids(vecs: DataFrame, labelCol: String,
      vecCol: String): DataFrame =
    vecs.select(col(labelCol).as("label"),
        posexplode(col(vecCol)).as(Seq("dim", "v")))
      .groupBy(col("label"), col("dim"))
      .agg(avg(col("v").cast("double")).as("c"))
      .groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("dim"),
        col("c")))), x => x.getField("c")).as("centroid"))

  /** Assign NEW vectors to the nearest of the given centroids by
    * cosine (tie → lowest label) — the incremental-ingest step: no
    * recompute, the centroid side is index-cardinality (broadcast),
    * the delta never shuffles except its own per-vector argmax.
    * Output: (id, label, round(score, 6)). */
  /** Contract note (r17 review pass 10): an EMPTY `cents` frame
    * yields an empty result — every delta vector unassigned — by the
    * cross-join algebra; a first-ingest caller seeds centroids (or
    * checks cents.isEmpty) before relying on the assignment. */
  def assignToCentroids(delta: DataFrame, idCol: String,
      vecCol: String, cents: DataFrame): DataFrame = {
    val scored = delta.select(col(idCol), col(vecCol))
      .crossJoin(broadcast(cents))
      .withColumn("score",
        VectorFunctions.cosine(col(vecCol), col("centroid")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
      .orderBy(col("score").desc, col("label").asc)
    scored.withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1)
      .select(col(idCol), col("label"),
        round(col("score"), 6).as("score"))
  }

  /** Post-ingest drift census: under the UPDATED centroids (means
    * over existing ∪ assigned delta — identical to the incremental
    * running-mean update), how many of the given vectors' nearest
    * centroids no longer match their stored label, per label. A
    * cluster whose moved fraction exceeds `reclusterThreshold` flags
    * for re-training. At corpus scale the census input is a SAMPLE —
    * the law is per-vector, so any sample frame composes. Output per
    * label: n_vectors, n_moved, moved_frac, needs_recluster. */
  def ivfDriftCensus(vectors: DataFrame, idCol: String,
      labelCol: String, vecCol: String, updatedCents: DataFrame,
      reclusterThreshold: Double): DataFrame = {
    val nearest = assignToCentroids(
      vectors.select(col(idCol), col(vecCol)), idCol, vecCol,
      updatedCents)
      .select(col(idCol), col("label").as("_nearest"))
    vectors.select(col(idCol), col(labelCol).as("label"))
      .join(nearest, Seq(idCol))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vectors"),
        sum(when(col("_nearest") =!= col("label"), 1L).otherwise(0L))
          .as("n_moved"))
      // ONE ratio expression: the flag decides on the RAW ratio (the
      // displayed moved_frac rounds it — at a rounding boundary the
      // row may show 0.1 with needs_recluster=true, which is the raw
      // law working, r17 review pass 10 simplification)
      .withColumn("_ratio",
        col("n_moved").cast("double") / col("n_vectors").cast("double"))
      .withColumn("moved_frac", round(col("_ratio"), 6))
      .withColumn("needs_recluster", col("_ratio") > reclusterThreshold)
      .drop("_ratio")
  }
}
