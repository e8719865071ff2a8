package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components by iterative min-label propagation — the
  * duplicate-grouping step of entity dedup
  * (entity_deduplication.py:274-369: similarity pairs → groups).
  *
  * component(node) = minimum node id reachable — the same fixpoint a
  * transitive-closure formulation defines, computed here by repeated
  * (label ⋈ edges → min) rounds with an early-exit convergence check.
  * Each round is one shuffle on the node key; rounds needed = graph
  * diameter (dedup clusters are tiny, so 2-4 in practice). This is the
  * GraphFrames/Pregel pattern without the dependency.
  */
object ConnectedComponents {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Labels plus HOW the loop ended (r18 ADVICE: `rounds == maxIter`
    * alone is ambiguous — the loop may have converged exactly on the
    * last permitted round). `converged == false` means the labels come
    * from a partially propagated/contracted state: components can be
    * WRONGLY SPLIT. [[run]]/[[runStar]] log a warning in that case;
    * callers that must not proceed on a split labeling should use a
    * `*WithStatus` face. */
  final case class CcRun(labels: DataFrame, rounds: Int, converged: Boolean)

  /** @param edges undirected edge list (any orderable node type)
    * @return (node, comp) — comp = min reachable node id
    */
  def run(edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 20): DataFrame = {
    val r = runWithStatus(edges, srcCol, dstCol, maxIter)
    if (!r.converged)
      log.warn(s"min-label walk exhausted maxIter=$maxIter without " +
        "converging — labels may split components; raise maxIter or " +
        "use runStar for high-diameter graphs")
    r.labels
  }

  /** [[run]] with the convergence status exposed (no warning). */
  def runWithStatus(edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 20): CcRun = {
    val und = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .unionByName(edges.select(col(dstCol).as("src"), col(srcCol).as("dst")))
      .distinct()
      .cache()
    var labels = und.select(col("src").as("node")).distinct()
      .withColumn("comp", col("node"))
      .localCheckpoint(true)
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val neighborMin = und
        .join(labels.withColumnRenamed("node", "dst")
          .withColumnRenamed("comp", "dst_comp"), Seq("dst"))
        .groupBy(col("src").as("node"))
        .agg(min(col("dst_comp")).as("nbr_comp"))
      val updated = labels.join(neighborMin, Seq("node"), "left")
        .withColumn("new_comp", least(col("comp"), coalesce(col("nbr_comp"), col("comp"))))
      val nChanged = updated.where(col("new_comp") =!= col("comp")).count()
      // localCheckpoint truncates the lineage — the plan otherwise
      // doubles per round and the plan-string alone OOMs by ~10 rounds
      val next = updated.select(col("node"), col("new_comp").as("comp"))
        .localCheckpoint(true)
      labels.unpersist()
      labels = next
      converged = nChanged == 0
      iter += 1
    }
    und.unpersist()
    CcRun(labels, iter, converged)
  }

  /** Large-star/small-star connected components (Kiveris et al. 2014,
    * "Connected Components in MapReduce and Beyond", the Two-Phase
    * algorithm) — the adversarial-chain escape hatch [[run]]'s
    * scaladoc reserves: min-label propagation needs O(diameter)
    * rounds, so a pathological chain-shaped near-dup graph (each doc
    * similar only to its neighbor) costs one shuffle per hop;
    * alternating large-star/small-star rounds contract the SAME
    * fixpoint (component = min reachable id) in O(log² n) rounds on
    * any graph. Keep [[run]] as the default — dedup clusters are
    * shallow and its per-round work is lighter; reach for this face
    * when group diameters are unbounded (long citation/link chains).
    *
    * One round = two shuffles (a groupBy per star op); edges stay
    * deduplicated between rounds and lineage is truncated per round
    * exactly as [[run]] does. Convergence = a small-star round that
    * leaves the edge set unchanged (the paper's criterion); at that
    * fixpoint every edge points at its component's minimum, so the
    * final labels read straight off the star edges, roots labeling
    * themselves. Both faces are deterministic and the specs pin
    * their equality property-style; q176/q223 pin it against one
    * shared DuckDB oracle on the real candidate graph.
    *
    * A `maxIter` exhaustion (like [[run]]'s) returns the labels of a
    * PARTIALLY contracted edge set — at the default 30 that needs a
    * component still uncollapsed after 30 composed rounds (each one
    * large-star PLUS one small-star — 60 star ops), i.e. beyond any
    * realistic corpus graph (the 63-diameter chain spec-arm
    * converges in ≤10 composed rounds). */
  def runStar(edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 30): DataFrame = {
    val r = runStarWithStatus(edges, srcCol, dstCol, maxIter)
    if (!r.converged)
      log.warn(s"star contraction exhausted maxIter=$maxIter without " +
        "reaching the edge-set fixpoint — labels may split components; " +
        "raise maxIter")
    r.labels
  }

  /** [[runStar]] with the convergence status exposed (no warning). */
  def runStarWithStatus(edges: DataFrame, srcCol: String,
      dstCol: String, maxIter: Int = 30): CcRun = {
    // Both star ops are a min-per-node aggregate joined back onto the
    // neighbor list — NOT a collect_set reduce: a 10^7-degree hub must
    // stream through the combiner, never materialize its neighborhood
    // as one array row. The join keys both sides on u, so it reuses
    // the aggregate's hash partitioning (no third shuffle in a round).
    // large-star reduces over both orientations (min over the FULL
    // neighborhood); small-star over the high→low orientation only.
    def largeStar(e: DataFrame): DataFrame = {
      val nbrs = e.unionByName(
        e.select(col("v").as("u"), col("u").as("v")))
      // m(u) = min(Γ(u) ∪ {u}); emit (v, m) for v ∈ Γ(u), v > u
      val m = nbrs.groupBy(col("u"))
        .agg(least(col("u"), min(col("v"))).as("_m"))
      nbrs.join(m, Seq("u"))
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("_m").as("v"))
        .distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      val oriented = e.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      // all neighbors < u here, so m = min(Γ(u)); emit (v, m) for
      // v ∈ Γ(u) ∪ {u} \ {m}
      val m = oriented.groupBy(col("u")).agg(min(col("v")).as("_m"))
      oriented.join(m, Seq("u"))
        .select(col("v"), col("_m"))
        .unionByName(m.select(col("u").as("v"), col("_m")))
        .where(col("v") =!= col("_m"))
        .select(col("v").as("u"), col("_m").as("v"))
        .distinct()
    }
    // ONE pass over the (possibly expensive) upstream edge frame —
    // nodes and the initial working set both derive from this
    // checkpoint (deriving each from `edges` directly would scan a
    // candidate-generation chain like q223's MinHash twice)
    val raw = edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
      .localCheckpoint(true)
    val nodes = raw
      .select(col("u").as("node"))
      .unionByName(raw.select(col("v").as("node")))
      .distinct()
      .persist()
    nodes.count()
    var e = raw.where(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint(true)
    raw.unpersist()
    var eCount = e.count()
    var rounds = 0
    var converged = eCount == 0
    while (rounds < maxIter && !converged) {
      val next = smallStar(largeStar(e)).localCheckpoint(true)
      // both frames are DISTINCT sets, so |next| == |e| plus one-way
      // containment is set equality: a count over the fresh checkpoint
      // short-circuits the anti-join on every non-final round
      val nextCount = next.count()
      converged = nextCount == eCount &&
        next.join(e, Seq("u", "v"), "left_anti").isEmpty
      e.unpersist()
      e = next
      eCount = nextCount
      rounds += 1
    }
    // fixpoint edges form min-rooted stars: label = min(u, neighbors);
    // nodes with no surviving edge (singleton after self-loop drop,
    // or star roots) label themselves
    val minNbr = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
      .groupBy(col("u").as("node"))
      .agg(min(col("v")).as("_mn"))
    // materialize BEFORE releasing nodes/e (r17 review pass 1: the
    // lazy labels frame joined the just-unpersisted nodes, so a
    // caller's first action re-derived the whole upstream candidate
    // chain — at 100 TB, a second MinHash pass). run() pays the same
    // checkpoint per round; this face pays it once at the end.
    val labels = nodes.join(minNbr, Seq("node"), "left")
      .select(col("node"),
        least(col("node"), coalesce(col("_mn"), col("node"))).as("comp"))
      .localCheckpoint(true)
    e.unpersist()
    nodes.unpersist()
    CcRun(labels, rounds, converged)
  }
}
