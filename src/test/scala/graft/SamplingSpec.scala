package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Sampling

/** Deterministic sampling / split assignment (operators/Sampling). */
class SamplingSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  test("membership is a pure function of (salt, id): same rows under " +
      "any layout, different salt reshuffles") {
    val df = spark.range(2000).toDF("id")
    val a = Sampling.sample(df, "id", 0.3, "s1")
      .collect().map(_.getLong(0)).toSet
    val b = Sampling.sample(df.repartition(13), "id", 0.3, "s1")
      .collect().map(_.getLong(0)).toSet
    assert(a === b)
    val c = Sampling.sample(df, "id", 0.3, "s2")
      .collect().map(_.getLong(0)).toSet
    assert(a !== c)
    // a 30% draw over 2000 ids lands near 600
    assert(math.abs(a.size - 600) < 80, a.size.toString)
  }

  test("threshold edges: fraction 1 keeps everything, 0 keeps " +
      "nothing, and the hex literal is fixed-width lowercase") {
    val df = spark.range(100).toDF("id")
    assert(Sampling.sample(df, "id", 1.0, "s").count() === 100L)
    assert(Sampling.sample(df, "id", 0.0, "s").count() === 0L)
    assert(Sampling.thresholdHex(0.5) === "80000000")
    assert(Sampling.thresholdHex(1.0) === "g")
    assert(Sampling.thresholdHex(0.0) === "")
    assert(Sampling.thresholdHex(0.25) === "40000000")
    // within 2^-33 of 1: the rounded 2^32 would render 9 hex chars
    // and lexicographically EXCLUDE most draws — clamps to the
    // keep-everything sentinel instead
    assert(Sampling.thresholdHex(1.0 - 1e-10) === "g")
    assert(Sampling.sample(spark.range(200).toDF("id"), "id",
      1.0 - 1e-10, "s").count() === 200L)
  }

  test("null ids share one deterministic draw: kept by a 100% " +
      "sample, one consistent split band") {
    val df = Seq(Some(1L), Some(2L), None, None).toDF("id")
    assert(Sampling.sample(df, "id", 1.0 - 1e-10, "s").count() === 4L)
    val splits = Sampling.assignSplit(df, "id", "sp", 0.7, 0.15)
      .where(col("id").isNull).select("split").distinct().collect()
    assert(splits.length === 1)
  }

  test("splits are disjoint, exhaustive, and near the requested " +
      "bands; sampling composes with splitting on independent salts") {
    val df = spark.range(5000).toDF("id")
    val split = Sampling.assignSplit(df, "id", "sp", 0.7, 0.15)
    val counts = split.groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum === 5000L)
    assert(math.abs(counts("train") - 3500) < 200, counts.toString)
    assert(math.abs(counts("validation") - 750) < 120, counts.toString)
    assert(math.abs(counts("test") - 750) < 120, counts.toString)
    // an id's split never depends on whether the sample kept it
    val sampled = Sampling.sample(df, "id", 0.5, "other")
    val joint = Sampling.assignSplit(sampled, "id", "sp", 0.7, 0.15)
      .select(col("id"), col("split"))
    val full = split.select(col("id"), col("split").as("full_split"))
    assert(joint.join(full, Seq("id"))
      .where(col("split") =!= col("full_split")).count() === 0L)
  }

  test("stratified fractions apply per stratum; unlisted strata take " +
      "the default") {
    val df = spark.range(6000).toDF("id")
      .withColumn("lang", element_at(
        array(lit("en"), lit("de"), lit("zh")),
        (col("id") % 3).cast("int") + 1))
    val out = Sampling.stratifiedSample(df, "lang", "id",
      Map("en" -> 0.5, "de" -> 0.1), 0.9, "mix")
    val counts = out.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(counts("en") - 1000) < 150, counts.toString)
    assert(math.abs(counts("de") - 200) < 80, counts.toString)
    assert(math.abs(counts("zh") - 1800) < 150, counts.toString)
  }

  test("temperature fractions: smallest stratum keeps 1.0, fractions " +
      "fall with size, alpha=1 keeps everything, alpha bounds bail") {
    val df = spark.range(700).toDF("id")
      .withColumn("lang", when(col("id") < 400, "en")
        .when(col("id") < 600, "de").otherwise("ro"))
    val half = Sampling.temperatureFractions(df, "lang", 0.5)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    assert(half("ro") === ((100L, 1.0)))
    assert(half("de") === ((200L, 0.707107))) // sqrt(1/2) @6
    assert(half("en") === ((400L, 0.5)))      // sqrt(1/4)
    // alpha 1 → exponent 0 → every stratum keeps everything (pow arm)
    val flat = Sampling.temperatureFractions(df, "lang", 1.0)
      .collect().map(_.getDouble(2)).toSet
    assert(flat === Set(1.0))
    // a non-sqrt alpha exercises the pow arm: (1/4)^0.75
    val sharp = Sampling.temperatureFractions(df, "lang", 0.25)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(sharp("en") === BigDecimal(math.pow(0.25, 0.75))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assertThrows[IllegalArgumentException] {
      Sampling.temperatureFractions(df, "lang", 0.0)
    }
    assertThrows[IllegalArgumentException] {
      Sampling.temperatureFractions(df, "lang", 1.5)
    }
  }

  test("temperature fractions resolve without implicit lateral " +
      "column aliases") {
    val key = "spark.sql.lateralColumnAlias.enableImplicitResolution"
    val prev = spark.conf.get(key)
    val df = spark.range(300).toDF("id")
      .withColumn("lang", when(col("id") < 200, "en").otherwise("ro"))
    try {
      spark.conf.set(key, "false")
      val got = Sampling.temperatureFractions(df, "lang", 0.5)
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2)))
        .toMap
      assert(got === Map("ro" -> ((100L, 1.0)), "en" -> ((200L, 0.707107))))
    } finally spark.conf.set(key, prev)
  }

  test("temperatureSample flattens the mix toward n^alpha and stays " +
      "a pure function of (salt, id)") {
    val df = spark.range(3000).toDF("id")
      .withColumn("lang", when(col("id") < 2400, "en").otherwise("zh"))
    val out = Sampling.temperatureSample(df, "lang", "id", 0.5, "tm")
    val counts = out.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // en keeps sqrt(600/2400) = 1/2 → ~1200; zh keeps all 600
    assert(counts("zh") === 600L)
    assert(math.abs(counts("en") - 1200) < 120, counts.toString)
    // layout-invariant
    val again = Sampling.temperatureSample(df.repartition(17), "lang",
      "id", 0.5, "tm").collect().map(_.getLong(0)).toSet
    assert(again === out.collect().map(_.getLong(0)).toSet)
  }

  test("temperatureSampleInPlan selects the exact same rows as the " +
      "collect form — the in-plan hex-threshold law is thresholdHex") {
    val df = spark.range(4000).toDF("id")
      .withColumn("lang", when(col("id") < 2500, "en")
        .when(col("id") < 3500, "de").otherwise("ro"))
    val viaCollect = Sampling.temperatureSample(df, "lang", "id",
      0.5, "ip").select("id").collect().map(_.getLong(0)).toSet
    val inPlan = Sampling.temperatureSampleInPlan(df, "lang", "id",
      0.5, "ip").select("id").collect().map(_.getLong(0)).toSet
    assert(inPlan === viaCollect)
    // and under the pow arm too
    val c2 = Sampling.temperatureSample(df, "lang", "id", 0.25, "ip2")
      .select("id").collect().map(_.getLong(0)).toSet
    val p2 = Sampling.temperatureSampleInPlan(df, "lang", "id", 0.25,
      "ip2").select("id").collect().map(_.getLong(0)).toSet
    assert(p2 === c2)
  }

  test("null strata form their own group: the ladder's null-keyed " +
      "arm matches isNull, and temperatureSample neither NPEs nor " +
      "silently keeps null rows in full") {
    val df = spark.range(900).toDF("id")
      .withColumn("lang", when(col("id") < 400, "en")
        .when(col("id") < 500, lit(null: String)).otherwise("de"))
    // explicit null key in stratifiedSample: null rows take ITS arm
    val nullsOnly = Sampling.stratifiedSample(df, "lang", "id",
      Map((null: String) -> 1.0, "en" -> 0.0, "de" -> 0.0), 0.0, "ns")
    assert(nullsOnly.count() === 100L)
    assert(nullsOnly.where(col("lang").isNotNull).count() === 0L)
    // temperatureSample: the 100-row null group is the SMALLEST
    // stratum → keeps everything; en keeps sqrt(100/400) = 1/2
    val out = Sampling.temperatureSample(df, "lang", "id", 0.5, "tn")
    assert(out.where(col("lang").isNull).count() === 100L)
    val en = out.where(col("lang") === "en").count()
    assert(math.abs(en - 200L) < 60, en.toString)
  }

  test("the q177 plan is a single filtered scan: no join, no " +
      "exchange — pushdown-friendly at any scale") {
    val plan = SparkEntry.queries("q177_training_mix")(spark,
      "/root/testdata/sf0.001").queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("Exchange"), plan)
  }

  test("capPerStratum: under-cap strata keep everything, head strata " +
      "truncate to exactly cap; caps nest (the kept set is a prefix " +
      "of the draw order); membership is salt-deterministic") {
    val df = spark.range(900).toDF("id")
      .withColumn("lang", when(col("id") < 600, "en")
        .when(col("id") < 750, "de").otherwise("zh"))
    def kept(cap: Int, salt: String = "b"): Map[String, Set[Long]] =
      Sampling.capPerStratum(df, "lang", "id", cap, salt)
        .collect().map(r => (r.getString(1), r.getLong(0)))
        .groupBy(_._1).map { case (l, xs) => l -> xs.map(_._2).toSet }
    val k200 = kept(200)
    assert(k200("en").size === 200)   // 600 → cap
    assert(k200("de").size === 150)   // under cap: whole stratum
    assert(k200("zh").size === 150)
    val k100 = kept(100)
    assert(k100("en").size === 100)
    // caps nest: a tighter cap keeps a SUBSET (prefix of the draw)
    assert(k100("en").subsetOf(k200("en")))
    // deterministic per salt; a different salt redraws the head set
    assert(kept(100) === k100)
    assert(kept(100, "c")("en") !== k100("en"))
    // rk is 1..n contiguous within each stratum
    val rks = Sampling.capPerStratum(df, "lang", "id", 200, "b")
      .where(col("lang") === "en").select("rk")
      .collect().map(_.getInt(0)).sorted
    assert(rks.toSeq === (1 to 200))
  }

  test("group-aware splits: a near-dup chain lands whole in one " +
      "split; singletons draw exactly the per-document law; the " +
      "per-document law DOES straddle some group (the leakage this " +
      "operator removes)") {
    import graft.operators.Dedup
    val n = 400L
    val docs = spark.range(n).toDF("doc_id")
    // chains of 3: (3k, 3k+1), (3k+1, 3k+2) for k < 40 → 40 groups
    val pairs = (0 until 40).flatMap { k =>
      Seq((k * 3L, k * 3L + 1), (k * 3L + 1, k * 3L + 2))
    }.toDF("id_a", "id_b")
    val comps = Dedup.connectedComponents(docs, "doc_id",
      pairs, "id_a", "id_b")
    val out = Sampling.assignSplitByGroup(docs, "doc_id", comps,
      "gsplit", 0.7, 0.15)
    // 1. no group straddles
    assert(out.groupBy("component")
      .agg(countDistinct(col("split")).as("k"))
      .where(col("k") > 1).count() === 0L)
    // 2. every chain member carries its min id as component
    val m = out.where(col("doc_id") < 120)
      .select(col("doc_id"), col("component"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0 until 40).foreach { k =>
      assert(Seq(0, 1, 2).map(o => m(k * 3L + o)).toSet === Set(k * 3L))
    }
    // 3. singleton docs (>= 120) match the plain per-doc law exactly
    val plain = Sampling.assignSplit(docs, "doc_id", "gsplit", 0.7, 0.15)
      .select(col("doc_id"), col("split").as("plain_split"))
    assert(out.where(col("doc_id") >= 120).join(plain, Seq("doc_id"))
      .where(col("split") =!= col("plain_split")).count() === 0L)
    // 4. the per-doc law straddles at least one chain — the leakage
    val straddled = plain
      .join(out.select(col("doc_id"), col("component")), Seq("doc_id"))
      .where(col("component") < 120)
      .groupBy("component")
      .agg(countDistinct(col("plain_split")).as("k"))
      .where(col("k") > 1).count()
    assert(straddled > 0L,
      "40 independent 3-chains at 70/15/15 straddle w.p. ~1")
  }

  private def budgetRun(rows: Seq[(Long, Long, Long)],
      budget: Long): Map[Long, Boolean] =
    Sampling.budgetSelect(rows.toDF("id", "n_tokens", "band"),
        "id", "n_tokens", "band", budget)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap

  test("budgetSelect: top band whole, boundary band id-prefix, " +
      "lower bands dropped; every row verdicts once") {
    // band 3: 10+10=20 whole; band 2: ids 20,21,22 of 8 tokens each —
    // 30-token budget leaves 10, so ONLY id 20 fits; band 1 drops
    val rows = Seq((1L, 10L, 3L), (2L, 10L, 3L),
      (20L, 8L, 2L), (21L, 8L, 2L), (22L, 8L, 2L), (30L, 1L, 1L))
    val out = budgetRun(rows, 30L)
    assert(out === Map(1L -> true, 2L -> true, 20L -> true,
      21L -> false, 22L -> false, 30L -> false))
  }

  test("budgetSelect: an exact band-edge budget takes the edge band " +
      "whole and nothing below; an oversized doc at the boundary " +
      "head blocks the band's tail (prefix law, docs never split)") {
    val edge = budgetRun(Seq((1L, 10L, 2L), (2L, 5L, 1L)), 10L)
    assert(edge === Map(1L -> true, 2L -> false))
    // boundary band 1: id 10 costs 100 (overflows), id 11 costs 1 —
    // the prefix law carries the overflow, so id 11 drops too
    val blocked = budgetRun(
      Seq((1L, 10L, 2L), (10L, 100L, 1L), (11L, 1L, 1L)), 50L)
    assert(blocked === Map(1L -> true, 10L -> false, 11L -> false))
  }

  test("budgetSelect: budget 0 selects nothing; budget >= total " +
      "selects everything") {
    val rows = Seq((1L, 5L, 2L), (2L, 5L, 1L))
    assert(budgetRun(rows, 0L).values.forall(_ == false))
    assert(budgetRun(rows, 10L).values.forall(_ == true))
  }

  test("budgetSelect: a null band verdicts unselected (not silently " +
      "dropped); a null token count contributes and echoes 0") {
    val df = Seq[(Long, java.lang.Long, java.lang.Long)](
      (1L, 5L, 2L), (2L, null, 2L), (3L, 5L, null))
      .toDF("id", "n_tokens", "band")
    // output order is (id, band, n_tokens, selected)
    val out = Sampling.budgetSelect(df, "id", "n_tokens", "band", 5L)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(2), r.getBoolean(3)))).toMap
    assert(out.size === 3, "every row verdicts, null band included")
    // band 2 totals 5 (null token -> 0): both rows fit the budget
    assert(out(1L) === ((5L, true)))
    assert(out(2L) === ((0L, true)))
    assert(out(3L) === ((5L, false)))
  }

  test("budgetSelect boundary prefix uses a ROWS frame: duplicate ids " +
      "in the boundary band verdict in sequence, not jointly (r17 " +
      "pass-7: the orderBy-default RANGE frame shared one cumulative " +
      "total across a tie)") {
    import graft.operators.Sampling
    // band 1 (6 tokens) fits whole in budget 12; band 0 straddles
    // with two SAME-id rows of 6 tokens: remaining budget 6 fits the
    // first but not both — RANGE would give both _run = 12 and
    // verdict both false
    val df = Seq((9L, 1L, 6L), (5L, 0L, 6L), (5L, 0L, 6L))
      .toDF("doc_id", "band", "n_tokens")
    val out = Sampling.budgetSelect(df, "doc_id", "n_tokens", "band",
        12L).collect()
      .map(r => (r.getLong(0), r.getBoolean(3)))
    assert(out.count(_ == (9L, true)) === 1)
    assert(out.count(_ == (5L, true)) === 1, s"exactly ONE of the tied" +
      s" rows fits the prefix: ${out.toSeq}")
    assert(out.count(_ == (5L, false)) === 1)
  }

  test("assignSplitByGroup fails fast with the contract when the " +
      "input already carries a component column (r17 pass-7: it " +
      "crashed at analysis time with AMBIGUOUS_REFERENCE)") {
    import graft.operators.{Dedup, Sampling}
    val docs = Seq((1L, 1L)).toDF("doc_id", "component")
    val comps = Dedup.connectedComponents(
      Seq(Tuple1(1L)).toDF("doc_id"), "doc_id",
      Seq.empty[(Long, Long)].toDF("id_a", "id_b"), "id_a", "id_b")
    val e = intercept[IllegalArgumentException] {
      Sampling.assignSplitByGroup(docs, "doc_id", comps, "s", 0.7, 0.15)
    }
    assert(e.getMessage.contains("component"))
  }

  test("r18 budgetSelectByGroup: each group solves the budgetSelect " +
      "law independently against its own budget (per-group output " +
      "equals per-group budgetSelect row-for-row)") {
    import graft.operators.Sampling
    val docs = Seq(
      // group g1: bands 2 (10+10 toks), 1 (10), 0 (10)
      (1L, "g1", 2, 10L), (2L, "g1", 2, 10L), (3L, "g1", 1, 10L),
      (4L, "g1", 0, 10L),
      // group g2: bands 1 (5), 0 (5+5)
      (10L, "g2", 1, 5L), (11L, "g2", 0, 5L), (12L, "g2", 0, 5L))
      .toDF("doc_id", "grp", "band", "n_toks")
    val budgets = Seq(("g1", 25.0), ("g2", 7.0)).toDF("grp", "budget")
    val got = Sampling.budgetSelectByGroup(docs, "doc_id", "n_toks",
        "band", "grp", budgets)
      .collect().map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    // g1 @25: band 2 whole (20), band 1 boundary (20+10>25, prefix
    // 20+10>25 -> doc 3 unselected), band 0 dropped
    // g2 @7: band 1 whole (5), band 0 boundary: doc 11 (5+5<=7? no,
    // 10>7) -> unselected; prefix law blocks 12 too
    assert(got === Map(1L -> true, 2L -> true, 3L -> false,
      4L -> false, 10L -> true, 11L -> false, 12L -> false))
    // per-group equality with the global face
    for ((g, b) <- Seq(("g1", 25L), ("g2", 7L))) {
      val solo = Sampling.budgetSelect(docs.where($"grp" === g),
          "doc_id", "n_toks", "band", b)
        .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
      val mine = got.filter { case (id, _) => solo.contains(id) }
      assert(mine === solo, s"group $g diverges from budgetSelect")
    }
  }

  test("r18 budgetSelectByGroup edges: absent-budget group reads 0; " +
      "null group and null band echo unselected; every input row " +
      "verdicts exactly once") {
    import graft.operators.Sampling
    val docs = Seq(
      (1L, "known", 1, 5L),
      (2L, "orphan", 1, 5L),                       // no budget row
      (3L, null.asInstanceOf[String], 1, 5L),      // null group
      (4L, "known", -1, 5L))
      .toDF("doc_id", "grp", "band", "n_toks")
      .withColumn("band", when($"doc_id" === 4L,
        lit(null).cast("int")).otherwise($"band"))  // null band
    val budgets = Seq(("known", 100.0)).toDF("grp", "budget")
    val out = Sampling.budgetSelectByGroup(docs, "doc_id", "n_toks",
      "band", "grp", budgets).collect()
    assert(out.length === 4, "one verdict per input row")
    val got = out.map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    assert(got === Map(1L -> true, 2L -> false, 3L -> false,
      4L -> false))
  }

  test("r18 q230/q231 plans: no cartesian anywhere; the q231 budget " +
      "and band-cum frames broadcast onto the corpus") {
    for (q <- Seq("q230_unimax_alloc", "q231_multilingual_draw")) {
      val plan = SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$q:\n$plan")
      if (q.startsWith("q231"))
        assert(plan.contains("BroadcastHashJoin"), s"$q:\n$plan")
    }
  }

  test("r18 pass 8: duplicate budget rows collapse (exact dups) or " +
      "resolve to the MINIMUM (conflicts) — one verdict per input " +
      "row either way") {
    import graft.operators.Sampling
    val docs = Seq((1L, "g", 0, 5L), (2L, "g", 0, 5L))
      .toDF("doc_id", "grp", "band", "n_toks")
    // conflicting duplicates: 100 and 6 -> the conservative 6 wins:
    // band total 10 > 6, boundary prefix keeps doc 1 only
    val budgets = Seq(("g", 100.0), ("g", 6.0)).toDF("grp", "budget")
    val out = Sampling.budgetSelectByGroup(docs, "doc_id", "n_toks",
      "band", "grp", budgets).collect()
    assert(out.length === 2, "no fan-out from the duplicated budget")
    val got = out.map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    assert(got === Map(1L -> true, 2L -> false))
  }

  test("r18 unimaxAllocation: hand-computed waterfill — capped small " +
      "languages keep full capacity, the rest share theta, the " +
      "allocations sum to the budget exactly") {
    import graft.operators.Sampling
    // per-language tokens: a 2, b 4, c 10 (maxEpochs 1 => capacity =
    // tokens). Budget 9: t1 = 9/3 = 3 > c_a=2 -> a keeps 2;
    // t2 = (9-2)/2 = 3.5 <= c_b=4 -> boundary, theta = 3.5
    val docs = Seq(("a", 2L), ("b", 4L), ("c", 10L))
      .toDF("lang", "n_toks")
    val got = Sampling.unimaxAllocation(docs, "lang", "n_toks", 9.0, 1.0)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(3), r.getDouble(4)))).toMap
    assert(got("a") === ((2L, 2.0, 1.0)))
    assert(got("b") === ((4L, 3.5, 0.875)))
    assert(got("c") === ((10L, 3.5, 0.35)))
    assert(got.values.map(_._2).sum === 9.0, "feasible budget is spent exactly")
  }

  test("r18 unimaxAllocation edges: budget over total capacity gives " +
      "everyone capacity; budget 0 gives zero; the epoch cap binds " +
      "(maxEpochs scales capacity); an empty language allocates 0 " +
      "with NULL epochs") {
    import graft.operators.Sampling
    val docs = Seq(("a", 2L), ("b", 4L), ("z", 0L))
      .toDF("lang", "n_toks")
    val over = Sampling.unimaxAllocation(docs, "lang", "n_toks", 100.0, 2.0)
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(over === Map("a" -> 4.0, "b" -> 8.0, "z" -> 0.0),
      "infeasible budget degrades to per-language capacity (2 epochs)")
    val zero = Sampling.unimaxAllocation(docs, "lang", "n_toks", 0.0, 1.0)
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(zero.values.forall(_ === 0.0))
    val zRow = Sampling.unimaxAllocation(docs, "lang", "n_toks", 100.0, 2.0)
      .where($"lang" === "z").collect().head
    assert(zRow.isNullAt(4), "empty language: NULL epochs, never a NaN")
  }
}
