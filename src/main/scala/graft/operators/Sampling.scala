package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling and split assignment for training-data
  * pipelines (beyond-reference scale operators): membership is a pure
  * function of (salt, id) — reproducible across runs, clusters, and
  * engines, with no RDD-level sampler state. The FRACTION-based
  * operators (sample / stratifiedSample / temperature* / assignSplit)
  * are shuffle-free narrow filters that predicate pushdown can reach;
  * [[capPerStratum]] alone is rank-based and pays one window shuffle
  * on the stratum key (a count cap cannot be decided row-locally).
  *
  * The mechanism: the first 8 hex chars of md5("{salt}:{id}") are a
  * uniform 32-bit draw; LOWERCASE fixed-width hex compares
  * lexicographically exactly as it does numerically, so thresholds are
  * hex-string literals baked into the plan — the DuckDB oracle
  * replays the identical comparison with no float in sight. */
object Sampling {

  /** The per-row draw: first 8 hex of md5("{salt}:{id}"). Total on
    * null ids: a null keys as the empty string, so every null-id row
    * shares ONE deterministic draw — it stays in a 100% sample and
    * lands in one consistent split band, rather than vanishing from
    * the filter while still drawing a split. */
  def hashSlice(id: Column, salt: String): Column =
    substring(md5(concat(lit(salt), lit(":"),
      coalesce(id.cast("string"), lit("")))), 1, 8)

  /** 2^32 — the one scale constant of the fraction→8-hex law, shared
    * by the driver-side [[thresholdHex]] and the Column-side
    * [[temperatureSampleInPlan]] so the two faces cannot drift. */
  val HexScale = 4294967296.0

  /** A fraction as an 8-hex threshold: a draw d is IN iff
    * d < threshold. fraction >= 1 maps to a sentinel above every hex
    * digit ("g" > "f"), fraction <= 0 to one below (the empty
    * threshold ""). A fraction within 2^-33 of 1 would ROUND to 2^32
    * — a 9-char hex that lexicographic comparison misreads — so the
    * rounded value clamps into the sentinel arm. */
  def thresholdHex(fraction: Double): String =
    if (fraction >= 1.0) "g"
    else if (fraction <= 0.0) ""
    else {
      val v = math.round(fraction * HexScale)
      if (v >= HexScale.toLong) "g" else f"$v%08x"
    }

  /** Keep a deterministic `fraction` of rows, keyed on `idCol`. */
  def sample(df: DataFrame, idCol: String, fraction: Double,
      salt: String): DataFrame =
    df.filter(hashSlice(col(idCol), salt) < lit(thresholdHex(fraction)))

  /** Per-stratum fractions (a training-mix downsample): each stratum
    * value takes its own fraction, anything unlisted takes
    * `defaultFraction`. The fraction ladder is a literal CASE — no
    * join, still one narrow scan. A `null` map key addresses the
    * null stratum (its arm tests isNull — a plain `===` would never
    * match); null-stratum rows with no such key take the default. */
  def stratifiedSample(df: DataFrame, strataCol: String, idCol: String,
      fractions: Map[String, Double], defaultFraction: Double,
      salt: String): DataFrame = {
    val threshold = fractions.toSeq.sortBy(kv => Option(kv._1))
      .foldRight(lit(thresholdHex(defaultFraction))) {
        case ((value, frac), rest) =>
          val arm = if (value == null) col(strataCol).isNull
            else col(strataCol) === value
          when(arm, lit(thresholdHex(frac))).otherwise(rest)
      }
    df.filter(hashSlice(col(idCol), salt) < threshold)
  }

  /** Temperature rebalancing of a multilingual/multi-source corpus
    * (Lample & Conneau 2019, "Cross-lingual Language Model
    * Pretraining" §3.1: sample languages at q_l ∝ p_l^α): realized
    * as deterministic per-stratum KEEP fractions — downsampled
    * counts n_l·f_l ∝ n_l^α requires f_l ∝ n_l^(α-1), normalized so
    * the SMALLEST stratum keeps everything (filtering can only
    * downsample): f_l = (n_min / n_l)^(1-α).
    *
    * No cross-row float sum anywhere (the n_min normalizer is an
    * exact integer min), so every fraction is a deterministic IEEE
    * expression both engines reproduce bit-identically; α = 0.5 maps
    * to sqrt (exactly rounded) rather than pow. Output: strataCol,
    * n, fraction (rounded to 6 places). Plan: one tiny groupBy, then
    * one single-partition collect_list of the k (stratum, n) rows that
    * is exploded back with n_min = array_min over the list — no join.
    *
    * Contract: the strata must be BOUNDED (languages, sources — not
    * ids). Every stratum rides in ONE collect_list row, built by one
    * task, so a stratum column with millions of values makes one row
    * of millions of structs. */
  def temperatureFractions(df: DataFrame, strataCol: String,
      alpha: Double): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha in (0,1]: $alpha")
    val exp = 1.0 - alpha
    val counts = df.groupBy(strataCol).agg(count(lit(1L)).as("n"))
    // ONE single-partition collect of the k-row counts frame (r22):
    // n_min rides as array_min over the collected counts, so the
    // separate min-aggregate chain (its own SinglePartition exchange)
    // AND the crossJoin(broadcast(n_min)) hop — two sequential
    // broadcast builds on the critical path once the thresholds
    // themselves broadcast — collapse into one k-row stage. k is the
    // stratum count (languages/sources — bounded, the same
    // cardinality the downstream broadcast already assumes).
    // Exact-identical values: array_min over the collected longs IS
    // the integer min, and fraction keeps the same IEEE expression.
    // (The r21 alternative — a global WINDOW over counts — measured
    // 1.40 → 1.77 s on q187 and was reverted; this form differs: it
    // replaces the min+crossJoin subtree instead of adding a window
    // sort, and is measured in OPTIMIZATION_r22.md.)
    // `_c.n`, not the `n` alias defined beside it in the same select:
    // that lateral-alias read fails when implicit lateral resolution
    // is off (spark.sql.lateralColumnAlias.enableImplicitResolution)
    val ratio = col("n_min").cast("double") / col("_c.n").cast("double")
    val f = if (exp == 0.5) sqrt(ratio) else pow(ratio, exp)
    counts
      .agg(collect_list(struct(col(strataCol), col("n"))).as("_cs"))
      .select(explode(col("_cs")).as("_c"),
        array_min(transform(col("_cs"), c => c.getField("n"))).as("n_min"))
      .select(col("_c").getField(strataCol).as(strataCol),
        col("_c").getField("n").as("n"), round(f, 6).as("fraction"))
  }

  /** The full temperature mix: compute the per-stratum fractions,
    * collect them (k strata — setup-time driver state, kmeansIvf
    * style), and apply [[stratifiedSample]]'s literal CASE ladder.
    * Membership stays a pure function of (salt, id). A null stratum
    * forms its own group and takes its own fraction (the null-keyed
    * ladder arm); the q183 oracle's corpus has no null langs.
    * Bounded strata only: the fractions come from
    * [[temperatureFractions]], where every stratum rides in one
    * collect_list row, and each becomes a literal ladder arm. */
  def temperatureSample(df: DataFrame, strataCol: String, idCol: String,
      alpha: Double, salt: String): DataFrame = {
    val fractions = temperatureFractions(df, strataCol, alpha)
      .select(col(strataCol).cast("string"), col("fraction"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    stratifiedSample(df, strataCol, idCol, fractions, 1.0, salt)
  }

  /** The 100 TB-native form of [[temperatureSample]]: the per-stratum
    * 8-hex thresholds are computed INSIDE the plan (the same
    * round-clamp-lpad law as [[thresholdHex]] — Spark `round` and
    * `math.round` agree on positives, `hex` lowercased) and joined
    * back broadcast — k rows — so there is NO separate driver
    * action: one job end to end, AQE sees the whole plan. (The
    * count side still reads the upstream — persist an expensive
    * upstream either way.) Equivalence with the collect form is
    * spec-pinned. The broadcast join is inner on the stratum, so
    * null strata drop here (the collect form gives them their own
    * arm) — matching the oracle's JOIN USING semantics. Bounded strata
    * only: the thresholds derive from [[temperatureFractions]], where
    * every stratum rides in one collect_list row. */
  def temperatureSampleInPlan(df: DataFrame, strataCol: String,
      idCol: String, alpha: Double, salt: String): DataFrame = {
    val v = round(col("fraction") * HexScale, 0)
    val th = temperatureFractions(df, strataCol, alpha)
      .select(col(strataCol),
        when(v >= HexScale, lit("g"))
          .otherwise(lpad(lower(hex(v.cast("long"))), 8, "0"))
          .as("_th"))
    df.join(broadcast(th), Seq(strataCol))
      .where(hashSlice(col(idCol), salt) < col("_th"))
      .drop("_th")
  }

  /** Train/validation/test assignment from the same draw: bands
    * [0, train), [train, train+validation), rest. Disjoint and
    * exhaustive by construction; reproducible anywhere the salt and
    * ids travel. */
  /** The band ladder both split faces share — ONE definition (r17
    * review pass 7: the ladder was copy-pasted between assignSplit
    * and assignSplitByGroup, so a band-law change edited in one would
    * silently break their documented draw-for-draw equivalence). */
  private def splitOf(d: Column, trainFraction: Double,
      validationFraction: Double): Column =
    when(d < lit(thresholdHex(trainFraction)), lit("train"))
      .when(d < lit(thresholdHex(trainFraction + validationFraction)),
        lit("validation"))
      .otherwise(lit("test"))

  def assignSplit(df: DataFrame, idCol: String, salt: String,
      trainFraction: Double, validationFraction: Double): DataFrame =
    df.withColumn("split",
      splitOf(hashSlice(col(idCol), salt), trainFraction,
        validationFraction))

  /** Leakage-safe split assignment: every near-dup GROUP lands whole
    * in one split. The (salt, id) draw runs on the document's
    * connected-component REPRESENTATIVE (its group's min id, from
    * [[Dedup.connectedComponents]] over the near-dup pair frame;
    * docs in no pair represent themselves), so two near-duplicates
    * can never straddle train/validation/test — the leakage the
    * per-document [[assignSplit]] law permits whenever a dup pair's
    * draws land in different bands. Same threshold-hex law, same
    * disjoint-and-exhaustive guarantee, one id-keyed join more.
    * Output: input columns + `component` + `split`. */
  def assignSplitByGroup(df: DataFrame, idCol: String,
      components: DataFrame, salt: String, trainFraction: Double,
      validationFraction: Double): DataFrame = {
    // fail FAST with the contract, not an AMBIGUOUS_REFERENCE from
    // the join below (r17 review pass 7: an input already carrying a
    // component column crashed at analysis time with an opaque error)
    require(!df.columns.contains("component"),
      "assignSplitByGroup ADDS a `component` column; drop or rename " +
        "the input's own before calling")
    val comp = components.select(col("id").as(idCol), col("component"))
    val d = hashSlice(col("component"), salt)
    df.join(comp, Seq(idCol), "left")
      .withColumn("component", coalesce(col("component"), col(idCol)))
      .withColumn("split",
        splitOf(d, trainFraction, validationFraction))
  }

  /** MetaCLIP-style balancing cap (Xu et al. 2024, arXiv:2309.16671
    * §3.2 "balancing"): flatten a skewed stratum distribution by
    * keeping at most `cap` rows per stratum — strata under the cap
    * keep everything, head strata truncate to exactly `cap`. The
    * kept subset is a deterministic UNIFORM sample of its stratum:
    * rows rank by the (salt, id) md5 draw ([[hashSlice]] — the
    * library's one sampling law), id ascending on the (8-hex)
    * collision ties, rank ≤ cap survives.
    *
    * Plan: ONE window shuffle on the stratum key. A pathologically
    * hot stratum (one key ≫ executor memory) sorts wide; the skew
    * escape is a local pre-cap — keep each input partition's best
    * `cap` rows per stratum first (mapPartitions heap or a
    * (stratum, pid) pre-window), which bounds the global window's
    * input to cap × partitions per stratum without changing the
    * survivors (any row outside a local top-cap is outside the
    * global one). Output: input columns + the 1-based `rk`. */
  def capPerStratum(df: DataFrame, strataCol: String, idCol: String,
      cap: Int, salt: String): DataFrame = {
    require(cap > 0, s"cap must be positive: $cap")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(strataCol))
      .orderBy(hashSlice(col(idCol), salt).asc, col(idCol).asc)
    df.withColumn("rk", row_number().over(w))
      .where(col("rk") <= cap)
  }

  /** Token-budget corpus selection (the quality-threshold draw a
    * release with a fixed token target ships — take the best bands
    * whole, split exactly one): bands are taken in DESCENDING
    * `bandCol` order (higher band = higher quality); every band that
    * fits the remaining budget whole is taken whole; the single
    * BOUNDARY band that straddles the budget contributes its
    * deterministic id-ordered prefix — a doc is selected iff the
    * running token sum through it still fits (docs never split, so
    * one oversized doc blocks everything after it in the band); all
    * lower bands drop.
    *
    * Scale (100 TB): the band roll-up is one map-side-combinable
    * aggregate to a |bands|-row frame; its running totals ride a
    * |bands|-row window (contract-bounded, Paging.dropOffset
    * posture) and broadcast back; non-boundary rows decide by pure
    * projection — the ONLY per-doc window runs on the one boundary
    * band, so its cost is band granularity, not corpus size: pick
    * bands fine enough (quality score rounded to centiles) that one
    * band fits a reducer. The branches read the input up to four
    * times (band roll-up, the two verdict branches, the null-band
    * echo) — persist an expensive upstream before calling, exactly
    * [[temperatureSampleInPlan]]'s caveat (the library never hides a
    * persist, Ranking.scala:25). Output: every input row as
    * (idCol, bandCol, tokenCol, selected); a null band verdicts
    * unselected, a null token count contributes (and echoes) 0.
    *
    * STREAMING POSTURE — ONE-SHOT BY CONSTRUCTION (r18, pinning the
    * r17 verdict's open question): selection is a GLOBAL law — every
    * verdict depends on the running token total across all
    * higher-quality bands of the whole corpus — so unlike the banding
    * / DSIR / IVF scorers there is no per-batch form that equals the
    * batch law: a micro-batch re-running this face re-solves the
    * budget against only the rows it has seen, and a later batch can
    * invalidate earlier verdicts (the boundary band moves). Run it
    * once per RELEASE over the scored snapshot (the
    * CorpusArtifacts.decontaminated posture); under a live ingest,
    * recompute per release cut, never per trigger. */
  def budgetSelect(df: DataFrame, idCol: String, tokenCol: String,
      bandCol: String, budget: Long): DataFrame = {
    require(budget >= 0, s"budget must be non-negative: $budget")
    // a null token count contributes 0 (and echoes as 0): letting it
    // through would null the band's total and every comparison on it,
    // silently dropping the whole band from BOTH union branches
    val toks = coalesce(col(tokenCol).cast("long"), lit(0L))
    // a null band can't join the band frame (equi-join null
    // semantics): verdict it unselected explicitly instead of
    // letting the inner join swallow the rows
    val banded = df.where(col(bandCol).isNotNull)
    val bands = banded.groupBy(col(bandCol)).agg(sum(toks).as("_bt"))
    val wb = org.apache.spark.sql.expressions.Window
      .orderBy(col(bandCol).desc)
    val cum = bands.withColumn("_before",
      coalesce(sum(col("_bt")).over(wb) - col("_bt"), lit(0L)))
    val tagged = banded.select(col(idCol), col(bandCol),
        toks.as(tokenCol))
      .join(broadcast(cum), Seq(bandCol))
    val whole = col("_before") + col("_bt") <= lit(budget)
    val boundary = !whole && col("_before") < lit(budget)
    val outCols = Seq(col(idCol), col(bandCol), col(tokenCol))
    val plain = tagged.where(!boundary)
      .select(outCols :+ whole.as("selected"): _*)
    // ROWS frame, not the orderBy default (RANGE): under RANGE,
    // duplicate ids in the boundary band would SHARE one cumulative
    // total and the prefix law would verdict them jointly instead of
    // in sequence (r17 review pass 7); identical on unique ids
    val wd = org.apache.spark.sql.expressions.Window
      .partitionBy(col(bandCol)).orderBy(col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val split = tagged.where(boundary)
      .withColumn("_run", sum(col(tokenCol)).over(wd))
      .select(outCols :+
        (col("_before") + col("_run") <= lit(budget)).as("selected"): _*)
    plain.unionByName(split).unionByName(
      df.where(col(bandCol).isNull)
        .select(Seq(col(idCol), col(bandCol), toks.as(tokenCol)) :+
          lit(false).as("selected"): _*))
  }

  /** [[budgetSelect]] PER GROUP — the multilingual release draw: each
    * group (language) solves its OWN whole-band/boundary-prefix law
    * against its OWN budget (e.g. [[unimaxAllocation]]'s per-language
    * allocation). The law per group is byte-identical to
    * [[budgetSelect]]: bands taken whole in descending order, the one
    * straddling band split on its deterministic id-ordered prefix,
    * lower bands dropped; a null band OR null group verdicts
    * unselected; a group ABSENT from `budgets` gets budget 0 (its
    * zero-token bands still "fit" — the budgetSelect 0-budget law).
    *
    * Scale (100 TB): the band roll-up is one map-side-combinable
    * aggregate to a |groups|·|bands|-row frame (hundreds × tens);
    * its running totals ride group-partitioned bounded windows and
    * broadcast back with the |groups|-row budget frame; the only
    * per-doc window is keyed by (group, boundary band) — one
    * boundary band PER GROUP, so its cost is band granularity ×
    * groups, never corpus size. Same read-multiplicity caveat as
    * [[budgetSelect]]: persist an expensive upstream before calling.
    * Output: every input row as (idCol, groupCol, bandCol, tokenCol,
    * selected). */
  def budgetSelectByGroup(df: DataFrame, idCol: String,
      tokenCol: String, bandCol: String, groupCol: String,
      budgets: DataFrame, budgetCol: String = "budget"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val toks = coalesce(col(tokenCol).cast("long"), lit(0L))
    val banded = df.where(col(bandCol).isNotNull && col(groupCol).isNotNull)
    val bands = banded.groupBy(col(groupCol), col(bandCol))
      .agg(sum(toks).as("_bt"))
    val wb = w.partitionBy(col(groupCol)).orderBy(col(bandCol).desc)
    val cum = bands.withColumn("_before",
      coalesce(sum(col("_bt")).over(wb) - col("_bt"), lit(0L)))
    val tagged = banded.select(col(idCol), col(groupCol), col(bandCol),
        toks.as(tokenCol))
      .join(broadcast(cum), Seq(groupCol, bandCol))
      .join(broadcast(budgets.select(col(groupCol),
        col(budgetCol).cast("double").as("_budget"))
        // ONE budget row per group (r18 pass 8): a duplicated budget
        // row would fan out every doc of its group through the join,
        // silently breaking one-verdict-per-input-row. Exact dups
        // collapse; CONFLICTING dups resolve to the MINIMUM — the
        // conservative draw, deterministic
        .groupBy(col(groupCol)).agg(min(col("_budget")).as("_budget"))),
        Seq(groupCol), "left")
      // an absent budget row reads 0, NEVER null: three-valued
      // comparisons would silently drop the row from BOTH arms
      .withColumn("_budget", coalesce(col("_budget"), lit(0.0)))
    val whole = col("_before") + col("_bt") <= col("_budget")
    val boundary = !whole && col("_before") < col("_budget")
    val outCols = Seq(col(idCol), col(groupCol), col(bandCol),
      col(tokenCol))
    val plain = tagged.where(!boundary)
      .select(outCols :+ whole.as("selected"): _*)
    // ROWS frame (the budgetSelect duplicate-id law)
    val wd = w.partitionBy(col(groupCol), col(bandCol))
      .orderBy(col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val split = tagged.where(boundary)
      .withColumn("_run", sum(col(tokenCol)).over(wd))
      .select(outCols :+
        (col("_before") + col("_run") <= col("_budget")).as("selected"): _*)
    plain.unionByName(split).unionByName(
      df.where(col(bandCol).isNull || col(groupCol).isNull)
        .select(Seq(col(idCol), col(groupCol), col(bandCol),
          toks.as(tokenCol)) :+ lit(false).as("selected"): _*))
  }

  /** UniMax per-language budget allocation (Chung et al. 2023,
    * arXiv:2304.09151 "UniMax: Fairer and More Effective Language
    * Sampling for Large-Scale Multilingual Pretraining"): distribute
    * a token budget as UNIFORMLY as possible across languages,
    * subject to a per-language epoch cap — no language repeats more
    * than `maxEpochs` times, so head languages stop absorbing budget
    * at their cap and the remainder waterfills across the rest. The
    * published alternative to [[temperatureFractions]]' power law
    * (which still over-samples the head at any α > 0).
    *
    * The law, closed-form (the classic waterfill): capacity
    * cₗ = Nₗ·maxEpochs; sort languages by (capacity asc, lang asc
    * NULLS LAST — the cross-engine tie-break); with prefix sums Sᵢ₋₁
    * and per-row level tᵢ = (B − Sᵢ₋₁)/(n − i + 1), the BOUNDARY is
    * the first row with cᵢ ≥ tᵢ (none ⟺ ΣC ≤ B, everyone gets
    * capacity); rows before it get their full capacity, rows from it
    * on get the level θ = t_boundary, so Σ alloc = B exactly when
    * the budget is feasible. Every comparison runs on raw doubles in
    * the SAME operation order on both engines; rounding happens only
    * at the output boundary (the float-parity rules).
    *
    * Scale (100 TB): ONE map-side-combinable per-language roll-up;
    * everything after runs on the n_languages-row frame — the
    * budgetSelect |bands|-window posture, bounded by construction
    * (a corpus has hundreds of languages, not billions). Like
    * [[budgetSelect]], this is a GLOBAL release-time law (the level θ
    * depends on every language's total) — recompute per release cut,
    * never per streaming trigger. Output:
    * (langCol, n_tokens, capacity, allocation, epochs) — epochs =
    * allocation/Nₗ (NULL for an empty language), both rounded 6. */
  def unimaxAllocation(df: DataFrame, langCol: String,
      tokensCol: String, budget: Double, maxEpochs: Double): DataFrame = {
    require(budget >= 0, s"budget must be non-negative: $budget")
    require(maxEpochs > 0, s"maxEpochs must be positive: $maxEpochs")
    val w = org.apache.spark.sql.expressions.Window
    val per = df.groupBy(col(langCol))
      .agg(sum(coalesce(col(tokensCol).cast("double"), lit(0.0)))
        .as("n_tokens"))
      .withColumn("capacity", col("n_tokens") * lit(maxEpochs))
    val ord = w.orderBy(col("capacity").asc, col(langCol).asc_nulls_last)
    val all = w.partitionBy().rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val leveled = per
      .withColumn("_rk", row_number().over(ord))
      .withColumn("_prefix", coalesce(sum(col("capacity")).over(
        ord.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          -1)), lit(0.0)))
      .withColumn("_n", count(lit(1)).over(all))
      .withColumn("_t", (lit(budget) - col("_prefix")) /
        (col("_n") - col("_rk") + 1).cast("double"))
      .withColumn("_isb", col("capacity") >= col("_t"))
      .withColumn("_brk", min(when(col("_isb"), col("_rk"))).over(all))
      .withColumn("_theta",
        max(when(col("_rk") === col("_brk"), col("_t"))).over(all))
    val alloc = when(col("_brk").isNull || col("_rk") < col("_brk"),
      col("capacity")).otherwise(col("_theta"))
    leveled.select(col(langCol),
      // integer facts render as integers (hash-parity convention);
      // the law itself ran on the raw doubles above
      col("n_tokens").cast("long").as("n_tokens"),
      round(col("capacity"), 6).as("capacity"),
      round(alloc, 6).as("allocation"),
      round(when(col("n_tokens") > 0, alloc / col("n_tokens")), 6)
        .as("epochs"))
  }
}
