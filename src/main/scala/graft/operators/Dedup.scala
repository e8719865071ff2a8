package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.Partitioner
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType, StructField, StructType}

import graft.Partitioning
import graft.functions.{NativeText, Sketch, TextFunctions, VectorFunctions}

/** Deduplication suite for large-scale training-data pipelines.
  *
  * Exact dedup mirrors the reference's content-hash change detection
  * (notion_connector.py:624-634, row_indexer.rs:506-589); the near-dup
  * family (shingle Jaccard, MinHash+LSH, SimHash, embedding cosine) is
  * the standard scale path those hashes gate into.
  *
  * Scale notes (100 TB):
  *  - exact: one shuffle on a 32-char key; map-side combine applies.
  *  - jaccard: pairs ONLY via the inverted shingle index — never a
  *    cross join. The exact faces count them with the posting-list
  *    kernel ([[PostingPairs]]: lists copied to the owners of their
  *    members, counted in memory, no co-posting rows); at scale, the
  *    df-capped face or MinHash bands bound the candidates.
  *  - minhashLsh: k permutations via min(md5(seed‖shingle)) — a string
  *    min is a cheap map-side-combinable agg; band buckets shuffle on
  *    the band hash, so skew = duplicate clusters, which is the signal.
  *  - simhash: per-row bit-vote, no shuffle until the final bucket agg.
  *
  * ==The dedup operator matrix (granularity × posture)==
  *
  * One face per operator: each takes the stored artifact its law
  * reads (the fingerprint frame, the token frame, the shingle index)
  * and its sizing as plain parameters, so a caller that owns the
  * artifact never pays a second tokenization, and a caller that wants
  * corpus-sized LSH computes [[lshSizing]] once and passes the width.
  * "Gate" names the DuckDB-oracle query pinning the law (specs pin
  * the rest). Merge semantics matter at the snapshot tier: an
  * owner/min merge is EXACT OVER ANY SPLIT of the corpus (min is
  * idempotent-commutative — overlapping or re-ordered deltas still
  * converge); a count/sum merge is APPEND-ONLY (each row must be
  * folded exactly once; replays double-count).
  *
  * '''Document, exact content''':
  *  - one-shot: [[exactFromFingerprints]] over [[fingerprintFrame]]
  *    (q15), [[dropExactDuplicates]] (inside the q187 pipeline),
  *    [[exactStreaming]] (the watermarked streaming twin).
  *  - against a stored snapshot: [[newAgainstSnapshot]] (q197's law),
  *    [[newAgainstSnapshotBloom]] (the Bloom-pruned steady state,
  *    q197), [[releaseDiff]] (q218). Snapshot artifact: the
  *    fingerprint set, append-only rows + a MERGEABLE Bloom row.
  *
  * '''Document, near-dup''':
  *  - artifacts: [[shingleIndexFromTokens]] and
  *    [[lshBucketsFromTokens]] over a [[Search.tokenBase]] frame
  *    ([[CorpusArtifacts.tokens]] when it is stored), [[winnowIndex]],
  *    [[bandedBuckets]].
  *  - one-shot candidates: [[jaccardPairsFromIndex]] (q17), df-capped
  *    [[jaccardPairsCappedFromIndex]] (q152),
  *    [[minhashCandidatesFromTokens]] (q18; q154 at the width
  *    [[lshSizing]] picks), [[simhashHammingCandidates]] (q216),
  *    [[embeddingNearDup]] (exact baseline, q20) /
  *    [[embeddingNearDupLsh]] (q72; q153 at the sized width);
  *    SemDeDup [[semDedup]] / [[semDedupVerdicts]] (q192) /
  *    [[semDedupVerdictsLsh]] (q199).
  *  - group post-processing: [[connectedComponents]] (q176) /
  *    [[connectedComponentsStar]] (q223),
  *    [[dropNearDuplicates]] (spec-pinned), [[keepBestPerGroup]]
  *    (q224), [[crossGroupPairs]] (q225).
  *  - against a stored snapshot: [[nearDupAgainstSnapshot]] (q203,
  *    MinHash buckets + shingle index as persisted artifacts, both
  *    append-only), [[crossJaccardPairs]] (q178); the embedding twin
  *    lives in ContrastiveMining.hardNegativesAgainstSnapshot (q248)
  *    over [[bandedBuckets]].
  *
  * '''Paragraph''':
  *  - one-shot: [[dedupParagraphsAcrossDocs]] (q232; null-id parity
  *    q233), within-doc [[dedupLinesWithinDoc]] (q217).
  *  - snapshot (TRAIN/MERGE/APPLY): [[paragraphOwners]] →
  *    [[mergeParagraphOwners]] → [[dedupParagraphsWithOwners]]
  *    (q234). Owner merge = min: EXACT over any split.
  *
  * '''Line (boilerplate)''':
  *  - one-shot: [[removeBoilerplateLines]] (q211).
  *  - snapshot: [[boilerplateLineCounts]] →
  *    [[mergeBoilerplateLineCounts]] → [[convictedFromCounts]] →
  *    [[removeBoilerplateLinesWithConvicted]] (q222). Count merge =
  *    SUM: append-only, fold each delta once.
  *
  * '''Token-window span''':
  *  - one-shot: [[removeSharedSpans]] (q200, ExactSubstr),
  *    [[removeContaminatedSpans]] (q212, decontamination),
  *    [[winnowIndex]]/[[winnowSpanPairs]] (q188).
  *  - snapshot: [[spanGramOwners]] → [[mergeSpanGramOwners]] →
  *    [[removeSharedSpansWithOwners]] (q235). Owner merge = min:
  *    EXACT over any split.
  *
  * Streaming: every snapshot face runs stream-static under
  * foreachBatch with the artifacts persisted (StreamingSpec pins
  * each); the artifacts themselves are what the ingest job writes
  * (CorpusArtifacts is the in-session stand-in).
  */
object Dedup {

  /** The (id, fingerprint) projection [[exactFromFingerprints]]
    * aggregates — a corpus artifact
    * ([[CorpusArtifacts.fingerprints]]): the reference stores exactly
    * this content hash per row (notion_connector.py:624-634's
    * content_hash, row_indexer.rs's stored-fingerprint skip), so the
    * md5+normalize pass is ingest output, not per-query work. */
  def fingerprintFrame(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    // spread before the fingerprint projection: normalization+md5 cost
    // dwarfs scan cost, and a small input arrives as ONE split — the
    // whole pass would serialize on one core (the Search.tokenBase
    // rationale; spread is a no-op on already-parallel inputs and on
    // streaming plans)
    Partitioning.spread(df.select(col(idCol), col(textCol)))
      .select(col(idCol), TextFunctions.fingerprint(col(textCol)).as("fingerprint"))

  /** Exact duplicates by normalized-content fingerprint, over an
    * (id, fingerprint) frame — [[fingerprintFrame]], or the stored
    * [[CorpusArtifacts.fingerprints]] (exactly
    * [[jaccardPairsFromIndex]]'s relationship to the shingle index):
    * one row per distinct fingerprint with the kept (minimum) id and
    * the group size. */
  def exactFromFingerprints(fps: DataFrame, idCol: String): DataFrame =
    fps.groupBy(col("fingerprint"))
      .agg(min(col(idCol)).as("kept_id"), count(lit(1)).as("n_dups"))

  /** Row-preserving face of [[exactFromFingerprints]]: keep the
    * min-id row per normalized fingerprint, dropping the rest — as
    * ONE pass (a fingerprint-keyed window min), so an expensive
    * upstream (e.g. a quality-filter battery) is evaluated once, not
    * once per side of a groupBy + semi-join. All input columns
    * survive. */
  def dropExactDuplicates(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    df.withColumn("_fp", TextFunctions.fingerprint(col(textCol)))
      .withColumn("_min_id",
        min(col(idCol)).over(Window.partitionBy(col("_fp"))))
      .where(col(idCol) === col("_min_id"))
      .drop("_fp", "_min_id")
  }

  /** Streaming face of exact dedup: first-seen row per normalized
    * fingerprint survives, repeats — within a batch or across
    * micro-batches — drop against the keyed dedup state. With
    * `withinWatermark` the caller has set a watermark and state ages
    * out with it (`dropDuplicatesWithinWatermark` — the production
    * setting at 100 TB/day); otherwise state is unbounded (tests /
    * finite backfills).
    */
  def exactStreaming(df: DataFrame, textCol: String,
      withinWatermark: Boolean = false): DataFrame = {
    val fp = df.withColumn("fingerprint",
      TextFunctions.fingerprint(col(textCol)))
    if (withinWatermark) fp.dropDuplicatesWithinWatermark("fingerprint")
    else fp.dropDuplicates("fingerprint")
  }

  /** Exploded inverted index: one row per (id, shingle), from an
    * (id, ..., _toks) token frame — [[Search.tokenBase]], which
    * spreads the tokenization over the partitions (shingling cost
    * dwarfs scan cost, so input-split parallelism is the wrong
    * parallelism), or the stored [[CorpusArtifacts.tokens]], from
    * which the BM25 and shingle indexes both derive. */
  def shingleIndexFromTokens(base: DataFrame, idCol: String, n: Int = 3): DataFrame =
    base.select(col(idCol), explode(NativeText.shinglesOf(col("_toks"), n)).as("shingle"))

  /** Candidate pairs (a < b) sharing >= 1 shingle, with exact Jaccard
    * similarity over the shingle sets, filtered to >= minSim, over a
    * prebuilt (persisted) (id, shingle) inverted index — the
    * ingest-artifact path ([[CorpusArtifacts.shingleIndex]], or a
    * caller-owned [[shingleIndexFromTokens]]).
    * Output: (id_a, id_b, n_common, jaccard) with id_a < id_b.
    *
    * The pairs are counted by [[PostingPairs]], not by a self-join on
    * the shingle: the index groups into per-shingle posting lists,
    * each list travels to the partitions that own its members, and
    * each partition counts its own documents' partners in memory. No
    * co-posting row (Σ df·(df−1)/2 of them) and no pair table is ever
    * materialised or shuffled; only the pairs that pass the
    * threshold leave the kernel, and the jaccard expression and
    * round(…, 6) below run on those rows alone.
    *
    * Semantics are the self-join's: the index is a multiset, so a
    * duplicated (id, shingle) row counts with multiplicity in both
    * n_common and the per-document count; rows with a null id drop;
    * a null shingle counts towards its document's size but never
    * pairs. The id column must be integral. */
  def jaccardPairsFromIndex(idx: DataFrame, idCol: String,
      minSim: Double): DataFrame = {
    val idType = PostingPairs.integralId(idx, idCol)
    val postings = PostingPairs.postings(idx, idCol, 0)
    PostingPairs.pairCounts(postings, cross = false, minSim)
      .withColumn("jaccard", jaccardOf(col("n_common"), col("n_a"), col("n_b")))
      .where(col("jaccard") >= minSim)
      .select(col("a").cast(idType).as("id_a"),
        col("b").cast(idType).as("id_b"), col("n_common"),
        round(col("jaccard"), 6).as("jaccard"))
  }

  /** The Jaccard of a pair from its shared and per-document counts —
    * the one expression every exact face filters and rounds. */
  private def jaccardOf(common: Column, na: Column, nb: Column): Column =
    common.cast("double") / (na + nb - common).cast("double")

  // A PPJoin-style prefix-filter variant (global df-ascending
  // canonical order, |x| - ceil(t|x|) + 1 prefixes, length filter,
  // exact verify) was built, proven result-identical on this corpus,
  // and MEASURED OUT against the self-join this kernel replaced:
  // 8.5 s steady vs 1.1 s at sf0.1 and >600 s vs 18.1 s at sf1 — the
  // prefix machinery's global df-rank window scales with the full
  // postings list. The df-capped variant below remains the recall-
  // trading 100 TB path (SCALING.md rounds 9 and 11); the exact
  // kernel's cost is the replicated postings plus Σ df·(df−1)/2
  // in-memory increments, spread over the partitions by owner.

  /** The df-cap candidate-generation law, shared by every capped
    * inverted-index pair join (shingle Jaccard, winnow span pairs):
    * df == 1 keys can never pair (the self-join discards the only
    * row via id_a < id_b) — dropping them shrinks the broadcast and
    * the join input by the single largest df class on realistic
    * corpora, where unique keys dominate the vocabulary — and
    * df > maxDf keys are the boilerplate whose posting lists make
    * the self-join quadratic. key→keep is vocabulary-sized (small
    * next to the postings); broadcast so capping never reshuffles
    * the index. */
  private[operators] def cappedPostings(idx: DataFrame, keyCol: String,
      maxDf: Long): DataFrame = {
    val dfc = idx.groupBy(col(keyCol))
      .agg(count(lit(1)).as("_df"))
      .where(col("_df") > 1 && col("_df") <= maxDf)
      .select(col(keyCol))
    idx.join(broadcast(dfc), Seq(keyCol))
  }

  /** The 100 TB form of [[jaccardPairsFromIndex]]: frequent shingles
    * (document frequency > `maxDf`) are dropped from CANDIDATE
    * generation — they are the boilerplate n-grams whose posting
    * lists make the self-join quadratic in corpus size (join mass =
    * Σ df·(df−1)/2, dominated by the df tail) — and candidates then
    * verify with an EXACT Jaccard over the full per-document shingle
    * sets (array_intersect on collect_set arrays, O(|a|+|b|) per
    * candidate).
    *
    * Precision is exact. Recall: a pair at jaccard ≥ s shares at
    * least s/(1+s)·(|a|+|b|) shingles, so it is missed only when
    * EVERY ONE of those is boilerplate (df > maxDf) — i.e. the
    * documents consist of nothing but corpus-frequent n-grams.
    * Size maxDf so the near-dup mass you care about keeps at least
    * one sub-cap shingle; the measured knee on the synthetic corpus
    * is in SCALING.md. */
  def jaccardPairsCappedFromIndex(idx: DataFrame, idCol: String,
      minSim: Double, maxDf: Long): DataFrame = {
    val kept = cappedPostings(idx, "shingle", maxDf)
    val cand = kept.select(col(idCol).as("id_a"), col("shingle"))
      .join(kept.select(col(idCol).as("id_b"), col("shingle")), Seq("shingle"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    val sets = idx.groupBy(col(idCol))
      .agg(collect_set(col("shingle")).as("_sh"))
    cand
      .join(sets.select(col(idCol).as("id_a"), col("_sh").as("_sh_a")), Seq("id_a"))
      .join(sets.select(col(idCol).as("id_b"), col("_sh").as("_sh_b")), Seq("id_b"))
      .withColumn("n_common",
        size(array_intersect(col("_sh_a"), col("_sh_b"))).cast("long"))
      .withColumn("jaccard", col("n_common").cast("double") /
        (size(col("_sh_a")) + size(col("_sh_b")) - col("n_common")).cast("double"))
      .where(col("jaccard") >= minSim)
      .select(col("id_a"), col("id_b"), col("n_common"),
        round(col("jaccard"), 6).as("jaccard"))
  }

  /** Exploded winnowed-fingerprint index: one row per (id, fp),
    * fingerprints already distinct per document (winnowOf returns
    * the distinct window minima). The character-level analogue of
    * [[shingleIndexFromTokens]]; same spread (per-row hashing dwarfs
    * scan cost, input-split parallelism is the wrong parallelism). */
  def winnowIndex(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 4): DataFrame =
    Partitioning.spread(
        df.where(length(col(textCol)) >= k)
          .select(col(idCol), col(textCol)))
      .withColumn("_fps",
        graft.functions.NativeText.winnowOf(col(textCol), k, w))
      .select(col(idCol), explode(col("_fps")).as("fp"))

  /** Verbatim-span sharing via winnowed fingerprints (the MOSS
    * scheme applied cross-document): documents sharing ≥ `minShared`
    * winnowed k-gram fingerprints contain near-verbatim character
    * spans — the contamination/memorization shape whole-document
    * Jaccard DILUTES on long documents (a short plagiarized span in
    * a 100k-char doc barely moves jaccard but contributes its full
    * fingerprint mass here). Candidate generation follows the
    * df-capped inverted-index law ([[jaccardPairsCappedFromIndex]]):
    * df == 1 fingerprints can never pair and df > `maxDf` ones are
    * corpus-boilerplate spans whose posting lists make the self-join
    * quadratic — both leave the join, so join mass is linear in
    * postings. `n_shared` counts sub-cap fingerprints only (a pair
    * sharing ONLY boilerplate spans is not a contamination signal).
    */
  def winnowSpanPairs(idx: DataFrame, idCol: String,
      minShared: Long, maxDf: Long): DataFrame = {
    val kept = cappedPostings(idx, "fp", maxDf)
    kept.select(col(idCol).as("id_a"), col("fp"))
      .join(kept.select(col(idCol).as("id_b"), col("fp")), Seq("fp"))
      .where(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** Smallest per-band signature width k with
    * `bands · n · p^k ≤ budget`, clamped to [floor, cap] — the ONE
    * sizing law both LSH families share, where p is the per-element
    * collision probability of a "random" (non-duplicate) pair:
    *   - random-hyperplane bits: p = 1/2 (each bit splits the sphere
    *     in half), so k = ⌈log₂(bands·n/budget)⌉;
    *   - MinHash rows per band: p = the Jaccard boundary below which
    *     pairs should stop colliding (the caller's minSim).
    * The bound is the expected number of band-bucket collisions a
    * corpus row pays against the n-row corpus: bands·n·p^k. Holding
    * it at `budget` keeps candidate volume LINEAR in n — the fixed-
    * width quadratic blowup q72/q18 measured at 10× data (SCALING.md)
    * is exactly this law unapplied.
    *
    * Computed with an exact multiplicative descent, not floating
    * log/ceil: for p = 1/2 every step is an exponent decrement, so
    * the result is bit-exact against integer arithmetic (and against
    * a SQL engine replaying the same comparison — the q153 gate). */
  def lshSizing(n: Long, bands: Int, p: Double, budget: Double = 1000.0,
      floor: Int = 1, cap: Int = 32): Int = {
    require(p > 0 && p < 1, s"collision probability must be in (0,1): $p")
    var mass = bands.toDouble * n.toDouble
    var k = 0
    while (mass > budget && k < cap) { mass *= p; k += 1 }
    math.max(floor, k)
  }

  /** MinHash signature as array<string>: element k = min over shingles
    * of the k%4-th 8-hex-char slice of md5((k/4) ‖ ":" ‖ shingle).
    * This HOF form is the READABILITY/PARITY twin — it still pays one
    * md5 per slot (Catalyst does not CSE the digest across the four
    * slots of a group); the production path (MinHashExpr, used by
    * [[lshBucketsFromTokens]]) hashes once per group and slices,
    * quartering the signature stage's hashing work. String-min over hex slices == a
    * uniform random permutation min for dedup purposes, and is
    * reproducible in any SQL engine — the oracle repeats it verbatim
    * with substr(md5(…)).
    */
  def minhashSignature(shingleArr: Column, numHashes: Int): Column =
    transform(sequence(lit(0), lit(numHashes - 1)), k =>
      array_min(transform(shingleArr,
        s => md5(concat(floor(k / 4).cast("int").cast("string"),
            lit(":"), s))
          .substr((pmod(k, lit(4)) * 8 + 1).cast("int"), lit(8)))))

  /** LSH band buckets from an (id, ..., _toks) token frame (the
    * [[shingleIndexFromTokens]] contract): the MinHash signature split
    * into `bands` bands of numHashes/bands rows each; bucket key =
    * md5(band_index ‖ band slice). An ingest pipeline that stores its
    * tokens ([[CorpusArtifacts.tokens]], the reference's `bm25_tokens`
    * column) derives signatures from them without re-tokenizing the
    * corpus per query. Output: (id, band, bucket). */
  def lshBucketsFromTokens(base: DataFrame, idCol: String,
      n: Int = 3, numHashes: Int = 16, bands: Int = 4): DataFrame = {
    val rows = numHashes / bands
    // each intermediate is a real column: element_at over an attribute
    // is cheap, whereas inlining would re-run the whole minhash per
    // band element (16x tokenizer+md5 blowup, interpreted)
    val sig = base
      .withColumn("_sig", NativeText.minhashOf(col("_toks"), n, numHashes))
    val buckets = transform(sequence(lit(0), lit(bands - 1)), b => {
      val parts = b.cast("string") +: (0 until rows).map(r =>
        element_at(col("_sig"), (b * rows + r + 1).cast("int")))
      struct(b.as("band"), md5(concat_ws("|", parts: _*)).as("bucket"))
    })
    // zero-shingle guard (r18 review): a doc with < n tokens (or
    // NULL text) has an all-null signature, and concat_ws SKIPS
    // nulls — every such doc bucketed as md5("b|"), pairing ALL
    // near-empty docs with each other: a spurious giant component
    // (catastrophic over-dedup on a real crawl, where empty-ish
    // docs number millions) AND a quadratic hot bucket. The oracle
    // law (no shingles → no signature rows → singleton) is what a
    // null-headed signature maps to: the doc explodes to no bucket.
    // The guard sits inside the explode, not in a filter: the
    // optimizer pushes a filter below the projection by inlining
    // `_sig`, which evaluated every signature twice.
    sig.select(col(idCol),
        explode(when(element_at(col("_sig"), 1).isNotNull, buckets)).as("bb"))
      .select(col(idCol), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  /** Near-dup candidate pairs from LSH over a token frame
    * ([[lshBucketsFromTokens]]' contract): ids sharing any band
    * bucket, (id_a, id_b) with id_a < id_b. A corpus-sized width is
    * `numHashes = bands · rows` with rows = [[lshSizing]] at p =
    * minSim (pairs below the boundary stop colliding), floored at the
    * gate's 4 rows: (4 rows, 4 bands) at the 500-doc gate corpus,
    * (8 rows → 32 hashes) at the 50k-doc sf1 decade where the fixed
    * 16-hash width measured 3.1× at 10× data (q154). */
  def minhashCandidatesFromTokens(base: DataFrame, idCol: String,
      n: Int = 3, numHashes: Int = 16, bands: Int = 4): DataFrame =
    minhashCandidatePairs(
      lshBucketsFromTokens(base, idCol, n, numHashes, bands), idCol)

  /** Pairs of ids sharing a (band, bucket), each signature evaluated
    * once: the buckets group their ids (null ids drop, a repeated id
    * counts once), and each sorted list emits its pairs in order, the
    * `id_a < id_b` of a bucket self-join. A self-join would evaluate
    * the signatures once per side: the two sides' projections differ,
    * so their exchanges are not reused. */
  private def minhashCandidatePairs(bk: DataFrame, idCol: String): DataFrame =
    bk.groupBy(col("band"), col("bucket"))
      .agg(array_sort(collect_set(col(idCol))).as("_ids"))
      .where(size(col("_ids")) > 1)
      .select(col("_ids"), posexplode(col("_ids")).as(Seq("_i", "id_a")))
      .select(col("id_a"), explode(slice(col("_ids"), col("_i") + 2,
        size(col("_ids")) - col("_i") - 1)).as("id_b"))
      .distinct()

  /** 64-bit SimHash lives in [[graft.functions.NativeText.simhashOf]]
    * (single-pass native expression); its HOF twin — the independent
    * formulation the bit-identity spec checks against — is test-only
    * (OperatorSpec.hofSimhash). */

  /** SimHash hamming-ball candidate pairs (Manku et al. 2007
    * "Detecting Near-Duplicates for Web Crawling" — SimHash's OWN
    * scale path, closing the banding triptych next to MinHash-LSH
    * (Jaccard, q18) and hyperplane LSH (cosine, q72)): the 64-bit
    * fingerprint splits into `blocks` equal hex slices, and a table
    * is built for every (blocks − maxHamming)-subset of block
    * positions, keyed by those blocks' concatenated hex; a pair is a
    * candidate iff it matches some table's FULL key, then verifies
    * by popcount of the xor. By the pigeonhole, maxHamming flips
    * touch at most maxHamming blocks, so some (blocks − maxHamming)
    * blocks are untouched on both sides and the pair shares that
    * table's key — recall is EXACT (the require pins maxHamming <
    * blocks). This is Manku's actual construction; the naive
    * one-block-match variant (match ANY single 16-bit band) was
    * measured here first and rejected: its key is a FIXED 16 bits,
    * so random collisions grow n²/2^16 — the q72 fixed-bandBits
    * lesson — costing 23 s at sf1 where the combination tables'
    * (blocks−r)/blocks·64-bit keys cost ~1 s.
    *
    * Sizing: tables = C(blocks, blocks − maxHamming) rows per
    * DISTINCT fingerprint (56 at the 8/3 default) and expected
    * random collisions ~ tables · m² / 2^keyBits with m the DISTINCT
    * fingerprint count and keyBits = 40 at the default — negligible
    * to ~10^8 distinct prints; grow `blocks` (16 → 52-bit keys) past
    * that, the lshSizing-family law. The tables are built over
    * DISTINCT fingerprints, never documents: exact-duplicate
    * clusters (which real crawls have in bulk — this corpus packs
    * 50k docs into 4,965 prints at sf1) would otherwise multiply
    * through every table (measured 13.2M joined rows and a 23 s sf1
    * cell for a doc-level formulation; the print-level one costs
    * ~1 s and expands to id pairs only at OUTPUT, where intra-print
    * pairs are hamming-0 by definition and cross-print pairs fan out
    * group_a × group_b — rows the contract owes anyway). Docs with
    * no tokens are excluded up front. Hamming verification is a
    * 16-step nibble-table popcount fold per candidate PRINT pair.
    * Output: (id_a, id_b, hamming). */
  def simhashHammingCandidates(df: DataFrame, idCol: String,
      textCol: String, blocks: Int = 8, maxHamming: Int = 3): DataFrame = {
    require(blocks > 0 && 16 % blocks == 0,
      s"blocks must divide the 16 hex digits: $blocks")
    require(maxHamming >= 0 && maxHamming < blocks,
      s"pigeonhole recall is exact only for maxHamming < blocks: " +
        s"$maxHamming vs $blocks")
    val width = 16 / blocks
    val hexDigits = "0123456789abcdef"
    val popTable = "0112122312232334" // popcount of nibble 0..15
    val combos = (0 until blocks).combinations(blocks - maxHamming)
      .map(_.toSeq).toSeq
    val fp = df
      .withColumn("_toks", TextFunctions.bm25Tokens(col(textCol)))
      .where(size(col("_toks")) > 0)
      .select(col(idCol), NativeText.simhashOf(col("_toks")).as("_sh"))
    val reps = fp.select(col("_sh")).distinct()
    def keysOf(sh: Column) = array(combos.zipWithIndex.map {
      case (c, tid) =>
        struct(lit(tid).as("t"),
          concat(c.map(b => call_function("substr", sh,
            lit(b * width + 1), lit(width))): _*).as("k"))
    }: _*)
    val banded = reps
      .select(col("_sh"), explode(keysOf(col("_sh"))).as("_b"))
      .select(col("_sh"), col("_b.t").as("_t"), col("_b.k").as("_k"))
    val l = banded.select(col("_sh").as("_sha"), col("_t"), col("_k"))
    val r = banded.select(col("_sh").as("_shb"), col("_t"), col("_k"))
    def nib(c: Column, i: Column): Column =
      (call_function("instr", lit(hexDigits),
        call_function("substr", c, i, lit(1))) - lit(1)).cast("int")
    val ham = aggregate(sequence(lit(1), lit(16)), lit(0L),
      (acc, i) => acc + call_function("substr", lit(popTable),
        nib(col("_sha"), i).bitwiseXOR(nib(col("_shb"), i)) + lit(1),
        lit(1)).cast("long"))
    val shPairs = l.join(r, Seq("_t", "_k"))
      .where(col("_sha") < col("_shb"))
      .select(col("_sha"), col("_shb")).distinct()
      .withColumn("hamming", ham)
      .where(col("hamming") <= maxHamming)
    val cross = shPairs
      .join(fp.select(col(idCol).as("_ida"), col("_sh").as("_sha")),
        Seq("_sha"))
      .join(fp.select(col(idCol).as("_idb"), col("_sh").as("_shb")),
        Seq("_shb"))
      .select(least(col("_ida"), col("_idb")).as("id_a"),
        greatest(col("_ida"), col("_idb")).as("id_b"), col("hamming"))
    val intra = fp.select(col(idCol).as("id_a"), col("_sh"))
      .join(fp.select(col(idCol).as("id_b"), col("_sh")), Seq("_sh"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), lit(0L).as("hamming"))
    intra.unionByName(cross)
  }

  /** Embedding near-dup pairs: all (a < b) with cosine >= minSim.
    * Exact O(n²) comparison — correctness baseline ONLY (the plan is a
    * cartesian product and dies at scale); [[embeddingNearDupLsh]] is
    * the default, scale-safe entry with the same output contract.
    */
  def embeddingNearDup(df: DataFrame, idCol: String, vecCol: String,
      minSim: Double): DataFrame = {
    // norms once per ROW, not per pair (cosineFromNorms — bit-identical;
    // the n² pair stage then pays one dot instead of three folds)
    val a = df.select(col(idCol).as("id_a"), col(vecCol).as("vec_a"),
      VectorFunctions.l2Norm(col(vecCol)).as("_nrm_a"))
    val b = df.select(col(idCol).as("id_b"), col(vecCol).as("vec_b"),
      VectorFunctions.l2Norm(col(vecCol)).as("_nrm_b"))
    a.crossJoin(b).where(col("id_a") < col("id_b"))
      .withColumn("cosine", VectorFunctions.cosineFromNorms(
        VectorFunctions.dot(col("vec_a"), col("vec_b")),
        col("_nrm_a"), col("_nrm_b")))
      .where(col("cosine") >= minSim)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
  }

  /** THE banded hyperplane-LSH candidate pipeline — one home for the
    * signature/band/bucket law shared by [[embeddingNearDupLsh]],
    * [[semDedupVerdictsLsh]] (which threads its cluster key into the
    * bucket join via `extraKeys`, scoping candidates to the cluster)
    * and [[ContrastiveMining.hardNegativesLsh]] (which symmetrizes
    * the pairs into per-anchor candidates).
    * Output: (_id_a, _id_b), _id_a < _id_b — distinct when `dedup`.
    *
    * `dedup = false` skips the pair-level `distinct()`: a pair
    * colliding in m bands then flows downstream m times. Every
    * consumer whose verify/rank stage ABSORBS duplicates (an exact
    * cosine is deterministic per pair, so dup rows are identical;
    * a post-filter `distinct` on the tiny survivor set, a beaten-id
    * set, or a dense_rank fold all collapse them) should pass false:
    * the full-width candidate exchange (the largest intermediate of
    * the whole pipeline — Σ collisions rows) disappears, replaced by
    * re-verifying the ≤ bands−1 duplicate collisions of a pair (one
    * dot each) and a distinct on rows that SURVIVED the verify
    * threshold (r21, guide §2.3/§2.4: shuffle survivors, not
    * candidates). */
  private[operators] def bandedCandidatePairs(base: DataFrame, idCol: String,
      vecCol: String, dim: Int, bandBits: Int, bands: Int,
      extraKeys: Seq[String] = Nil, dedup: Boolean = true): DataFrame = {
    val keyCols = extraKeys.map(col)
    val banded = bandedBuckets(base, idCol, vecCol, dim, bandBits, bands,
      extraKeys)
    val pairs = banded.select(keyCols :+ col(idCol).as("_id_a") :+
        col("band") :+ col("bucket"): _*)
      .join(banded.select(keyCols :+ col(idCol).as("_id_b") :+
        col("band") :+ col("bucket"): _*),
        extraKeys ++ Seq("band", "bucket"))
      .where(col("_id_a") < col("_id_b"))
      .select(col("_id_a"), col("_id_b"))
    if (dedup) pairs.distinct() else pairs
  }

  /** The hyperplane band-bucket index itself — (extraKeys..., id,
    * band, bucket) — factored from [[bandedCandidatePairs]] so it can
    * be PERSISTED as a snapshot artifact (the embedding analogue of
    * [[lshBucketsFromTokens]]' role in [[nearDupAgainstSnapshot]]):
    * [[ContrastiveMining.hardNegativesAgainstSnapshot]] joins a
    * batch's buckets against this stored index instead of re-hashing
    * the corpus. In steady state the index appends each day's delta
    * rows — never rebuilt — which is only sound because the signature
    * planes are deterministic in the plane index (hyperplaneSignature's
    * dyadic LCG): tomorrow's batch hashes with the SAME planes. */
  def bandedBuckets(base: DataFrame, idCol: String, vecCol: String,
      dim: Int, bandBits: Int, bands: Int,
      extraKeys: Seq[String] = Nil): DataFrame = {
    val keyCols = extraKeys.map(col)
    val sig = Partitioning.spread(base)
      .withColumn("_sig", SimilaritySearch.hyperplaneSignature(
        col(vecCol), dim, bandBits * bands))
    sig.select(keyCols :+ col(idCol) :+ explode(
        transform(sequence(lit(0), lit(bands - 1)), b =>
          struct(b.as("band"),
            col("_sig").substr(b * bandBits + lit(1), lit(bandBits))
              .as("bucket")))).as("bb"): _*)
      .select(keyCols :+ col(idCol) :+ col("bb.band").as("band") :+
        col("bb.bucket").as("bucket"): _*)
  }

  /** Scale-safe embedding near-dup: banded random-hyperplane LSH
    * candidates → exact cosine verify on candidates only.
    *
    * One `bands*bandBits`-bit signature per row
    * ([[SimilaritySearch.hyperplaneSignature]] — engine-stable dyadic
    * LCG planes), band t's bucket key = its bandBits-char slice;
    * candidates are ids sharing any band bucket (equi-join, the
    * MinHash-banding shape), then vectors join back by id for the
    * exact cosine filter. NO cartesian anywhere: candidate volume is
    * bounded by bucket occupancy, and the id-joins co-partition with
    * the corpus at scale.
    *
    * Recall for a pair at cosine s: 1-(1-p^bandBits)^bands with
    * p = 1 - arccos(s)/π — at the defaults (3×12) ≈ 0.97 for s=0.4,
    * →1 as s→1. Precision is exact (candidates are verified).
    * Output contract matches [[embeddingNearDup]].
    *
    * Sizing at scale: expected random collisions are
    * bands·n²/2^bandBits, so bandBits must grow with ln(n) — pass
    * `lshSizing(n, bands, 0.5)`, which lands exactly on the gate's
    * (3, 12) at 500 vectors and on the measured (8, 12) at the sf1
    * decade's 20k (q153; SCALING.md round 12/13). That is affordable
    * exactly when the threshold is high (near-dup practice: s ≥ 0.9
    * ⇒ p ≈ 0.86 lets bandBits=8, bands=12 keep recall ≈ 0.99 at 2^8×
    * fewer collisions). The 3×12 default serves the gate's
    * deliberately low 0.4 threshold. */
  def embeddingNearDupLsh(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, minSim: Double, bandBits: Int = 3, bands: Int = 12): DataFrame = {
    val base = df.select(col(idCol), col(vecCol))
    // dedup AFTER the verify (r21): the raw multi-band pairs go
    // straight to the cosine — duplicate collisions of a pair verify
    // to IDENTICAL rows, so the output distinct collapses them — and
    // the pair-level distinct exchange (Σ collisions rows, the
    // biggest shuffle of the old plan) is replaced by a distinct on
    // the threshold SURVIVORS only
    val cand = bandedCandidatePairs(base, idCol, vecCol, dim,
        bandBits, bands, dedup = false)
      .select(col("_id_a").as("id_a"), col("_id_b").as("id_b"))
    // norms once per ROW in the join-back projections (cosineFromNorms
    // — bit-identical), so the candidate verify pays one dot per pair
    val va = base.select(col(idCol).as("id_a"), col(vecCol).as("vec_a"),
      VectorFunctions.l2Norm(col(vecCol)).as("_nrm_a"))
    val vb = base.select(col(idCol).as("id_b"), col(vecCol).as("vec_b"),
      VectorFunctions.l2Norm(col(vecCol)).as("_nrm_b"))
    cand.join(va, Seq("id_a")).join(vb, Seq("id_b"))
      .withColumn("cosine", VectorFunctions.cosineFromNorms(
        VectorFunctions.dot(col("vec_a"), col("vec_b")),
        col("_nrm_a"), col("_nrm_b")))
      .where(col("cosine") >= minSim)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
      .distinct()
  }

  /** Left-join component labels onto the document roster, coalescing
    * unpaired documents to themselves and marking the min-id
    * representative — the shared tail of all three component faces
    * (r18 simplify pass: the block was copied verbatim three times). */
  private def labelRoster(nodes: DataFrame, idCol: String,
      comps: DataFrame): DataFrame =
    nodes.select(col(idCol).as("id"))
      .join(comps, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("comp"), col("id")).as("component"),
        (col("id") === coalesce(col("comp"), col("id")))
          .as("is_representative"))

  /** Near-dup GROUPS from candidate pairs: every document's component
    * is the smallest id reachable through the pair graph; documents
    * with no pairs are singleton components of themselves. The walk
    * itself is [[ConnectedComponents.run]] — the hardened shared
    * min-label-propagation operator (lineage truncated per round via
    * localCheckpoint, node set derived from the EDGES so off-`nodes`
    * pair endpoints still relay labels between in-`nodes` documents,
    * convergence early-exit, maxIter cap); this face left-joins the
    * result onto the document roster, coalescing unpaired documents
    * to themselves, and marks the member a training pipeline KEEPS.
    *
    * Output: (id, component, is_representative) — the representative
    * is the component's min id present in `nodes`. */
  def connectedComponents(nodes: DataFrame, idCol: String,
      pairs: DataFrame, aCol: String, bCol: String,
      maxIters: Int = 20): DataFrame =
    labelRoster(nodes, idCol,
      ConnectedComponents.run(pairs, aCol, bCol, maxIters)
        .withColumnRenamed("node", "id"))

  /** [[connectedComponents]] computed by the large-star/small-star
    * contraction ([[ConnectedComponents.runStar]]) instead of the
    * min-label walk — the unbounded-diameter posture (long
    * citation/link chains, adversarial near-dup graphs where group
    * diameter grows with corpus size). Identical output law: the two
    * faces share one gate oracle (q176/q223 replay the same
    * recursive-CTE min-reachable-id walk). */
  def connectedComponentsStar(nodes: DataFrame, idCol: String,
      pairs: DataFrame, aCol: String, bCol: String,
      maxIters: Int = 30): DataFrame =
    labelRoster(nodes, idCol,
      ConnectedComponents.runStar(pairs, aCol, bCol, maxIters)
        .withColumnRenamed("node", "id"))

  /** The keep-one-per-group face: representatives plus every
    * document that formed no near-dup pair. One broadcastable (or
    * id-keyed) semi join against the component frame. */
  def dropNearDuplicates(corpus: DataFrame, idCol: String,
      components: DataFrame): DataFrame =
    corpus.join(
      components.where(col("is_representative"))
        .select(col("id").as(idCol)),
      Seq(idCol), "left_semi")

  /** Quality-aware representative selection — what production
    * pipelines actually keep from a near-dup group: not the MIN-ID
    * member (an artifact of the component labeling) but the
    * highest-QUALITY one (longest / best classifier score / least
    * boilerplate; cf. the keep-longest convention in C4-class
    * pipelines and SemDeDup's keep-one-per-cluster step). Input: a
    * frame carrying (idCol, compCol, scoreCol) — components from
    * [[connectedComponents]]/[[connectedComponentsStar]] joined with
    * any quality signal (token count, [[LmQuality.nbQualityScore]]'s
    * avg_llr, a Gopher battery column). The group winner is the max
    * score, id-ascending on ties, NULL scores last — fully
    * deterministic, so the q224 oracle replays it exactly.
    *
    * Scale (100 TB): ONE component-keyed window (row_number over
    * bounded dedup groups — the q34/q104 window posture); no join
    * back, no global sort. Singletons win their own group trivially.
    * Output: every input row as (idCol, compCol, scoreCol, keep). */
  def keepBestPerGroup(scored: DataFrame, idCol: String,
      compCol: String, scoreCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(compCol))
      .orderBy(col(scoreCol).desc_nulls_last, col(idCol).asc)
    scored.withColumn("keep", row_number().over(w) === 1)
      .select(col(idCol), col(compCol), col(scoreCol), col("keep"))
  }

  /** Cross-GROUP pair filter — the release-QA face over any candidate
    * pair frame: pairs whose endpoints carry DIFFERENT labels under a
    * per-document grouping. The two headline uses: split-leakage
    * detection (near-dup pairs straddling train/validation/test — the
    * leakage [[Sampling.assignSplitByGroup]] prevents by construction
    * and this face AUDITS for pipelines that used the per-document
    * draw) and cross-source duplication census (pairs straddling
    * crawl sources). Two id-keyed equi-joins of the pair frame
    * against the (id, label) frame — at 100 TB the pair frame is the
    * candidate generator's df-capped output and the label frame is a
    * projection of the corpus, both joins co-partition on the id.
    * Pairs with either endpoint ABSENT from the label frame drop
    * (inner joins): an unlabeled endpoint has no split to leak.
    * Output: (aCol, bCol, label_a, label_b), label_a ≠ label_b. */
  def crossGroupPairs(pairs: DataFrame, aCol: String, bCol: String,
      labels: DataFrame, idCol: String, labelCol: String): DataFrame = {
    val la = labels.select(col(idCol).as(aCol),
      col(labelCol).as("label_a"))
    val lb = labels.select(col(idCol).as(bCol),
      col(labelCol).as("label_b"))
    pairs.select(col(aCol), col(bCol))
      .join(la, Seq(aCol))
      .join(lb, Seq(bCol))
      .where(col("label_a") =!= col("label_b"))
      .select(col(aCol), col(bCol), col("label_a"), col("label_b"))
  }

  /** Cross-corpus contamination check (train-vs-benchmark overlap):
    * Jaccard pairs BETWEEN two corpora over their shingle indexes —
    * the asymmetric twin of [[jaccardPairsFromIndex]], counted by the
    * same [[PostingPairs]] kernel: the two indexes' posting lists merge
    * per shingle, each list travels to the owners of its TRAIN
    * members, and a pair counts only when it crosses the sides (a
    * train and a bench id may carry the same value and stay distinct
    * documents). The score is the exact n-gram Jaccard, so a training
    * document is flagged for exclusion wherever it shares `minSim` of
    * its shingle set with any benchmark document. Same multiset and
    * null-id semantics as the self face; both id columns must be
    * integral. Output: (train_id, bench_id, n_common, jaccard). */
  def crossJaccardPairs(trainIdx: DataFrame, trainIdCol: String,
      benchIdx: DataFrame, benchIdCol: String,
      minSim: Double): DataFrame = {
    val trainType = PostingPairs.integralId(trainIdx, trainIdCol)
    val benchType = PostingPairs.integralId(benchIdx, benchIdCol)
    val postings = PostingPairs.postings(trainIdx, trainIdCol, 0)
      .unionAll(PostingPairs.postings(benchIdx, benchIdCol, 1))
    PostingPairs.pairCounts(postings, cross = true, minSim)
      .withColumn("jaccard", jaccardOf(col("n_common"), col("n_a"), col("n_b")))
      .where(col("jaccard") >= minSim)
      .select(col("a").cast(trainType).as("train_id"),
        col("b").cast(benchType).as("bench_id"), col("n_common"),
        round(col("jaccard"), 6).as("jaccard"))
  }

  /** (clusterCol, idCol, vecCol, cent_cos) — the shared verdict
    * input: centroid side broadcast (index-cardinality). */
  private def withCentroidCos(assigned: DataFrame, idCol: String,
      vecCol: String, clusterCol: String, cents: DataFrame): DataFrame =
    assigned
      .join(broadcast(cents.select(col(clusterCol), col("centroid"))),
        Seq(clusterCol))
      .withColumn("cent_cos",
        VectorFunctions.cosine(col(vecCol), col("centroid")))
      // row norm rides along so the PAIR stage downstream verifies
      // with one dot per pair (cosineFromNorms — bit-identical)
      .select(col(clusterCol), col(idCol), col(vecCol), col("cent_cos"),
        VectorFunctions.l2Norm(col(vecCol)).as("_vnrm"))

  /** The shared verdict render: keep = not in the beaten id set. */
  private def verdictFrame(withCent: DataFrame, beaten: DataFrame,
      idCol: String, clusterCol: String): DataFrame =
    withCent
      .join(beaten.withColumn("_beaten", lit(true)), Seq(idCol), "left")
      .select(col(idCol), col(clusterCol),
        round(col("cent_cos"), 6).as("cent_cos"),
        (!coalesce(col("_beaten"), lit(false))).as("keep"))

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540 §2): semantic
    * deduplication scoped by a clustering. Candidate pairs exist only
    * WITHIN a cluster, and a document is dropped when some
    * same-cluster neighbor at cosine >= `minSim` outranks it under
    * the paper's keep rule — the member with the LOWER cosine to the
    * cluster centroid is kept (the outlier carries the most signal),
    * id ascending on ties. A document survives iff NO similar
    * neighbor outranks it, so per near-dup clique exactly the
    * rank-minimal member survives; mutually-dissimilar ends of a
    * similarity chain can both survive (the paper's pairwise variant,
    * not transitive grouping — [[connectedComponents]] composes on a
    * pair frame when transitive groups are wanted instead).
    *
    * `assigned`: (idCol, vecCol, clusterCol); `cents`: (clusterCol,
    * `centroid`) — index-cardinality, broadcast (k×dim doubles).
    * Output: (idCol, clusterCol, cent_cos round 6, keep).
    *
    * Scale (100 TB): the only corpus shuffle is the cluster-key
    * self-join, and per-cluster work is O(m²·dim) — k grows ∝ n so m
    * stays bounded (the paper runs k = 110k over LAION-440M, m ≈ 4k).
    * An oversized or skewed cluster swaps its pairwise stage for
    * [[semDedupVerdictsLsh]] — same verdict law, banded candidates
    * with bandBits sized to the largest cluster by [[lshSizing]] —
    * rather than widening the join. */
  def semDedupVerdicts(assigned: DataFrame, idCol: String,
      vecCol: String, clusterCol: String, cents: DataFrame,
      minSim: Double): DataFrame = {
    val withCent = withCentroidCos(assigned, idCol, vecCol,
      clusterCol, cents)
    val rival = withCent.select(col(clusterCol),
      col(idCol).as("_id_b"), col(vecCol).as("_vec_b"),
      col("cent_cos").as("_cc_b"), col("_vnrm").as("_vnrm_b"))
    val beaten = withCent.join(rival, Seq(clusterCol))
      .where(col(idCol) =!= col("_id_b"))
      .where(VectorFunctions.cosineFromNorms(
        VectorFunctions.dot(col(vecCol), col("_vec_b")),
        col("_vnrm"), col("_vnrm_b")) >= minSim)
      .where(col("_cc_b") < col("cent_cos") ||
        (col("_cc_b") === col("cent_cos") && col("_id_b") < col(idCol)))
      .select(col(idCol)).distinct()
    verdictFrame(withCent, beaten, idCol, clusterCol)
  }

  /** The oversized-cluster escape for [[semDedupVerdicts]]: the same
    * verdict law, but candidate pairs come from banded hyperplane LSH
    * WITHIN the cluster key ([[embeddingNearDupLsh]]'s banding with
    * the cluster prepended to the bucket key) instead of the full
    * per-cluster pairwise join — per-cluster cost drops from O(m²·d)
    * to bucket-occupancy verification. Recall per dup pair at cosine
    * s is the q72 law (1−(1−p^bandBits)^bands, p = 1−arccos(s)/π);
    * a missed candidate keeps a document the exact face would drop —
    * deterministic on both engines, so q199 gates this face against
    * the SAME LSH law replayed in DuckDB (the q72 LCG planes), and
    * SemDedupSpec pins survivors(exact) ⊆ survivors(lsh) plus the
    * recall floor on the beaten set.
    *
    * Sizing: at FIXED bandBits the expected random collisions per
    * cluster are bands·m²/2^bandBits — still Θ(m²·d) with a worse
    * constant than the exact pairwise, at every m. The banding pays
    * only when bandBits grows ∝ ln m: pass `lshSizing(m, bands, 0.5)`
    * with m the largest cluster's size (one per-cluster count + max,
    * setup-time driver state, or catalog stats). */
  def semDedupVerdictsLsh(assigned: DataFrame, idCol: String,
      vecCol: String, clusterCol: String, cents: DataFrame,
      minSim: Double, dim: Int, bandBits: Int = 3,
      bands: Int = 12): DataFrame = {
    val withCent = withCentroidCos(assigned, idCol, vecCol,
      clusterCol, cents)
    // raw multi-band pairs (dedup = false, r21): duplicate collisions
    // verify to identical beaten-id rows, which the beaten-set
    // distinct below already collapses — the pair-level distinct
    // exchange was pure overhead here
    val cand = bandedCandidatePairs(withCent, idCol, vecCol, dim,
      bandBits, bands, Seq(clusterCol), dedup = false)
    val a = withCent.select(col(idCol).as("_id_a"),
      col(vecCol).as("_vec_a"), col("cent_cos").as("_cc_a"),
      col("_vnrm").as("_vnrm_a"))
    val b = withCent.select(col(idCol).as("_id_b"),
      col(vecCol).as("_vec_b"), col("cent_cos").as("_cc_b"),
      col("_vnrm").as("_vnrm_b"))
    val beaten = cand.join(a, Seq("_id_a")).join(b, Seq("_id_b"))
      .where(VectorFunctions.cosineFromNorms(
        VectorFunctions.dot(col("_vec_a"), col("_vec_b")),
        col("_vnrm_a"), col("_vnrm_b")) >= minSim)
      .select(when(col("_cc_a") > col("_cc_b") ||
          (col("_cc_a") === col("_cc_b") && col("_id_a") > col("_id_b")),
        col("_id_a")).otherwise(col("_id_b")).as(idCol))
      .distinct()
    verdictFrame(withCent, beaten, idCol, clusterCol)
  }

  /** Exact-substring span REMOVAL (Lee et al. 2022,
    * arXiv:2107.06499 "ExactSubstr": deduplicating training data by
    * deleting the repeated substring, not the document). The law,
    * token-level and keep-first: an n-gram occurrence at position p
    * of doc d is a duplicate iff the same n-gram occurs in ANY doc
    * with a smaller id (the first doc keeps all its occurrences,
    * including its own internal repeats — the deterministic
    * cross-document form of the paper's rule); every token covered
    * by a duplicate occurrence's [p, p+n) window is dropped, and the
    * survivors re-join in order. [[winnowSpanPairs]] DETECTS shared
    * spans by fingerprint sampling; this face REMOVES them exactly.
    *
    * Scale (100 TB): the paper builds a suffix array on one machine;
    * the distributed shape is two keyed shuffles — the gram→min-id
    * owner aggregate (map-side combinable, one row per DISTINCT
    * gram) and the per-doc coverage aggregate. The owner join is
    * 1:1 per occurrence (never a pair explosion — unlike similarity
    * self-joins there is no df² term, so boilerplate grams cost
    * their occurrence count, nothing more). Coverage marking and
    * text rebuild are per-row HOFs after the join.
    *
    * Output: (idCol, n_tokens, n_dropped, clean_text). */
  def removeSharedSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    // the one-shot composition builds toks/grams ONCE and derives the
    // owner aggregate from the SAME grams value — calling the TRAIN
    // face here instead would mint fresh alias exprIds, the subtrees
    // would no longer be structurally equal, and the gram exchange
    // would NOT reuse (r19 pass 11: the delegation refactor cost a
    // third scan + a second tokenize pass on this carded cell)
    val toks = tokensFrame(df, idCol, textCol)
    val grams = posGrams(toks, idCol, n)
    val owners = grams.groupBy(col("gram"))
      .agg(min(col(idCol)).as("owner"))
    applySpanOwners(toks, grams, owners, idCol, n)
  }

  /** TRAIN face of the span law (r19 — completing the incremental
    * TRAIN/MERGE/APPLY matrix at its last granularity: document
    * [[newAgainstSnapshot]], paragraph [[paragraphOwners]], line
    * [[boilerplateLineCounts]], and now the token window): the
    * persistable (gram, owner) table — one row per distinct n-gram
    * with its minimum doc id. min IGNORES null ids, so a gram carried
    * only by null-id docs yields a null owner — which the apply face's
    * strict `>` can never convict on (null rows kept: harmless, and
    * filtering them would make this aggregate differ from the
    * one-shot composition's in-line owner aggregate). */
  def spanGramOwners(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    posGrams(tokensFrame(df, idCol, textCol), idCol, n)
      .groupBy(col("gram"))
      .agg(min(col(idCol)).as("owner"))

  /** Incremental TRAIN merge: per-gram MIN of owners — like
    * [[mergeParagraphOwners]], EXACT over any split (min is
    * idempotent and commutative; overlapping or replayed batch ids
    * are safe, no append-only assumption — q235 gates
    * merge-equals-one-shot against the q200 oracle verbatim). */
  def mergeSpanGramOwners(prior: DataFrame, delta: DataFrame): DataFrame =
    prior.unionByName(delta)
      .groupBy(col("gram"))
      .agg(min(col("owner")).as("owner"))

  /** APPLY face: the ExactSubstr keep-first law against a persisted
    * owner snapshot ((gram, owner) — [[spanGramOwners]]). An
    * occurrence convicts iff its gram is KNOWN to the snapshot with
    * an owner strictly below its doc id (unknown grams never convict
    * — the conservative incremental arm; a null doc id never
    * convicts either, `null > owner` is never true). Stateless
    * w.r.t. the input, so it applies unchanged to a streaming delta
    * via foreachBatch (stream-static join, the
    * [[dedupParagraphsWithOwners]] posture — StreamingSpec pins it).
    * With owners trained on a superset of `df`, composition equals
    * the one-shot law: [[removeSharedSpans]] IS this face over
    * [[spanGramOwners]] of the same frame. */
  def removeSharedSpansWithOwners(df: DataFrame, idCol: String,
      textCol: String, n: Int, owners: DataFrame): DataFrame = {
    val toks = tokensFrame(df, idCol, textCol)
    applySpanOwners(toks, posGrams(toks, idCol, n), owners, idCol, n)
  }

  /** Shared apply tail of the span-owner faces: conviction join +
    * coverage aggregate + rebuild, over caller-shared toks/grams. */
  private def applySpanOwners(toks: DataFrame, grams: DataFrame,
      owners: DataFrame, idCol: String, n: Int): DataFrame = {
    val cov = grams
      .join(owners.select(col("gram"), col("owner").as("_owner")),
        Seq("gram"))
      .where(col(idCol) > col("_owner"))
      .groupBy(col(idCol))
      .agg(collect_set(col("pos0")).as("starts"))
    rebuildFromStarts(toks, idCol, cov, n)
  }

  /** (idCol, ws): the null-safe all-token frame the span faces share. */
  private def tokensFrame(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    df.select(col(idCol),
      coalesce(TextFunctions.allTokens(col(textCol)),
        array().cast("array<string>")).as("ws"))

  /** (idCol, pos0, gram): one row per n-gram OCCURRENCE. */
  private def posGrams(toks: DataFrame, idCol: String, n: Int): DataFrame =
    toks.select(col(idCol),
      posexplode(QualityFilters.wordNgrams(col("ws"), n))
        .as(Seq("pos0", "gram")))

  /** Shared tail of the span-removal faces: given per-doc convicted
    * window starts, drop every covered token and re-join survivors. */
  private def rebuildFromStarts(toks: DataFrame, idCol: String,
      cov: DataFrame, n: Int): DataFrame =
    toks.join(cov, Seq(idCol), "left")
      .withColumn("_covered",
        // expand windows to the covered-position set: |starts|·n
        // elements, bounded by n·len. array_except then drops them
        // with a HASH-SET probe — linear in len — where a
        // per-position exists() over starts would be O(len·|starts|),
        // quadratic on a heavily-duplicated long document
        flatten(transform(
          coalesce(col("starts"), array().cast("array<int>")),
          s => sequence(s, s + n - 1))))
      .withColumn("_kept",
        // guarded: sequence(0, -1) DESCENDS in Spark ([0, -1]), so an
        // empty token array must short-circuit before element_at(ws, 0)
        // trips ANSI's 1-based index check; array_except keeps the
        // left array's (ascending) order
        when(size(col("ws")) > 0,
          array_except(sequence(lit(0), size(col("ws")) - 1),
            col("_covered")))
          .otherwise(array().cast("array<int>")))
      .select(col(idCol),
        size(col("ws")).cast("long").as("n_tokens"),
        (size(col("ws")) - size(col("_kept"))).cast("long")
          .as("n_dropped"),
        array_join(transform(col("_kept"),
          p => element_at(col("ws"), p + 1)), " ").as("clean_text"))

  /** Eval-set DECONTAMINATION, span form (the removal face of
    * [[crossJaccardPairs]]' detection — the published posture, cf.
    * Brown et al. 2020 appendix C, strips colliding n-gram windows
    * from TRAINING documents rather than dropping whole docs): a
    * training n-gram occurrence at position p is contaminated iff
    * the same n-gram occurs ANYWHERE in the benchmark set; every
    * token under a contaminated occurrence's [p, p+n) window drops,
    * survivors re-join in order. Unlike [[removeSharedSpans]] there
    * is no owner/min-id law — eval-set membership alone convicts,
    * so the semi join replaces the owner aggregate.
    *
    * Scale (100 TB): the eval side reduces to ONE row per DISTINCT
    * benchmark gram — benchmark-sized, i.e. broadcastable in every
    * realistic pipeline — so the train side is a broadcast semi join
    * per occurrence plus one doc-keyed coverage shuffle; nothing
    * pairs and nothing depends on corpus df.
    *
    * Output: (idCol, n_tokens, n_dropped, clean_text) over the
    * TRAIN frame only — every train row appears, untouched rows
    * with n_dropped = 0. */
  def removeContaminatedSpans(train: DataFrame, idCol: String,
      textCol: String, evalDf: DataFrame, evalTextCol: String,
      n: Int): DataFrame = {
    val toks = tokensFrame(train, idCol, textCol)
    val evalGrams = evalDf.select(
        explode(QualityFilters.wordNgrams(
          coalesce(TextFunctions.allTokens(col(evalTextCol)),
            array().cast("array<string>")), n)).as("gram"))
      .distinct()
    val cov = posGrams(toks, idCol, n)
      .join(evalGrams, Seq("gram"), "left_semi")
      .groupBy(col(idCol))
      .agg(collect_set(col("pos0")).as("starts"))
    rebuildFromStarts(toks, idCol, cov, n)
  }

  /** Cross-document boilerplate LINE removal (the line-granularity
    * member of the dedup family, cf. Penedo et al. 2023 RefinedWeb
    * §3 / the C4 measurement in Raffel et al. 2020 — template lines
    * repeated across many pages: navigation, cookie banners, licence
    * footers): a line whose DISTINCT-document frequency reaches
    * `minDf` is boilerplate and is dropped from EVERY document
    * (symmetric, unlike the keep-first span law — boilerplate has no
    * rightful owner). Line identity is the exact raw line (split on
    * '\n'); lines empty after trim never convict (they would cross
    * any df threshold trivially) and are always kept. A null text
    * behaves as '' — one empty line, kept.
    *
    * Scale (100 TB): one line-keyed map-side-combinable distinct-df
    * aggregate; the convicted-lines frame is df-capped small by
    * construction (only lines crossing the threshold survive the
    * HAVING) so the conviction join broadcasts; ONE doc-keyed
    * shuffle then computes totals and re-assembles survivors in
    * position order — convictions are marked, not filtered, so every
    * document (even one losing all its lines) keeps its row without
    * a corpus-sized join back. No pair term anywhere — a line
    * occurring k times costs k rows, never k².
    *
    * Output: (idCol, n_lines, n_removed, clean_text); a document
    * whose every line is removed yields clean_text ''. */
  def removeBoilerplateLines(df: DataFrame, idCol: String,
      textCol: String, minDf: Long): DataFrame =
    removeBoilerplateLinesWithConvicted(df, idCol, textCol,
      convictedFromCounts(boilerplateLineCounts(df, idCol, textCol), minDf))

  /** Per-batch line document-frequency counts — the persistable
    * artifact behind the incremental TRAIN face (column (line, df)).
    * Trim-empty lines never enter. */
  def boilerplateLineCounts(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    df.select(col(idCol),
        explode(split(coalesce(col(textCol), lit("")), "\n", -1))
          .as("line"))
      .where(trim(col("line")) =!= "")
      .groupBy(col("line"))
      .agg(countDistinct(col(idCol)).as("df"))

  /** Incremental TRAIN face, append-only posture: a crawl delta's
    * counts MERGE into the persisted counts by per-line sum —
    * distinct-doc counts add exactly IFF the delta's doc ids are
    * disjoint from every prior batch's (the same append-only
    * assumption [[newAgainstSnapshot]]'s steady state runs on; ids
    * shared across batches would double-count). q222 gates the law:
    * merged-then-convicted EQUALS the one-shot conviction over the
    * union. Map-side-combinable sum keyed by line — in steady state
    * the persisted counts only ever absorb each day's delta, never
    * rebuild. */
  def mergeBoilerplateLineCounts(prior: DataFrame,
      delta: DataFrame): DataFrame =
    prior.unionByName(delta)
      .groupBy(col("line"))
      .agg(sum(col("df")).as("df"))

  /** Conviction from (line, df) counts: the df-thresholded
    * convicted-lines frame (column `line`) a continuous pipeline
    * persists. Trim-empty lines never convict (they never enter the
    * counts). */
  def convictedFromCounts(counts: DataFrame, minDf: Long): DataFrame = {
    require(minDf > 0, s"minDf must be positive: $minDf")
    counts.where(col("df") >= minDf).select(col("line"))
  }

  /** The APPLY face: drop every occurrence of a convicted line from
    * the given frame — stateless w.r.t. the input, so it applies
    * unchanged to a streaming delta via foreachBatch (stream-static
    * join; StreamingSpec pins the posture). `convicted` carries the
    * lines in a `line` column ([[convictedFromCounts]]). */
  def removeBoilerplateLinesWithConvicted(df: DataFrame, idCol: String,
      textCol: String, convicted: DataFrame): DataFrame = {
    val lines = df.select(col(idCol),
      posexplode(split(coalesce(col(textCol), lit("")), "\n", -1))
        .as(Seq("_pos", "_line")))
    val frequent = convicted
      .select(col("line").as("_line"), lit(true).as("_bp")).distinct()
    // NO broadcast hint (r18 pass 8, reversing pass 3): the convicted
    // frame is df-THRESHOLDED, not size-capped — distinct lines with
    // df >= minDf grow with the corpus, and a forced broadcast
    // bypasses autoBroadcastJoinThreshold and hard-fails (8 GB limit /
    // driver OOM) exactly where a sort-merge join would have worked.
    // The small-frame case the pass-3 hint targeted is already served
    // by AQE's runtime re-plan (adaptive.enabled is on in every
    // session): when the built side measures small at runtime, the
    // SMJ converts to a broadcast join without anyone guessing sizes
    // at plan time.
    lines.join(frequent, Seq("_line"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("long").as("n_lines"),
        count(col("_bp")).cast("long").as("n_removed"),
        // collect_list drops NULL entries, so convicted lines vanish
        // here and the survivors sort back into position order
        array_join(transform(array_sort(collect_list(
            when(col("_bp").isNull, struct(col("_pos"), col("_line"))))),
          s => s.getField("_line")), "\n").as("clean_text"))
  }

  /** WITHIN-document repeated-line trimming (the within-doc member
    * of the dedup granularity matrix, next to [[removeBoilerplateLines]]'
    * cross-doc law and [[removeSharedSpans]]' token windows — the
    * generation-artifact / scraper-echo cleanup step): inside one
    * document, every line keeps only its FIRST occurrence; later
    * exact repeats drop. Lines empty after trim are always kept
    * (blank separators are structure, not repetition — and dropping
    * them would splice unrelated paragraphs together). Line identity
    * is the exact raw line.
    *
    * Scale (100 TB): a pure per-row HOF projection — no shuffle, no
    * join, pushdown-eligible; the keep test is array_position
    * equality (first index), O(L) per line and so quadratic in a
    * single document's OWN line count L — corpus size never enters.
    * For a pathological single document (10^5+ lines) the escape is
    * posexplode + min(pos)-per-line groupBy, one doc-keyed shuffle;
    * at prose-shaped L the per-row form wins by never shuffling.
    * Output: (idCol, n_lines, n_removed, clean_text); null text
    * behaves as '' — one empty line, kept. */
  def dedupLinesWithinDoc(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val ls = split(coalesce(col(textCol), lit("")), "\n", -1)
    // keep position i iff it's the first index holding that line, or
    // the line is blank after trim; array_position is 1-based
    val keptIdx = filter(sequence(lit(0), size(ls) - 1),
      i => trim(element_at(ls, i + 1)) === "" ||
        array_position(ls, element_at(ls, i + 1)) === (i + 1).cast("long"))
    df.select(col(idCol),
      size(ls).cast("long").as("n_lines"),
      (size(ls) - size(keptIdx)).cast("long").as("n_removed"),
      array_join(transform(keptIdx, i => element_at(ls, i + 1)), "\n")
        .as("clean_text"))
  }

  /** Cross-document PARAGRAPH dedup, keep-first (the paragraph
    * granularity of Lee et al. 2022 arXiv:2107.06499 §2 — the paper
    * deduplicates at both document and substring granularity and
    * notes paragraph-level removal as the common production middle;
    * this completes the engine's granularity matrix: document
    * ([[exactFromFingerprints]]/near-dup), paragraph (THIS), line
    * ([[removeBoilerplateLines]] cross-doc, [[dedupLinesWithinDoc]]
    * within-doc), token window ([[removeSharedSpans]])). The law:
    * paragraphs split on blank-line runs ('\n\n+', the universal
    * prose convention); identity is the TRIMMED paragraph text; a
    * paragraph occurrence survives iff its doc is the MINIMUM doc id
    * carrying that paragraph (the first doc keeps ALL its copies,
    * incl. its own internal repeats — the [[removeSharedSpans]]
    * keep-first convention at paragraph granularity);
    * paragraphs empty after trim never convict and always survive
    * (ASCII-space trim — the same convention as the line laws; a
    * tab-only paragraph is content on BOTH engines). A null doc id
    * cannot be adjudicated: null-id rows never own a paragraph
    * (min ignores nulls) and never lose one (the conservative arm),
    * though all null-id rows share one output group — null ids are
    * a caller contract violation, handled rather than corrupted.
    * Survivors rejoin with '\n\n' in position order.
    *
    * Scale (100 TB): one paragraph-keyed map-side-combinable min-id
    * aggregate (one row per DISTINCT paragraph — no pair term, a
    * paragraph occurring k times costs k rows, never k²), its join
    * back keyed by the same hash, then ONE doc-keyed shuffle
    * re-assembles survivors — the [[removeBoilerplateLines]] plan
    * shape with an owner law instead of a df threshold.
    *
    * Output: (idCol, n_paragraphs, n_removed, clean_text); null text
    * behaves as '' — one empty paragraph, kept. */
  def dedupParagraphsAcrossDocs(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    dedupParagraphsWithOwners(df, idCol, textCol,
      paragraphOwners(df, idCol, textCol))

  /** TRAIN face of the paragraph law (r19 — the incremental posture
    * the other granularities already have: exact [[newAgainstSnapshot]],
    * lines [[boilerplateLineCounts]]): the persistable
    * (paragraph, owner) table — one row per distinct trimmed
    * non-blank paragraph with its minimum doc id. Null-id rows never
    * enter (they can't own; min would ignore them anyway — filtered
    * here so the artifact carries no all-null groups). */
  def paragraphOwners(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    df.select(col(idCol),
        explode(split(coalesce(col(textCol), lit("")), "\n{2,}", -1))
          .as("_para"))
      .where(trim(col("_para")) =!= "" && col(idCol).isNotNull)
      .groupBy(trim(col("_para")).as("paragraph"))
      .agg(min(col(idCol)).as("owner"))

  /** Incremental TRAIN merge: per-paragraph MIN of owners. STRONGER
    * than the lines family's df-sum merge: min is idempotent and
    * commutative, so merged-over-any-split equals one-shot EXACTLY —
    * overlapping or replayed batch ids are safe, no append-only
    * disjointness assumption (q234 gates merge-equals-one-shot over a
    * three-way split; the spec additionally pins the overlapping-
    * batch arm the lines law cannot offer). */
  def mergeParagraphOwners(prior: DataFrame, delta: DataFrame): DataFrame =
    prior.unionByName(delta)
      .groupBy(col("paragraph"))
      .agg(min(col("owner")).as("owner"))

  /** APPLY face: the keep-first paragraph law against a persisted
    * owners snapshot ((paragraph, owner) — [[paragraphOwners]]).
    * An occurrence keeps iff blank, its doc id is null, its
    * paragraph is UNKNOWN to the snapshot (unseen paragraphs never
    * convict — the conservative incremental arm), or its doc IS the
    * owner (id <= owner). Stateless w.r.t. the input, so it applies
    * unchanged to a streaming delta via foreachBatch (stream-static
    * join; StreamingSpec pins the posture). With owners trained on a
    * superset of `df`, composition equals the one-shot law:
    * [[dedupParagraphsAcrossDocs]] IS this face over
    * [[paragraphOwners]] of the same frame. */
  def dedupParagraphsWithOwners(df: DataFrame, idCol: String,
      textCol: String, owners: DataFrame): DataFrame = {
    val paras = df.select(col(idCol),
      posexplode(split(coalesce(col(textCol), lit("")), "\n{2,}", -1))
        .as(Seq("_pos", "_para")))
    val blank = trim(col("_para")) === ""
    paras.join(
        owners.select(col("paragraph").as("_key"), col("owner").as("_owner")),
        trim(col("_para")) === col("_key"), "left")
      .withColumn("_keep", blank || col(idCol).isNull ||
        col("_owner").isNull || col(idCol) <= col("_owner"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("long").as("n_paragraphs"),
        count(when(!col("_keep"), lit(1))).cast("long").as("n_removed"),
        array_join(transform(array_sort(collect_list(
            when(col("_keep"), struct(col("_pos"), col("_para"))))),
          s => s.getField("_para")), "\n\n").as("clean_text"))
  }

  /** Release DIFF between two corpus snapshots (the dataset-
    * versioning face next to the [[newAgainstSnapshot]] family —
    * what a release changelog ships): per-id status by the
    * exact-dedup content fingerprint ([[TextFunctions.fingerprint]],
    * so whitespace/case churn is not "changed") — `added` (id only
    * in the new snapshot), `removed` (only in the old), `changed`
    * (both, fingerprints differ), `unchanged`. One full-outer join
    * on the id — both sides doc_id-keyed, the join Spark co-
    * partitions without residence tricks; fingerprinting is the
    * per-row native expression. Output: every id of either side as
    * (idCol, status, old_fingerprint, new_fingerprint).
    *
    * Streaming posture (StreamingSpec pins it): the new snapshot
    * arrives as delta batches; per batch, diff the batch against the
    * old side SEMI-JOINED to the batch's ids (added/changed/
    * unchanged verdict immediately), and run ONE end-of-stream sweep
    * — old ids never seen in any delta, via this function against an
    * empty new side — for `removed`, which is only decidable once
    * the new snapshot is complete. */
  def releaseDiff(oldDf: DataFrame, newDf: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    // coalesce BEFORE fingerprinting: a null-text row must still key
    // presence (a null fingerprint would read as absent → "added")
    val o = oldDf.select(col(idCol),
      TextFunctions.fingerprint(coalesce(col(textCol), lit("")))
        .as("old_fingerprint"))
    val n = newDf.select(col(idCol),
      TextFunctions.fingerprint(coalesce(col(textCol), lit("")))
        .as("new_fingerprint"))
    o.join(n, Seq(idCol), "full")
      .select(col(idCol),
        when(col("old_fingerprint").isNull, lit("added"))
          .when(col("new_fingerprint").isNull, lit("removed"))
          .when(col("old_fingerprint") === col("new_fingerprint"),
            lit("unchanged"))
          .otherwise(lit("changed")).as("status"),
        col("old_fingerprint"), col("new_fingerprint"))
  }

  /** Cross-snapshot incremental dedup, exact path: which BATCH
    * documents are NEW against a prior corpus snapshot's fingerprint
    * set — one anti join on the normalized-content fingerprint
    * ([[TextFunctions.fingerprint]], the exact-dedup law). Output:
    * the batch's new rows as (idCol, fingerprint). */
  def newAgainstSnapshot(batch: DataFrame, idCol: String,
      textCol: String, priorFps: DataFrame): DataFrame =
    batch.select(col(idCol),
        TextFunctions.fingerprint(col(textCol)).as("fingerprint"))
      .join(priorFps.select(col("fingerprint")),
        Seq("fingerprint"), "left_anti")
      .select(col(idCol), col("fingerprint"))

  /** Bloom-pruned twin of [[newAgainstSnapshot]] — the continuous-
    * ingest posture at 100 TB: the PRIOR snapshot's fingerprints
    * aggregate into ONE Bloom row ([[Sketch.bloomBits]], merge-
    * associative) that broadcasts to the batch; rows the filter
    * rejects are DEFINITELY new (a Bloom has no false negatives) and
    * never reach the join, so the anti join's probe side shrinks to
    * the duplicate rate + fpp ≈ (1−e^(−k·n/m))^k instead of the whole
    * day's crawl. Bloom-positive rows still anti-join exactly, so
    * false positives cost a probe, never a row — the result EQUALS
    * the exact path (the q197 oracle replays the plain anti join
    * against this path's output; SnapshotDedupSpec pins frame
    * equality and the forced-positive arm). In steady state the
    * Bloom row persists with the snapshot and only MERGES with each
    * day's delta bits — never rebuilt from scratch.
    *
    * Cost model (deliberate, r16 review pass 10): the two union
    * branches each scan+fingerprint the BATCH — a daily delta, two
    * narrow (id, text) passes, no network — to keep the join's probe
    * side pruned to duplicate-rate + fpp. The alternatives lose at
    * scale: folding the branch test into one anti-join condition
    * shuffles the ENTIRE batch against the corpus-sized prior (the
    * Bloom stops pruning anything), and persisting the probed frame
    * inside the operator is the hidden-cache leak the library bans
    * (Ranking.scala:25). A caller that wants one scan persists the
    * narrow `batch.select(id, text)` projection (or its own
    * fingerprinted artifact) before calling. */
  def newAgainstSnapshotBloom(batch: DataFrame, idCol: String,
      textCol: String, priorFps: DataFrame, m: Int, k: Int): DataFrame = {
    val bits = priorFps.agg(
      Sketch.bloomBits(col("fingerprint"), m, k).as("bits"))
    val fp = batch.select(col(idCol),
      TextFunctions.fingerprint(col(textCol)).as("fingerprint"))
    val maybe = (0 until k).map(i =>
        array_contains(col("bits"),
          (Sketch.hash48Of(concat(lit(s"$i:"), col("fingerprint")))
            % m).cast("int")))
      .reduce(_ && _)
    // a null fingerprint hashes to null → coalesce FALSE, mirroring
    // the anti join (a null key never matches, so the row stays new)
    val probed = fp.crossJoin(broadcast(bits))
      .withColumn("_maybe", coalesce(maybe, lit(false)))
    val definitelyNew = probed.where(!col("_maybe"))
      .select(col(idCol), col("fingerprint"))
    val candidates = probed.where(col("_maybe"))
      .select(col(idCol), col("fingerprint"))
      .join(priorFps.select(col("fingerprint")),
        Seq("fingerprint"), "left_anti")
      .select(col(idCol), col("fingerprint"))
    definitelyNew.unionByName(candidates)
  }

  /** Cross-snapshot NEAR-dup verdicts — the MinHash-LSH face of
    * [[newAgainstSnapshotBloom]]'s exact law: which BATCH documents
    * are near-duplicates (exact shingle Jaccard ≥ minSim) of ANY
    * prior-snapshot document, with candidates generated by the
    * (band, bucket) join between the batch's LSH buckets and the
    * prior snapshot's PERSISTED bucket index. In steady state both
    * prior artifacts (`priorBuckets` = (id, band, bucket),
    * `priorShingles` = (id, shingle)) live with the snapshot and
    * only append each day's delta — never rebuilt — so a day's
    * near-dup check costs the batch's own hashing plus joins whose
    * mass is bucket-collision-bounded, not |batch|×|corpus|. LSH
    * misses are deterministic (same md5 law as q18), so the oracle
    * REPLAYS them rather than tolerating them.
    *
    * `n` must equal the shingle size BOTH prior artifacts were built
    * with — a mismatched batch-side n silently deflates every
    * candidate's Jaccard (disjoint shingle vocabularies), it does
    * not error.
    *
    * Streaming posture (StreamingSpec pins it): foreachBatch with
    * both prior artifacts persisted stream-static — the verdict law
    * is per-row given the artifacts, so each micro-batch's output
    * equals the batch law row-for-row across restarts, with no
    * stream-side state beyond the source offsets.
    *
    * Output: one row per batch doc — (idCol, n_matches, best_jaccard
    * [0.0 when none, rounded 6], is_near_dup). */
  def nearDupAgainstSnapshot(batch: DataFrame, idCol: String,
      textCol: String, priorBuckets: DataFrame, priorIdCol: String,
      priorShingles: DataFrame, minSim: Double, n: Int = 3,
      numHashes: Int = 16, bands: Int = 4): DataFrame = {
    // ONE tokenization of the batch feeds both its buckets and its
    // shingles
    val toks = Search.tokenBase(batch, idCol, textCol)
    val bBk = lshBucketsFromTokens(toks, idCol, n, numHashes, bands)
      .select(col(idCol).as("_bid"), col("band"), col("bucket"))
    val cand = bBk
      .join(priorBuckets.select(col(priorIdCol).as("_pid"),
        col("band"), col("bucket")), Seq("band", "bucket"))
      .select(col("_bid"), col("_pid")).distinct()
    val bIdx = shingleIndexFromTokens(toks, idCol, n)
    val nB = bIdx.groupBy(col(idCol).as("_bid"))
      .agg(count(lit(1)).as("_n_b"))
    val nP = priorShingles.groupBy(col(priorIdCol).as("_pid"))
      .agg(count(lit(1)).as("_n_p"))
    val inter = cand
      .join(bIdx.select(col(idCol).as("_bid"), col("shingle")), Seq("_bid"))
      .join(priorShingles.select(col(priorIdCol).as("_pid"),
        col("shingle")), Seq("_pid", "shingle"))
      .groupBy(col("_bid"), col("_pid"))
      .agg(count(lit(1)).as("_n_common"))
    val matches = inter.join(nB, Seq("_bid")).join(nP, Seq("_pid"))
      .withColumn("_jaccard", col("_n_common").cast("double") /
        (col("_n_b") + col("_n_p") - col("_n_common")).cast("double"))
      .where(col("_jaccard") >= minSim)
      .groupBy(col("_bid"))
      .agg(count(lit(1)).as("n_matches"), max(col("_jaccard")).as("_best"))
    batch.select(col(idCol)).distinct()
      .join(matches.withColumnRenamed("_bid", idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        round(coalesce(col("_best"), lit(0.0)), 6).as("best_jaccard"),
        coalesce(col("n_matches") > 0, lit(false)).as("is_near_dup"))
  }

  /** The production SemDeDup entry: k-means clusters via
    * [[SimilaritySearch.kmeansIvf]] (broadcast-centroid Lloyd passes,
    * codegen'd argmax assignment), then the [[semDedupVerdicts]] law
    * over the trained clustering. The oracle gate (q192) replaces the
    * trained clusters with the corpus's stored labels + true-mean
    * centroids so DuckDB can replay the identical law; this face is
    * spec-verified against the same invariants (SemDedupSpec).
    *
    * Memory hygiene (r18 ADVICE): kmeansIvf's assignment checkpoint
    * carries the EMBEDDING column — left pinned, it holds the
    * corpus's vectors until driver GC. The verdicts are checkpointed
    * instead (a narrow vector-free per-id frame) and the assignment
    * released before returning; callers unpersist the returned frame
    * when done. */
  def semDedup(df: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, minSim: Double): DataFrame = {
    val (assigned, cents) = SimilaritySearch.kmeansIvf(df, idCol, vecCol, k, iters)
    val verdicts = semDedupVerdicts(assigned, idCol, vecCol, "cluster",
      SimilaritySearch.centroidsDf(df.sparkSession, cents), minSim)
      .localCheckpoint(true)
    assigned.unpersist()
    verdicts
  }
}

/** The exact posting-list pair-count kernel behind
  * [[Dedup.jaccardPairsFromIndex]] and [[Dedup.crossJaccardPairs]].
  *
  *  1. Postings `(shingle, side, id, n)` hash-partition by shingle and
  *     sort by (shingle, side, id). Each shingle's run becomes one
  *     posting list of distinct members; a member carries its
  *     document's row count `n` and its multiplicity in the list.
  *     Lists that cannot pair drop: one member, or (cross mode) one
  *     side missing.
  *  2. A list is copied to every partition that OWNS one of its
  *     members (the owner of an id is a fixed mix of it modulo the
  *     partition count), so at most min(members, partitions) copies.
  *     Each copy holds what its owner needs: in self mode the suffix
  *     from the owner's first member, in cross mode the owner's train
  *     members and every bench member.
  *  3. Each partition takes its documents one at a time and adds up,
  *     in a dense accumulator, the shared postings with every later
  *     member of the lists holding it (b > a in self mode, every bench
  *     member in cross mode). It emits only the pairs whose Jaccard
  *     passes `minSim` — the final filter's own expression, so the
  *     prefilter is never stricter than it.
  *
  * A hot shingle's list is split by probing document over every
  * partition instead of landing on one join task, and its
  * df·(df−1)/2 co-postings are in-memory increments, not rows. Both
  * shuffles use an explicit partition count (the session's
  * [[Partitioning.parallelism]]): AQE never coalesces them into one
  * task. A count task holds the copies it receives in memory; a list
  * with df ≥ partitions reaches every task.
  */
private[operators] object PostingPairs {

  /** (a, b, n_common, n_a, n_b): `a` is the owned (train) document. */
  private val Schema = StructType(Seq("a", "b", "n_common", "n_a", "n_b")
    .map(StructField(_, LongType, nullable = false)))

  /** The id column's type; the kernel keys documents by a long. */
  def integralId(idx: DataFrame, idCol: String): DataType = {
    val t = idx.schema(idCol).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(t),
      s"exact pair counting needs an integral id column: $idCol is $t")
    t
  }

  /** (shingle, side, id, n) postings: null ids drop, and `n` counts
    * every row of the document, null shingles included, while a
    * null-shingle row itself never pairs. */
  def postings(idx: DataFrame, idCol: String, side: Int): DataFrame = {
    val live = idx.where(col(idCol).isNotNull)
    val counts = live.groupBy(col(idCol)).agg(count(lit(1)).as("_n"))
    // counts have one row per document, so they are never larger than
    // the postings. When the postings themselves fit a broadcast, AQE
    // may pick THEM as the build side and probe with the counts
    // coalesced into one partition — every posting then flows through
    // one task. Broadcasting the counts there pins the right side; at
    // corpus scale the planner chooses.
    val conf = idx.sparkSession.sessionState.conf
    val small = idx.queryExecution.optimizedPlan.stats.sizeInBytes <=
      conf.autoBroadcastJoinThreshold
    live.where(col("shingle").isNotNull)
      .join(if (small) broadcast(counts) else counts, Seq(idCol))
      .select(col("shingle"), lit(side).as("side"),
        col(idCol).cast("long").as("id"), col("_n").as("n"))
  }

  /** Pairs sharing at least one posting with their exact counts,
    * prefiltered at `minSim`. Self mode pairs a < b within side 0;
    * cross mode pairs a side-0 with a side-1 document. */
  def pairCounts(postings: DataFrame, cross: Boolean,
      minSim: Double): DataFrame = {
    val spark = postings.sparkSession
    val parts = Partitioning.parallelism(spark)
    val copies = postings.repartition(parts, col("shingle"))
      .sortWithinPartitions("shingle", "side", "id")
      .queryExecution.toRdd
      .mapPartitions(rows => listCopies(rows, parts, cross))
    val pairs = copies.partitionBy(new Owners(parts))
      .mapPartitionsWithIndex((q, it) =>
        countOwned(q, parts, it.map(_._2), cross, minSim))
    spark.createDataFrame(pairs, Schema)
  }

  /** The 64-bit murmur finalizer: runs of sequential ids spread
    * evenly over owners and hash slots. */
  private def mix(id: Long): Long = {
    var h = id
    h = (h ^ (h >>> 33)) * 0xff51afd7ed558ccdL
    h = (h ^ (h >>> 33)) * 0xc4ceb9fe1a85ec53L
    h ^ (h >>> 33)
  }

  /** Owner partition of an id. */
  private def owner(id: Long, parts: Int): Int =
    java.lang.Math.floorMod(mix(id), parts.toLong).toInt

  /** Routes a copy keyed by its owner to that partition. */
  private final class Owners(parts: Int) extends Partitioner {
    def numPartitions: Int = parts
    def getPartition(key: Any): Int = key.asInstanceOf[Int]
    override def equals(o: Any): Boolean = o match {
      case p: Owners => p.numPartitions == parts
      case _ => false
    }
    override def hashCode: Int = parts
  }

  /** One owner's copy of a posting list, in list order: ids, document
    * counts, multiplicities (null when all are 1) and, in cross mode,
    * the number of leading train members. */
  private final class Copy(val ids: Array[Long], val ns: Array[Long],
      val mult: Array[Int], val split: Int) extends Serializable

  private def listCopies(rows: Iterator[InternalRow], parts: Int,
      cross: Boolean): Iterator[(Int, Copy)] = {
    val in = rows.buffered
    val list = new Members(parts)
    Iterator.continually(()).takeWhile(_ => in.hasNext).flatMap { _ =>
      val key = in.head.getUTF8String(0).clone()
      list.clear()
      while (in.hasNext && in.head.getUTF8String(0) == key) {
        val r = in.next()
        list.add(r.getInt(1), r.getLong(2), r.getLong(3))
      }
      if (cross) list.crossCopies() else list.selfCopies()
    }
  }

  /** The posting list under construction: distinct (side, id) members
    * in sort order, side 0 first. */
  private final class Members(parts: Int) {
    private var size = 0
    private var sides = new Array[Int](16)
    private var ids = new Array[Long](16)
    private var ns = new Array[Long](16)
    private var mult = new Array[Int](16)
    private var dup = false
    private val firstAt = Array.fill(parts)(-1)

    def clear(): Unit = { size = 0; dup = false }

    def add(side: Int, id: Long, n: Long): Unit =
      if (size > 0 && ids(size - 1) == id && sides(size - 1) == side) {
        mult(size - 1) += 1
        dup = true
      } else {
        if (size == ids.length) {
          sides = java.util.Arrays.copyOf(sides, size * 2)
          ids = java.util.Arrays.copyOf(ids, size * 2)
          ns = java.util.Arrays.copyOf(ns, size * 2)
          mult = java.util.Arrays.copyOf(mult, size * 2)
        }
        sides(size) = side; ids(size) = id; ns(size) = n; mult(size) = 1
        size += 1
      }

    private def copy(pos: Array[Int], split: Int): Copy =
      new Copy(pos.map(ids(_)), pos.map(ns(_)),
        if (dup) pos.map(mult(_)) else null, split)

    private def suffix(from: Int): Copy = new Copy(
      java.util.Arrays.copyOfRange(ids, from, size),
      java.util.Arrays.copyOfRange(ns, from, size),
      if (dup) java.util.Arrays.copyOfRange(mult, from, size) else null, -1)

    /** Self mode: each owner gets the suffix from its first member. */
    def selfCopies(): Iterator[(Int, Copy)] = {
      if (size < 2) return Iterator.empty
      val owners = ArrayBuffer.empty[Int]
      var i = 0
      while (i < size - 1) { // the last member has no later partner
        val q = owner(ids(i), parts)
        if (firstAt(q) < 0) { firstAt(q) = i; owners += q }
        i += 1
      }
      val out = owners.map { q =>
        val from = firstAt(q)
        firstAt(q) = -1
        q -> suffix(from)
      }
      out.iterator
    }

    /** Cross mode: each owner of a train member gets its own train
      * members followed by every bench member. */
    def crossCopies(): Iterator[(Int, Copy)] = {
      var split = 0
      while (split < size && sides(split) == 0) split += 1
      if (split == 0 || split == size) return Iterator.empty
      val byOwner = (0 until split).groupBy(i => owner(ids(i), parts))
      val bench = Array.range(split, size)
      byOwner.toSeq.map { case (q, mine) =>
        q -> copy(mine.toArray ++ bench, mine.size)
      }.iterator
    }
  }

  /** Step 3 on partition `q`: every owned document's passing pairs. */
  private def countOwned(q: Int, parts: Int, in: Iterator[Copy],
      cross: Boolean, minSim: Double): Iterator[Row] = {
    val lists = in.toArray
    // dense local index per distinct document; the two sides of a
    // cross count keep separate dictionaries (their ids may collide)
    val dict = Array(new LongIntMap, new LongIntMap)
    var idOf = new Array[Long](64)
    var nOf = new Array[Long](64)
    var docs = 0
    val locs = lists.map { c =>
      val l = new Array[Int](c.ids.length)
      var i = 0
      while (i < l.length) {
        val side = if (cross && i >= c.split) 1 else 0
        l(i) = dict(side).getOrInsert(c.ids(i), docs)
        if (l(i) == docs) {
          if (docs == idOf.length) {
            idOf = java.util.Arrays.copyOf(idOf, docs * 2)
            nOf = java.util.Arrays.copyOf(nOf, docs * 2)
          }
          idOf(docs) = c.ids(i); nOf(docs) = c.ns(i); docs += 1
        }
        i += 1
      }
      l
    }
    // each owned document's (list, position) occurrences, CSR layout:
    // pass 0 sizes the rows, pass 1 fills them
    val start = new Array[Int](docs + 1)
    var occList: Array[Int] = null
    var occPos: Array[Int] = null
    for (pass <- 0 to 1) {
      var c = 0
      while (c < lists.length) {
        val l = locs(c)
        var i = 0
        while (i < l.length) {
          if (if (cross) i < lists(c).split else owner(lists(c).ids(i), parts) == q) {
            if (pass == 0) start(l(i) + 1) += 1
            else {
              val k = start(l(i))
              occList(k) = c; occPos(k) = i
              start(l(i)) = k + 1
            }
          }
          i += 1
        }
        c += 1
      }
      if (pass == 0) {
        var a = 0
        while (a < docs) { start(a + 1) += start(a); a += 1 }
        occList = new Array[Int](start(docs))
        occPos = new Array[Int](start(docs))
      } else { // the fill advanced each row start to the next row's
        System.arraycopy(start, 0, start, 1, docs)
        start(0) = 0
      }
    }
    val acc = new Array[Long](docs)
    val touched = new Array[Int](docs)
    Iterator.range(0, docs).filter(a => start(a + 1) > start(a)).flatMap { a =>
      var nt = 0
      var o = start(a)
      while (o < start(a + 1)) {
        val c = lists(occList(o))
        val l = locs(occList(o))
        val i = occPos(o)
        val m = c.mult
        var j = if (cross) c.split else i + 1
        if (m == null) {
          while (j < l.length) {
            val b = l(j)
            if (acc(b) == 0) { touched(nt) = b; nt += 1 }
            acc(b) += 1
            j += 1
          }
        } else {
          val ma = m(i).toLong
          while (j < l.length) {
            val b = l(j)
            if (acc(b) == 0) { touched(nt) = b; nt += 1 }
            acc(b) += ma * m(j)
            j += 1
          }
        }
        o += 1
      }
      val na = nOf(a)
      val out = ArrayBuffer.empty[Row]
      var t = 0
      while (t < nt) {
        val b = touched(t)
        val nc = acc(b)
        acc(b) = 0
        val nb = nOf(b)
        val d = na + nb - nc
        // d == 0 only under multiset rows: left for the SQL division
        if (d == 0 || nc.toDouble / d.toDouble >= minSim)
          out += Row(idOf(a), idOf(b), nc, na, nb)
        t += 1
      }
      out
    }
  }

  /** Open-addressing Long → Int map for non-negative values. */
  private final class LongIntMap {
    private var keys = new Array[Long](64)
    private var vals = Array.fill(64)(-1)
    private var used = 0

    private def slot(k: Long, mask: Int): Int = (mix(k) & mask).toInt

    /** The value of `k`, inserting `v` when `k` is absent. */
    def getOrInsert(k: Long, v: Int): Int = {
      val mask = keys.length - 1
      var s = slot(k, mask)
      while (vals(s) >= 0) {
        if (keys(s) == k) return vals(s)
        s = (s + 1) & mask
      }
      keys(s) = k; vals(s) = v; used += 1
      if (used * 2 > keys.length) grow()
      v
    }

    private def grow(): Unit = {
      val (ok, ov) = (keys, vals)
      keys = new Array[Long](ok.length * 2)
      vals = Array.fill(ok.length * 2)(-1)
      val mask = keys.length - 1
      for (i <- ok.indices if ov(i) >= 0) {
        var s = slot(ok(i), mask)
        while (vals(s) >= 0) s = (s + 1) & mask
        keys(s) = ok(i); vals(s) = ov(i)
      }
    }
  }
}
