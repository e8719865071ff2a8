package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Partitioning
import graft.functions.{TextFunctions, VectorFunctions}
import graft.operators.{Bpe, Chunker, ContrastiveMining, CorpusArtifacts, Dedup, Entities, History, Search, Sessionize, SimilaritySearch}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each `queries` entry is one operator of the rebuild (SURVEY.md §2 /
  * the training-data-pipeline additions); each `oracleSql` entry is the
  * ANSI-SQL twin the driver runs in DuckDB on the same parquet tables.
  *
  * Float-parity rules used throughout (so value hashes match DuckDB):
  *  - sums of doubles go through DECIMAL (exact, associative), then one
  *    cast to double;
  *  - all remaining double math uses the *same* operation order on both
  *    sides and is rounded to 6 dp at the output boundary;
  *  - ranks/counts are integers wherever possible.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  // ---- shared SQL fragments for the DuckDB oracles ----
  // NULL-text invariant (r17 review pass 3 generalized): the driver's
  // gate corpora carry no NULL text, so toksSql/allToksSql/shinglesSql
  // tokenize `text` directly (lower(NULL) → NULL list) while their
  // Spark twins often coalesce — LATENT-divergent, consistent on every
  // gate corpus. Faces whose law must survive NULL text coalesce
  // EXPLICITLY on both sides (rawWordsSql below, q224's token count);
  // any new gate that windows/ranks on a token count must do the same
  // or a NULL count (ranking below 0) can flip its winner.
  private val stopSql = TextFunctions.stopwordsSqlList
  /** BM25 token list (DuckDB) — twin of TextFunctions.bm25Tokens. */
  private val toksSql =
    s"list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> len(t) > 2 AND t NOT IN ($stopSql))"
  /** All tokens (DuckDB) — twin of TextFunctions.allTokens. */
  private val allToksSql =
    "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> len(t) > 0)"
  /** Coalesced all-token count (DuckDB) — the NULL-text-safe twin of
    * size(coalesce(allTokens(text), array())); ONE definition shared
    * by the q224/q228 keep signals (r18 review: the inline copy was
    * the drift class the Over-fragments exist to eliminate). */
  private val coalescedTokenCountSql =
    "CAST(len(list_filter(string_split_regex(lower(coalesce(text, " +
      "'')), '[^a-z0-9]+'), t -> len(t) > 0)) AS BIGINT)"
  /** Raw whitespace words (DuckDB) — twin of QualityFilters.rawWords
    * (same explicit RE2-safe whitespace class, same NULL coalesce). */
  private val rawWordsSql =
    "list_filter(string_split_regex(coalesce(text, ''), '[ \\t\\n\\f\\r]+'), x -> x <> '')"
  /** Distinct 3-gram shingles (DuckDB) — twin of TextFunctions.shingles. */
  private val shinglesSql =
    s"list_distinct(list_transform(generate_series(1, greatest(len($toksSql) - 2, 0)), i -> concat_ws(' ', $toksSql[i], $toksSql[i+1], $toksSql[i+2])))"

  /** DuckDB twin of [[nullTextCorpus]] as an inline derived table —
    * usable wherever a fragment takes a `from` (no CTE-chain
    * surgery). The four degeneracy arms must stay byte-aligned with
    * the Spark `when` chain. */
  private val nullTextFromSql: String =
    "(SELECT doc_id, lang, CASE WHEN doc_id % 11 = 0 THEN NULL " +
      "WHEN doc_id % 11 = 1 THEN '' " +
      "WHEN doc_id % 11 = 2 THEN ' ' || chr(9) || chr(10) || ' ' " +
      "WHEN doc_id % 11 = 3 THEN 'of the and' " +
      "ELSE text END AS text FROM documents)"

  /** DuckDB twin of [[paragraphLayout]] — the q232/q233/q234
    * synthesized paragraph layout as a selectable body over
    * `documents`. */
  private val paragraphLayoutSql: String =
    """SELECT doc_id,
      |  'Shared header ' || (doc_id % 7) || ' about the corpus.' ||
      |  chr(10) || chr(10) || text ||
      |  chr(10) || chr(10) || '   ' || chr(10) || chr(10) ||
      |  CASE WHEN doc_id % 3 = 0
      |    THEN 'Legal notice: all rights reserved.'
      |    ELSE 'unique tail ' || doc_id END AS text
      |  FROM documents""".stripMargin

  /** DuckDB twin of Dedup.removeSharedSpans — the ExactSubstr
    * keep-first law; shared verbatim by q200 (one-shot) and q235
    * (merged owners), so the q235 gate IS merge-equals-one-shot. */
  private def removeSpansOracleSql: String =
    s"""WITH t AS (SELECT doc_id, $allToksSql AS ws FROM documents),
         |g AS (SELECT doc_id,
         |  unnest(generate_series(0, len(ws) - 8)) AS pos0,
         |  unnest(list_transform(generate_series(0, len(ws) - 8),
         |    i -> array_to_string(ws[i+1:i+8], ' '))) AS gram
         |  FROM t),
         |o AS (SELECT gram, min(doc_id) AS owner FROM g GROUP BY gram),
         |cov AS (SELECT g.doc_id, list(DISTINCT pos0) AS starts
         |  FROM g JOIN o USING (gram) WHERE g.doc_id > o.owner
         |  GROUP BY g.doc_id),
         |r AS (SELECT t.doc_id, ws, coalesce(starts, []) AS starts
         |  FROM t LEFT JOIN cov USING (doc_id)),
         |k AS (SELECT doc_id, ws,
         |  list_filter(generate_series(0, len(ws) - 1),
         |    p -> len(list_filter(starts, s -> s <= p AND p < s + 8)) = 0) AS kept
         |  FROM r)
         |SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
         |  CAST(len(ws) - len(kept) AS BIGINT) AS n_dropped,
         |  coalesce(array_to_string(list_transform(kept, p -> ws[p+1]), ' '),
         |    '') AS clean_text
         |FROM k""".stripMargin

  /** The keep-first paragraph-dedup oracle over a (doc_id, text)
    * body `dBody` — ONE definition for q232/q233/q234 (twin of
    * Dedup.dedupParagraphsAcrossDocs; q234's merged-owner application
    * must equal this one-shot law, so it shares the body verbatim).
    * The keep arm carries the
    * explicit `doc_id IS NULL` clause (r19 advice — without it a
    * null-id doc's shared paragraphs read NULL keep: excluded from
    * clean_text AND uncounted in n_removed); the string_agg orders
    * by (pos, para) — within one doc pos is unique (q232 unchanged),
    * while q233's null-id group interleaves docs at equal pos and
    * needs the text tie-break the Spark face's struct sort applies. */
  private def paragraphDedupOracleSql(dBody: String): String =
    s"""WITH d AS ($dBody),
       |p AS (SELECT doc_id, generate_subscripts(parts, 1) AS pos,
       |  unnest(parts) AS para
       |  FROM (SELECT doc_id,
       |    string_split_regex(coalesce(text, ''), '\\n{2,}') AS parts
       |    FROM d)),
       |o AS (SELECT trim(para) AS key, min(doc_id) AS owner
       |  FROM p WHERE trim(para) <> '' GROUP BY trim(para)),
       |k AS (SELECT p.doc_id, p.pos, p.para,
       |  (trim(p.para) = '' OR p.doc_id IS NULL
       |    OR p.doc_id <= o.owner) AS keep
       |  FROM p LEFT JOIN o ON trim(p.para) = o.key)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_paragraphs,
       |  CAST(count(CASE WHEN NOT keep THEN 1 END) AS BIGINT)
       |    AS n_removed,
       |  coalesce(string_agg(CASE WHEN keep THEN para END,
       |    chr(10) || chr(10) ORDER BY pos, para), '') AS clean_text
       |FROM k GROUP BY doc_id""".stripMargin

  private val bm25QueryTerms = Seq("spark", "query", "filter", "join", "data")

  /** The artifact-memo key for a corpus: (session, sf directory). */
  private def corpusKey(s: SparkSession, dir: String): String =
    s"${s.sparkContext.applicationId}:$dir"

  /** Shared ingest-time artifacts for the documents corpus of `dir` —
    * built once per (session, corpus), reused by every lexical / dedup
    * query (the reference's precomputed bm25_statistics analogue). */
  private def docsBm25(s: SparkSession, dir: String): Search.Bm25Index =
    CorpusArtifacts.bm25Index(corpusKey(s, dir),
      t(s, dir, "documents"), "doc_id", "text")

  private def docsShingles(s: SparkSession, dir: String): DataFrame =
    CorpusArtifacts.shingleIndex(corpusKey(s, dir),
      t(s, dir, "documents"), "doc_id", "text", 3)

  /** The stored tokenization pass ((doc_id, dl, _toks) — the
    * reference's `bm25_tokens` column as a frame; built once by
    * buildAll, shared by the BM25/shingle builds and the MinHash
    * faces). */
  private def docsTokens(s: SparkSession, dir: String): DataFrame =
    CorpusArtifacts.tokens(corpusKey(s, dir),
      t(s, dir, "documents"), "doc_id", "text")

  /** The stored (doc_id, fingerprint) content-hash artifact (the
    * reference stores exactly this per row — built by buildAll,
    * read by q15 the way q17 reads the shingle index). */
  private def docsFingerprints(s: SparkSession, dir: String): DataFrame =
    CorpusArtifacts.fingerprints(corpusKey(s, dir),
      t(s, dir, "documents"), "doc_id", "text")

  /** BM25 scores of the canned query over the shared index. */
  private def bm25Scores(s: SparkSession, dir: String): DataFrame =
    Search.scoreWith(docsBm25(s, dir), bm25QueryTerms)

  /** Eagerly build every shared ingest artifact for `dir` (Bench's
    * explicit ingest phase; queries then run against warm artifacts).
    * buildAll derives both indexes from one tokenization pass. */
  def prepareArtifacts(s: SparkSession, dir: String): Unit = {
    CorpusArtifacts.buildAll(corpusKey(s, dir),
      t(s, dir, "documents"), "doc_id", "text", 3)
    // the round-17 bench cells' ingest-written artifacts (the NB
    // scored frame q215/q221 share, the decontaminated frame and the
    // clean-side NB scores q219 reads) — materialized here so the
    // card's warm cells measure query time, the ingest_artifacts prep
    // line carries the build, matching the BM25/shingle methodology.
    // Each build goes through the SAME accessor its queries use, so
    // key/argument drift between ingest and query is impossible.
    nbScoresEnZh(s, dir).count()
    decontaminatedMod5(s, dir).count()
    nbScoresClean(s, dir).count()
    // the near-dup component labels q176/q224/q226 share (the carded
    // q226 census reads these; the MinHash walk is ingest work)
    neardupComponentsOf(s, dir).count()
  }

  // ------------------------------------------------------------------
  // Query implementations
  // ------------------------------------------------------------------

  /** TPC-H Q1-shaped pricing summary (reference §2.7 aggregations). */
  private def q01(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .where(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        // Money columns are 2dp doubles: DECIMAL(_,2) is lossless and the
        // scaled sum stays < 2^53, so decimal->double is ONE identical
        // IEEE rounding in both Spark and DuckDB (DECIMAL output columns
        // themselves hash-mismatch in the driver's compare).
        expr("CAST(SUM(CAST(l_quantity AS DECIMAL(20,2))) AS DOUBLE)").as("sum_qty"),
        expr("CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,2))) AS DOUBLE)").as("sum_base_price"),
        expr("CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,2)) * (1 - CAST(l_discount AS DECIMAL(8,2)))) AS DOUBLE)").as("sum_disc_price"),
        expr("CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE) / COUNT(*) AS DOUBLE)").as("avg_qty"),
        count(lit(1)).as("count_order"))

  /** Top-k scan: orders by total price (sorts/limits, §2.7). */
  private def q02(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .limit(10)

  /** Revenue per nation: broadcast dim joins + agg (§2.7 joins).
    *
    * Orders pre-aggregate by customer BEFORE the join (r21, guide
    * §2.3 "aggregate before you shuffle"): the join then carries one
    * row per ordering customer instead of every order, each joined
    * row IS a distinct customer — `countDistinct` (and its Expand
    * double-shuffle) collapses to `count` — and the revenue stays an
    * exact two-level DECIMAL sum (associative), so the output is
    * bit-identical to the single-level form the oracle replays. */
  private def q03(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
    val nat = t(s, dir, "nation")
    val ord = t(s, dir, "orders")
    val perCust = ord.groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("_n_ord"),
        expr("SUM(CAST(o_totalprice AS DECIMAL(20,2)))").as("_rev"))
    perCust
      .join(cust, perCust("o_custkey") === cust("c_custkey"))
      .join(broadcast(nat), cust("c_nationkey") === nat("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        count(lit(1)).as("n_customers"),
        sum(col("_n_ord")).as("n_orders"),
        expr("CAST(SUM(_rev) AS DOUBLE)").as("revenue"))
  }

  /** Top-3 orders per customer — window ranking (§2.7 windows). */
  private def q04(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    t(s, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
  }

  /** Event stats by type (state/type counts, §2.7). */
  private def q05(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        expr("CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE)").as("sum_value"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))

  /** Tumbling 1-hour event windows (streaming-agg twin, §2.8). */
  private def q06(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        expr("CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE)").as("sum_value"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
        col("event_type"), col("n"), col("sum_value"))

  /** Exact latency-style percentiles (search perf stats, §2.6). */
  private def q07(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(
        round(expr("percentile(value, 0.5)"), 6).as("p50"),
        round(expr("percentile(value, 0.9)"), 6).as("p90"),
        round(expr("percentile(value, 0.99)"), 6).as("p99"))
      // the reference's sub-200ms latency-target flag
      // (search_service.py:569-597), as INT for oracle hash parity
      .withColumn("meets_target", (col("p99") < 200).cast("int"))

  /** Sessionization: 30-min inactivity gap per user (§2.8 tier). */
  private def q08(s: SparkSession, dir: String): DataFrame =
    Sessionize.sessions(t(s, dir, "events"), "user_id", "ts", "event_id", 30)

  /** BM25 tokenizer → term frequencies (two_tier_chunker.py:69-77):
    * the postings of the shared index, a projection of the stored
    * token frame. Reading them builds the index on first use — the
    * ingest step of the lexical pipeline; q23/q24/q39/q42/q49 score
    * against its persisted impact frame. */
  private def q09(s: SparkSession, dir: String): DataFrame =
    docsBm25(s, dir).idx

  /** Fixed-window chunking + deterministic chunk ids (chunker.py:92-113,
    * two_tier_chunker.py:377-389). */
  private def q10(s: SparkSession, dir: String): DataFrame =
    Chunker.fixed(t(s, dir, "documents"), "text", 200, 50)
      .select(col("doc_id"), col("chunk_index"),
        Chunker.chunkId(col("doc_id"), "fixed", col("chunk_index")).as("chunk_id"),
        col("chunk_text"))

  /** Sentence chunking with greedy packing (chunker.py:114-156). */
  private def q11(s: SparkSession, dir: String): DataFrame =
    Chunker.sentence(t(s, dir, "documents"), "text", 400)
      .select(col("doc_id"), col("chunk_index"), col("chunk_text"))

  /** Documents with the token array materialized once (cost note in
    * TextFunctions.shingles) and the stage spread across cores. */
  private def docsWithTokens(s: SparkSession, dir: String): DataFrame =
    Partitioning.spread(t(s, dir, "documents").select(col("doc_id"), col("text")))
      .withColumn("_toks", TextFunctions.allTokens(col("text")))

  /** Per-doc token statistics (token counting tier). */
  private def q12(s: SparkSession, dir: String): DataFrame = {
    val toks = col("_toks")
    docsWithTokens(s, dir).select(
      col("doc_id"),
      size(toks).as("n_tokens"),
      size(array_distinct(toks)).as("n_distinct"),
      when(size(toks) > 0,
        aggregate(toks, lit(0L), (a, x) => a + length(x)).cast("double")
          / size(toks).cast("double")).otherwise(lit(0.0)).as("mean_token_len"))
  }

  /** Quality scoring (length/stopword/token-shape heuristic). */
  private def q13(s: SparkSession, dir: String): DataFrame =
    docsWithTokens(s, dir).select(col("doc_id"),
      TextFunctions.qualityScoreOfTokens(col("_toks")).as("quality"))

  /** Language ID by marker-lexicon voting. */
  private def q14(s: SparkSession, dir: String): DataFrame =
    docsWithTokens(s, dir).select(col("doc_id"),
      TextFunctions.langIdOfTokens(col("_toks")).as("lang_pred"))

  /** Exact dedup on normalized-content fingerprint
    * (notion_connector.py:624-634 / row_indexer.rs:506-589) — over
    * the stored fingerprint artifact (r22; the reference's stored
    * content_hash column, same output as recomputing). */
  private def q15(s: SparkSession, dir: String): DataFrame =
    Dedup.exactFromFingerprints(docsFingerprints(s, dir), "doc_id")

  /** Shingle stats per doc (MinHash tier 0). */
  private def q16(s: SparkSession, dir: String): DataFrame =
    Partitioning.spread(t(s, dir, "documents").select(col("doc_id"), col("text")))
      .withColumn("_toks", TextFunctions.bm25Tokens(col("text")))
      .select(col("doc_id"),
        size(graft.functions.NativeText.shinglesOf(col("_toks"), 3)).as("n_shingles"))

  /** N-gram Jaccard near-dup pairs via the shared inverted shingle
    * index (ingest artifact — no per-query re-shingling). The pairs
    * are counted exactly by Dedup's posting-list kernel: per-shingle
    * lists are copied to the partitions owning their members and
    * counted in memory, so the Σdf² co-posting rows of an index
    * self-join are never materialised and a hot shingle's work
    * spreads over every partition (SCALING.md, the posting-list
    * kernel entry). A PPJoin prefix-filter variant measured ~8×
    * slower than the self-join at sf0.1 (SCALING.md round 11); the
    * df-capped variant remains the recall-trading scale path. */
  private def q17(s: SparkSession, dir: String): DataFrame =
    Dedup.jaccardPairsFromIndex(docsShingles(s, dir), "doc_id", 0.2)

  /** MinHash + LSH candidate pairs (16 hashes, 4 bands × 4 rows) —
    * signatures derive from the stored token artifact (r21; same
    * output, no per-query re-tokenization — the q17/q23 artifact
    * methodology). This is also the ONE definition of the candidate
    * graph the grouping gates (q176, q223) walk and the q225 audit
    * reads: q176/q223 sharing an oracle verbatim is only sound while
    * they walk the IDENTICAL graph (a parameter drifting in one would
    * break the equal-fixpoint claim silently). */
  private def q18(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashCandidatesFromTokens(docsTokens(s, dir), "doc_id", 3, 16, 4)

  /** 64-bit SimHash per document. */
  private def q19(s: SparkSession, dir: String): DataFrame =
    Partitioning.spread(t(s, dir, "documents").select(col("doc_id"), col("text")))
      .withColumn("_toks", TextFunctions.bm25Tokens(col("text")))
      .select(col("doc_id"),
        graft.functions.NativeText.simhashOf(col("_toks")).as("simhash"))

  /** Embedding-cosine near-dup pairs (exact baseline). */
  private def q20(s: SparkSession, dir: String): DataFrame =
    Dedup.embeddingNearDup(t(s, dir, "embeddings"), "vec_id", "embedding", 0.4)

  /** Brute-force cosine top-k ANN (search_service.py:56-117 shape):
    * query = embedding of vec_id 0, scored over the rest. */
  private def q21(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val q = emb.where(col("vec_id") === 0)
      .select(col("embedding").as("qvec"))
    emb.where(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .withColumn("score", VectorFunctions.cosine(col("embedding"), col("qvec")))
      .orderBy(col("score").desc, col("vec_id").asc)
      .select(col("vec_id"), round(col("score"), 6).as("score"))
      .limit(10)
  }

  /** Distributed kNN join: 10 probe vectors × corpus, top-3 each. */
  private def q22(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    SimilaritySearch.knnJoin(
      emb.where(col("vec_id") < 10), "vec_id", "embedding",
      emb, "vec_id", "embedding", 3)
  }

  /** BM25 search: fixed query, top-20 (search_service.py:287-368). */
  private def q23(s: SparkSession, dir: String): DataFrame =
    bm25Scores(s, dir)
      .orderBy(col("score").desc, col("doc_id").asc)
      .select(col("doc_id"), round(col("score"), 6).as("score"))
      .limit(20)

  /** Hybrid search: BM25 ⊕ vector via RRF k=60
    * (search_service.py:370-423). Doc i's embedding = vec_id i. */
  private def q24(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val lex = bm25Scores(s, dir)
    val q = emb.where(col("vec_id") === 0).select(col("embedding").as("qvec"))
    val vec = emb.crossJoin(broadcast(q))
      .select(col("vec_id").as("doc_id"),
        VectorFunctions.cosine(col("embedding"), col("qvec")).as("score"))
    Search.rrf(Seq(lex, vec), "doc_id", "score", 60, 10)
  }

  /** 2-hop graph traversal via joins (neo4j_service.py:429-489 shape):
    * region ←1-hop→ nation ←2-hop→ customer. */
  private def q25(s: SparkSession, dir: String): DataFrame = {
    val reg = t(s, dir, "region")
    val nat = t(s, dir, "nation")
    val cust = t(s, dir, "customer")
    cust
      .join(broadcast(nat), cust("c_nationkey") === nat("n_nationkey"))
      .join(broadcast(reg), nat("n_regionkey") === reg("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(countDistinct(col("n_nationkey")).as("n_nations"),
        count(lit(1)).as("n_customers"),
        expr("CAST(SUM(CAST(c_acctbal AS DECIMAL(20,2))) AS DOUBLE)").as("sum_acctbal"))
  }

  /** Scale-safe embedding near-dup: banded hyperplane-LSH candidates
    * (3 bits × 12 bands) → exact cosine verify on candidates only.
    * Same contract as q20's exact baseline, non-cartesian plan. */
  private def q72(s: SparkSession, dir: String): DataFrame =
    Dedup.embeddingNearDupLsh(t(s, dir, "embeddings"), "vec_id", "embedding",
      64, 0.4, 3, 12)

  /** Random-hyperplane LSH bucket candidates over embeddings
    * (ANN scale path). */
  private def q26(s: SparkSession, dir: String): DataFrame =
    SimilaritySearch.lshCosineCandidates(
      t(s, dir, "embeddings"), "vec_id", "embedding", 64, 6)

  /** Raw entity type derived from a part name — mixed-case on purpose
    * so q27 exercises the normalize/synonym/whitelist chain. */
  private def rawPartType: Column =
    when(col("p_name").rlike("widget|gizmo"), lit("Prod"))
      .otherwise(lit("component"))

  /** Entity normalization: name cleanup + type synonym/whitelist
    * (entity_extraction_runner_v2.py:649-792). */
  private def q27(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part").select(
      col("p_partkey"),
      Entities.normalizeName(col("p_name")).as("canonical_name"),
      Entities.normalizeType(rawPartType).as("entity_type"))

  /** Canonicalization: unique entities by (name, type) with member
    * counts (entity_extraction_flow_v2.py:63-75). */
  private def q28(s: SparkSession, dir: String): DataFrame =
    Entities.canonicalize(
      t(s, dir, "part").withColumn("etype", Entities.normalizeType(rawPartType)),
      "p_partkey", "p_name", "etype")

  /** Fuzzy entity dedup candidates: prefix blocking + normalized
    * Levenshtein similarity (entity_deduplication.py:110-162). */
  private def q29(s: SparkSession, dir: String): DataFrame =
    Entities.fuzzyPairs(
      t(s, dir, "part").select(Entities.normalizeName(col("p_name")).as("name")),
      "name", 0.5)

  /** Fuzzy dedup with the FULL reference tier stack (q29 carries the
    * Levenshtein tier alone): plural 0.98, abbreviation 0.95, variant
    * 0.9, substring 0.85 floors over the blocked pairs
    * (entity_deduplication.py:87-162). */
  private def q73(s: SparkSession, dir: String): DataFrame =
    Entities.fuzzyPairsTiered(
      t(s, dir, "part").select(col("p_name").as("name")), "name", 0.5)

  /** Entity co-occurrence edges: part names sharing an order
    * (relationship_extractor.py:147-218 rule tier), routed through the
    * CAPPED path — each document pairs only its `coocCap`
    * most-mentioned entities, bounding per-doc fan-out at cap²/2 (the
    * 100 TB guard: one 10k-entity doc would otherwise emit 50M pairs).
    * The uncapped [[Entities.cooccurrence]] stays spec-covered only. */
  private def q30(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val part = t(s, dir, "part")
    val mentions = li.join(part, li("l_partkey") === part("p_partkey"))
      .select(col("l_orderkey").as("doc"), col("p_name").as("entity"))
    Entities.cooccurrenceCapped(mentions, "doc", "entity", coocCap)
  }

  /** Per-document entity cap for the q30 co-occurrence gate — TPC-H
    * orders carry up to 7 lineitems, so 5 genuinely truncates some
    * documents (the oracle mirrors the same top-5-by-tf rule). */
  private val coocCap = 5

  /** 2-hop graph traversal over the co-occurrence graph
    * (neo4j_service.py:429-489 shape): per-entity 1-hop and 2-hop
    * neighbor counts. */
  private def q31(s: SparkSession, dir: String): DataFrame = {
    // scale-invariant edge selection: each node keeps its top-3
    // co-occurrence partners (a fixed count threshold degenerates as
    // corpus co-occurrence counts grow with SF)
    val cooc = q30(s, dir)
    val directed = cooc.select(col("entity_a").as("u"), col("entity_b").as("v"), col("n_docs"))
      .unionByName(cooc.select(col("entity_b").as("u"), col("entity_a").as("v"), col("n_docs")))
    val w = Window.partitionBy(col("u")).orderBy(col("n_docs").desc, col("v").asc)
    val edges = directed.withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= 3)
      .select(least(col("u"), col("v")).as("entity_a"),
        greatest(col("u"), col("v")).as("entity_b"))
      .distinct()
    Entities.nHop(edges, "entity_a", "entity_b", 2)
      .groupBy(col("src").as("entity"))
      .agg(count(when(col("hops") === 1, 1)).as("n_1hop"),
        count(when(col("hops") === 2, 1)).as("n_2hop"))
  }

  /** Relationship validation against the type taxonomy + UNIQUE
    * (source, target, type) dedup keeping max confidence
    * (relationships.py:213-218, relationship_extractor.py:533-556). */
  /** Deterministic entity-type vocabulary for the q32 census — spans
    * the 14-type taxonomy's endpoint lists incl. types that FAIL some
    * relationships, so validation filters real rows. */
  private val q32Types = Seq("Component", "Product", "Document", "Feature",
    "System", "Issue", "Customer", "Software")

  /** Relationship validation over the FULL 14-type taxonomy
    * (relationships.py:11-198): co-occurrence edges typed and labeled
    * deterministically across all 14 labels (incl. the RELATES_TO Any
    * wildcard), endpoint-validated, deduped by max confidence. */
  private def q32(s: SparkSession, dir: String): DataFrame = {
    val typesArr = array(q32Types.map(lit): _*)
    val labelsArr = array(Entities.relTaxonomy.map(t => lit(t._1)): _*)
    val cooc = q30(s, dir)
    val rels = cooc.select(col("entity_a").as("src"), col("entity_b").as("tgt"),
        col("n_docs"))
      .unionByName(cooc.select(col("entity_b").as("src"), col("entity_a").as("tgt"),
        col("n_docs")))
      .withColumn("src_type",
        element_at(typesArr, (length(col("src")) % 8 + 1).cast("int")))
      .withColumn("tgt_type",
        element_at(typesArr, (length(col("tgt")) % 8 + 1).cast("int")))
      .withColumn("relationship_type", element_at(labelsArr,
        ((length(col("src")) * 7 + length(col("tgt")) * 13 + col("n_docs")) % 14 + 1)
          .cast("int")))
      .withColumn("conf", Entities.normalizeConfidence(col("n_docs")))
    Entities.validateRelationships(rels, "src_type", "relationship_type",
      "tgt_type", "src", "tgt", "conf")
  }

  /** Sessionization via flatMapGroupsWithState (custom stateful
    * operator, streaming-capable) — same oracle as q08. */
  private def q33(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StatefulSessionize.sessionsBatch(
      t(s, dir, "events"), "user_id", "ts", "event_id", 30)

  /** Two-tier chunking: page token-windows + child chunks with
    * deterministic parent/child ids (two_tier_chunker.py:46-557). */
  private def q34(s: SparkSession, dir: String): DataFrame =
    operators.TwoTier.chunk(t(s, dir, "documents"), "doc_id", "text", 100, 20, 25)
      .select(col("doc_id"), col("page_index"), col("child_index"),
        col("page_id"), col("chunk_id"), col("chunk_text"), col("n_tokens"))

  /** Contextual-retrieval pass through the LlmClient mapPartitions
    * plumbing (stub client — deterministic, oracle-checkable). */
  private def q35(s: SparkSession, dir: String): DataFrame =
    operators.TwoTier.withContext(
      operators.TwoTier.pages(t(s, dir, "documents"), "doc_id", "text", 100, 20),
      () => operators.StubLlm(8))
      .toDF()
      .select(col("doc_id"), col("page_index"), col("page_id"),
        col("contextual_summary"), col("contextualized_text"))

  /** Multimodal plumbing: binary payload column → once-per-partition
    * "decode+embed" (stubbed) → feature vector; output checkable
    * scalars (image_intelligence_service.py shape). */
  private def q36(s: SparkSession, dir: String): DataFrame = {
    val media = graft.multimodal.Multimodal.mediaFromText(
      t(s, dir, "documents"), "doc_id", "text", "image")
    graft.multimodal.Multimodal.extractFeatures(media, 16)
      .toDF()
      .select(col("media_id"), col("kind"), col("n_bytes"),
        element_at(col("features"), 1).cast("double").as("f0"),
        size(col("features")).as("dim"))
  }

  /** JSON property extraction over the events stream
    * (ParseJson tier, parse_json.rs:31-106). */
  private def q37(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))

  /** Metadata extraction: regex brand number + tag assembly with
    * dedup (metadata_extraction_service.py:22-185 shape). */
  private def q38(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part").select(
      col("p_partkey"),
      regexp_extract(col("p_brand"), "([0-9]+)", 1).cast("int").as("brand_num"),
      array_join(array_sort(array_distinct(
        concat(split(col("p_name"), " "), array(lower(col("p_type")))))), ",")
        .as("tags"))

  /** Legacy weighted merge: 0.7·vector + 0.3·normalized-BM25
    * (search_service.py:502-542). */
  private def q39(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val q = emb.where(col("vec_id") === 0).select(col("embedding").as("qvec"))
    val vec = emb.crossJoin(broadcast(q))
      .select(col("vec_id").as("doc_id"),
        VectorFunctions.cosine(col("embedding"), col("qvec")).as("score"))
    val lex = bm25Scores(s, dir)
    Search.weightedMerge(vec, lex, "doc_id", 0.7)
      .orderBy(col("blended").desc, col("doc_id").asc)
      .select(col("doc_id"), round(col("blended"), 6).as("blended"))
      .limit(10)
  }

  /** Multi-vector text/visual fusion: 0.6·text + 0.4·visual
    * (qdrant_service.py:306-389). */
  private def q40(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val q0 = emb.where(col("vec_id") === 0).select(col("embedding").as("qt"))
    val q1 = emb.where(col("vec_id") === 1).select(col("embedding").as("qv"))
    val scored = emb.crossJoin(broadcast(q0)).crossJoin(broadcast(q1))
      .select(col("vec_id"),
        VectorFunctions.cosine(col("embedding"), col("qt")).as("text_score"),
        VectorFunctions.cosine(col("embedding"), col("qv")).as("visual_score"))
    scored
      .withColumn("fused", Search.multiVectorFuse(scored, "text_score", "visual_score", 0.6))
      .orderBy(col("fused").desc, col("vec_id").asc)
      .select(col("vec_id"), round(col("fused"), 6).as("fused"))
      .limit(10)
  }

  /** Prefix suggestions (api/search.py:211-293). */
  private def q41(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part").select(col("p_name")).distinct()
      .where(col("p_name").startsWith("sm"))
      .orderBy(col("p_name").asc)
      .limit(10)

  /** Rerank fallback: lexical-overlap boost over BM25 top-20
    * (search_service.py:544-567). */
  private def q42(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val top = bm25Scores(s, dir)
      .orderBy(col("score").desc, col("doc_id").asc).limit(20)
    val withToks = top.join(
      Partitioning.spread(docs.select(col("doc_id"), col("text")))
        .select(col("doc_id"), TextFunctions.bm25Tokens(col("text")).as("toks")),
      Seq("doc_id"))
    Search.rerankLexicalBoost(withToks, "doc_id", "score", "toks", bm25QueryTerms)
      .orderBy(col("boosted").desc, col("doc_id").asc)
      .select(col("doc_id"), col("overlap"), round(col("boosted"), 6).as("boosted"))
      .limit(10)
  }

  /** Text embedding through the batched Embedder boundary (stub
    * hash-projection — embed_text.rs / embedding_service.py shape). */
  private def q43(s: SparkSession, dir: String): DataFrame = {
    val emb = operators.EmbedText.embed(
      t(s, dir, "documents"), "doc_id", "text", () => operators.StubEmbedder(8))
    emb.select(col("id").as("doc_id"),
      element_at(col("embedding"), 1).cast("double").as("e0"),
      VectorFunctions.l2Norm(col("embedding")).as("norm"))
  }

  /** Semantic chunking: stub-embedded pseudo-sentences, boundary at
    * cosine drop, then the merge-short-chunks pass — sub-15-token
    * chunks merge into their next neighbor when mean cross-chunk
    * cosine >= 0.8·threshold (semantic_chunker.py:61-264). */
  private def q44(s: SparkSession, dir: String): DataFrame =
    operators.SemanticChunker.chunks(
      t(s, dir, "documents"), "doc_id", "text",
      sentTokens = 10, () => operators.StubEmbedder(4), threshold = 0.85,
      minChunkSize = 15)

  /** Multi-collection fan-out: one query over three labeled
    * collections (search_service.py:207-237). */
  private def q45(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .where(instr(lower(col("text")), "small") > 0)
      .select(lit("documents").as("source"), col("doc_id").as("id"))
    val parts = t(s, dir, "part")
      .where(instr(lower(col("p_name")), "small") > 0)
      .select(lit("part").as("source"), col("p_partkey").as("id"))
    val supp = t(s, dir, "supplier")
      .where(instr(lower(col("s_name")), "small") > 0)
      .select(lit("supplier").as("source"), col("s_suppkey").as("id"))
    docs.unionByName(parts).unionByName(supp)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_hits"), min(col("id")).as("min_id"),
        max(col("id")).as("max_id"))
  }

  /** Duplicate grouping: connected components over fuzzy-pair edges
    * (entity_deduplication.py:274-369). */
  private def q46(s: SparkSession, dir: String): DataFrame = {
    val pairs = Entities.fuzzyPairs(
      t(s, dir, "part").select(Entities.normalizeName(col("p_name")).as("name")),
      "name", 0.5)
    operators.ConnectedComponents.run(pairs, "name_a", "name_b")
  }

  /** Duplicate-group merge in the gate (entity_deduplication.py:
    * 370-456): q46's connected components get a deterministic
    * confidence, then each group collapses to its highest-confidence
    * canonical with sorted aliases. */
  private def q79(s: SparkSession, dir: String): DataFrame = {
    val members = q46(s, dir).withColumn("confidence",
      (length(col("node")) % 7).cast("double") / 10 + 0.3)
    Entities.mergeDuplicateGroups(members, "comp", "node", "confidence")
  }

  /** Recursive structure-aware splitting with offset/line/column
    * fidelity (split_recursively.rs:22-1042, regex tier). */
  private def q47(s: SparkSession, dir: String): DataFrame =
    Partitioning.spread(t(s, dir, "documents").select(col("doc_id"), col("text")))
      .select(col("doc_id"), posexplode(
        graft.functions.RecursiveSplit.split_recursively(col("text"), 200, 50, 20))
        .as(Seq("chunk_index", "c")))
      .select(col("doc_id"), col("chunk_index"),
        col("c.start").as("start"), col("c.end").as("end"),
        col("c.line").as("start_line"), col("c.column").as("start_column"),
        col("c.text").as("chunk_text"))

  /** IVF-style ANN: probe the nearest label partitions by TRUE mean
    * centroid, then exact top-10 within probed partitions — the
    * partition-pruning scale path for vector search.
    *
    * Exactness: stub/testdata components are 24-bit dyadics, so double
    * sums are exact regardless of aggregation order — centroids are
    * engine-independent without decimal tricks. */
  private def q48(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val q = emb.where(col("vec_id") === 0).select(col("embedding").as("qvec"))
    val comps = emb.select(col("label"),
        posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy(col("label"), col("dim"))
      .agg(avg(col("v").cast("double")).as("c"))
    val cents = comps.groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("c")))),
        x => x.getField("c")).as("centroid"))
    val probed = cents.crossJoin(broadcast(q))
      .withColumn("rep_score", VectorFunctions.cosine(col("centroid"), col("qvec")))
      .orderBy(col("rep_score").desc, col("label").asc)
      .limit(4)
      .select(col("label"))
    emb.join(broadcast(probed), Seq("label"))
      .where(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .withColumn("score", VectorFunctions.cosine(col("embedding"), col("qvec")))
      .orderBy(col("score").desc, col("vec_id").asc)
      .select(col("vec_id"), col("label"), round(col("score"), 6).as("score"))
      .limit(10)
  }

  /** Cross-encoder rerank of BM25 top-20 through the RerankClient
    * boundary (stub = query-term coverage; reranker_service.py:17-63). */
  private def q49(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val top = bm25Scores(s, dir)
      .orderBy(col("score").desc, col("doc_id").asc).limit(20)
      .join(docs.select(col("doc_id"), col("text")), Seq("doc_id"))
    operators.Rerank.rerank(top, "doc_id", "text",
        bm25QueryTerms.mkString(" "), () => operators.StubReranker())
      .toDF()
      .orderBy(col("rerank_score").desc, col("id").asc)
      .select(col("id").as("doc_id"), col("rerank_score"))
      .limit(10)
  }

  /** 116 chars → two 64-byte query patches (late-interaction query). */
  private val maxSimQueryText = "spark query filter join data " * 4

  /** ColPali-style late-interaction scoring (functions.py:236-298 +
    * qdrant multi-vector MaxSim): doc patch multi-vectors vs a query
    * multi-vector; score = Σ_q max_p ⟨q,p⟩; top-10. */
  private def q51(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Multimodal
    val media = Multimodal.mediaFromText(
      t(s, dir, "documents"), "doc_id", "text", "image")
    val mv = Multimodal.extractMultiVector(media, 4, 64)
    val qVecs = maxSimQueryText.getBytes("UTF-8").grouped(64)
      .map(p => Multimodal.decodeStub(p, 4)).toArray
    val score = udf(Multimodal.maxSim(qVecs) _)
    mv.select(col("media_id").as("doc_id"),
        size(col("patch_vectors")).as("n_patches"),
        score(col("patch_vectors")).as("raw"))
      .orderBy(col("raw").desc, col("doc_id").asc)
      .select(col("doc_id"), col("n_patches"), round(col("raw"), 6).as("maxsim"))
      .limit(10)
  }

  /** Semantic search composition (search_service.py:425-461):
    * context-prefixed query → vector top-(2·k) over-fetch → cross-
    * encoder rerank → top-k, rerank ties broken by vector score. */
  private def q52(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Multimodal
    val docs = t(s, dir, "documents")
    val ctxQuery = "context: " + bm25QueryTerms.mkString(" ")
    val qv = SimilaritySearch.vecLit(
      Multimodal.decodeStub(ctxQuery.getBytes("UTF-8"), 8).toIndexedSeq)
    val candidates = operators.EmbedText.embed(
        docs, "doc_id", "text", () => operators.StubEmbedder(8))
      .withColumn("vscore", VectorFunctions.cosine(col("embedding"), qv))
      .orderBy(col("vscore").desc, col("id").asc).limit(20)
      .join(docs.select(col("doc_id"), col("text")),
        col("id") === col("doc_id"))
    // vscore rides through the rerank boundary (r22): the old
    // rerank + join-back planned `candidates` twice, and with no
    // exchange between the embed mapPartitions and the top-20 cut,
    // exchange reuse could not dedup it — the corpus was stub-embedded
    // twice per run (StageProfile: taskSec 2.77 -> 1.02, jobs 8 -> 4,
    // tasks 72 -> 36). Same rows, same scores, oracle-checked.
    operators.Rerank.rerankWithScore(candidates, "id", "vscore", "text",
        ctxQuery, () => operators.StubReranker()).toDF()
      .orderBy(col("rerank_score").desc, col("vscore").desc, col("id").asc)
      .select(col("id").as("doc_id"), round(col("vscore"), 6).as("vscore"),
        col("rerank_score"))
      .limit(10)
  }

  /** Typed schema-constrained extraction through the LLM-client
    * boundary (extract_by_llm.rs:11-297; stub client). */
  private def q53(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    operators.ExtractByLlm.extract(
      t(s, dir, "documents"), "doc_id", "text",
      () => operators.ExtractByLlm.StubFactsExtractor()).toDF()
  }

  /** Notion-connector page assembly (notion_connector.py:220-340,
    * 624-634): typed blocks (heading/paragraph/bullet/quote/table)
    * rendered to markdown + content hash for change detection. Blocks
    * here are synthesized deterministically from the document text —
    * the rendering and hashing are the operator under test. */
  private def q54(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.NotionBlocks
    val cellsT = "array<array<string>>"
    def blk(tpe: String, text: Column, level: Column, cells: Column) =
      struct(lit(tpe).as("block_type"), text.as("text"),
        level.as("level"), cells.as("cells"))
    val noCells = lit(null).cast(cellsT)
    val noLevel = lit(null).cast("int")
    val words = split(col("text"), "\\s+")
    val first3 = array_join(slice(words, 1, 3), " ")
    val blocksJson = to_json(array(
      blk("heading", first3, lit(2), noCells),
      blk("paragraph", col("text"), noLevel, noCells),
      blk("bulleted_list_item", first3, noLevel, noCells),
      blk("quote", element_at(words, 1), noLevel, noCells),
      blk("table", lit(null).cast("string"), noLevel, array(
        array(lit("doc"), col("doc_id").cast("string")),
        array(lit("chars"), length(col("text")).cast("string"))))))
    t(s, dir, "documents")
      .select(col("doc_id"),
        NotionBlocks.blocksToMarkdown(blocksJson).as("markdown"))
      .select(col("doc_id"), col("markdown"),
        NotionBlocks.contentHash(col("markdown")).as("content_hash"))
  }

  /** Semantic focus: short topic label per page chunk through the LLM
    * boundary (two_tier_chunker.py:357-376; stub client). */
  private def q55(s: SparkSession, dir: String): DataFrame =
    operators.TwoTier.withFocus(
      operators.TwoTier.pages(t(s, dir, "documents"), "doc_id", "text", 100, 20),
      () => operators.StubLlm(4))
      .toDF()
      .select(col("doc_id"), col("page_index"), col("page_id"),
        col("semantic_focus"))

  /** Canonical entity descriptions through the LLM boundary
    * (canonical_description_service.py; stub client). */
  private def q56(s: SparkSession, dir: String): DataFrame = {
    val canonical = Entities.canonicalize(
      t(s, dir, "part").withColumn("etype", Entities.normalizeType(rawPartType)),
      "p_partkey", "p_name", "etype")
    Entities.canonicalDescriptions(canonical, "canonical_name", "entity_type",
      () => operators.StubLlm(8))
  }

  /** Graph search (search_service.py:119-179 + neo4j_service.py:490):
    * name-CONTAINS match over the entity graph, connected entities
    * collected per hit. */
  private def q57(s: SparkSession, dir: String): DataFrame = {
    val cooc = q30(s, dir)
    val directed = cooc.select(col("entity_a").as("entity"), col("entity_b").as("neighbor"))
      .unionByName(cooc.select(col("entity_b").as("entity"), col("entity_a").as("neighbor")))
    directed
      .where(instr(col("entity"), "bolt") > 0)
      .groupBy(col("entity"))
      .agg(count(lit(1)).as("n_connected"),
        array_join(array_sort(collect_list(col("neighbor"))), "|").as("connected"))
  }

  /** RAG retrieval assembly (api/query.py:60-171): metadata filter →
    * vector top-5 → one prompt-context row with `[doc:ID]` citations. */
  private def q58(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").where(col("lang") === "en")
    val emb = t(s, dir, "embeddings")
    val q = emb.where(col("vec_id") === 0).select(col("embedding").as("qvec"))
    val top = docs
      .join(emb, docs("doc_id") === emb("vec_id"))
      .crossJoin(broadcast(q))
      .withColumn("score", VectorFunctions.cosine(col("embedding"), col("qvec")))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(5)
      .select(col("doc_id"), col("text"), col("score"))
    // deterministic citation order without a second sort: sort the
    // collected structs by (-score, doc_id)
    top.agg(
        count(lit(1)).as("n_docs"),
        sum(length(col("text"))).as("n_chars"),
        array_join(transform(
          array_sort(collect_list(struct((-col("score")).as("ns"),
            col("doc_id").as("id"), col("text").as("tx")))),
          e => concat(lit("[doc:"), e.getField("id").cast("string"), lit("] "),
            substring(e.getField("tx"), 1, 120))), "\n\n").as("context"))
  }

  /** Metadata-filtered vector search (qdrant MatchValue/MatchAny
    * filters, qdrant_service.py:235-302 + api/query.py:38-47):
    * lang equality + source set membership through the typed
    * Filters model, then cosine top-10. */
  private def q59(s: SparkSession, dir: String): DataFrame = {
    import operators.Filters
    val docs = Filters(t(s, dir, "documents"), Seq(
      Filters.MatchValue("lang", "en"),
      Filters.MatchAny("source", Seq("src1", "src2", "src3"))))
    val emb = t(s, dir, "embeddings")
    val q = emb.where(col("vec_id") === 0).select(col("embedding").as("qvec"))
    docs.join(emb, docs("doc_id") === emb("vec_id"))
      .crossJoin(broadcast(q))
      .withColumn("score", VectorFunctions.cosine(col("embedding"), col("qvec")))
      .orderBy(col("score").desc, col("doc_id").asc)
      .select(col("doc_id"), col("source"), round(col("score"), 6).as("score"))
      .limit(10)
  }

  /** Property-graph export through the real sink (publish_approved_
    * document → Neo4j path, document_tasks.py:1597-1737): full nodes
    * for one entity type, co-occurrence rels, rel-implied endpoint
    * stubs; the checked output is the resulting graph census. */
  private def q60(s: SparkSession, dir: String): DataFrame = {
    import graft.sinks.PropertyGraph
    val tmp = java.nio.file.Files.createTempDirectory("q60graph").toString + "/g"
    val full = PropertyGraph.nodeRows(
      t(s, dir, "part").where(col("p_name").rlike("widget|gizmo")),
      "Entity", Seq("p_name"), Seq("p_type"))
    val rels = PropertyGraph.relRows(
      q30(s, dir).select(col("entity_a"), col("entity_b")),
      "CO_OCCURS", "Entity", Seq("entity_a"), "Entity", Seq("entity_b"))
    PropertyGraph.upsert(s, tmp, full, rels)
    val nodes = PropertyGraph.nodes(s, tmp).get
    val relCount = PropertyGraph.rels(s, tmp).get
      .agg(count(lit(1)).as("n_rels"))
    nodes.agg(
        sum(when(!col("stub"), 1L).otherwise(0L)).as("n_full"),
        sum(when(col("stub"), 1L).otherwise(0L)).as("n_stub"))
      .crossJoin(broadcast(relCount))
  }

  /** Winnowing document fingerprints (MOSS rolling-hash scheme; the
    * scale tier of content fingerprinting above q15's exact md5):
    * k=8 char grams, window w=4, distinct sorted minima per doc. */
  private def q61(s: SparkSession, dir: String): DataFrame = {
    val fps = graft.functions.NativeText.winnowOf(col("text"), 8, 4)
    Partitioning.spread(
        t(s, dir, "documents").where(length(col("text")) >= 8))
      .withColumn("_fps", fps)
      .select(col("doc_id"), size(col("_fps")).as("n_fp"),
        md5(array_join(transform(col("_fps"), x => x.cast("string")), "|"))
          .as("fp_digest"))
  }

  /** Ingestion-pipeline composition (the reference's Celery chain
    * parse → chunk → embed → extract_entities → finalize,
    * document_tasks.py:168-174): per document, two-tier chunk counts,
    * summed stub-embedding first components over chunks, and rare-token
    * mention counts — the per-doc "processing finished" census. */
  private def q62(s: SparkSession, dir: String): DataFrame = {
    // the chain starts at the Parse boundary (the reference front door,
    // document_tasks.py:290-304): every doc passes the llamaparse route
    // through the client (stub = markdown passthrough, so the downstream
    // census is unchanged and stays oracle-checkable)
    val raw = t(s, dir, "documents")
    val parsed = operators.Parse.parse(
      raw.select(col("doc_id"),
        concat(lit("doc_"), col("doc_id"), lit(".pdf")).as("name"),
        concat(lit("s3://corpus/"), col("doc_id")).as("url"),
        col("text").as("content"),
        lit(operators.Parse.TierBalanced).as("tier")),
      "doc_id", "name", "url", "content", "tier",
      () => operators.StubParserClient())
    val docs = parsed.select(col("id").as("doc_id"),
      col("parsed_text").as("text"))
    val chunks = operators.TwoTier.chunk(docs, "doc_id", "text", 100, 20, 25)
    // stub-embed component 0 of each chunk text (exact dyadic — sums
    // are order-independent); the Embedder boundary itself is q43
    val e0 = expr(
      "CAST(CONV(SUBSTRING(md5(CONCAT(chunk_text, CHAR(48))), 1, 6), 16, 10) AS DOUBLE) / 16777216.0")
    val chunkAgg = chunks
      .withColumn("_e0", e0)
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("page_index")).as("n_pages"),
        count(lit(1)).as("n_chunks"),
        sum(col("_e0")).as("sum_e0"))
    val mentions = Entities.extractMentions(docs, "doc_id", "text", 2)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_mentions"))
    chunkAgg.join(mentions, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_pages"), col("n_chunks"), col("sum_e0"),
        coalesce(col("n_mentions"), lit(0L)).as("n_mentions"))
  }

  /** Incremental-diff semantics in the gate (§2.8, row_indexer.rs:
    * 110-178 + 506-589): a synthetic tracking state derived from the
    * corpus puts every branch on display — new keys and changed
    * content evaluate, ordinal-only rows skip, stale writes drop,
    * vanished keys delete. Output: the delta census. */
  private def q63(s: SparkSession, dir: String): DataFrame = {
    import graft.incremental.Incremental
    val docs = t(s, dir, "documents")
    val m4 = col("doc_id") % 4
    val m8 = col("doc_id") % 8
    val src = docs.select(
      col("doc_id").cast("string").as("source_key"),
      col("n_chars").cast("long").as("ordinal"),
      md5(col("text")).as("content_hash"))
    val tracked = docs.where(m4 =!= 3).select(
        col("doc_id").cast("string").as("source_key"),
        when(m4 === 1, col("n_chars") - 1)
          .when(m8 === 2, col("n_chars") + 1)
          .otherwise(col("n_chars")).cast("long").as("ordinal"),
        when(m8 === 2 || m8 === 6, lit("stale-hash"))
          .otherwise(md5(col("text"))).as("content_hash"),
        lit("fp1").as("logic_fp"),
        array(col("doc_id").cast("string")).as("target_keys"))
      .unionByName(s.range(1, 6).select(
        concat(lit("gone:"), col("id")).as("source_key"),
        lit(0L).as("ordinal"), lit("x").as("content_hash"),
        lit("fp1").as("logic_fp"),
        array(lit("gone")).as("target_keys")))
    val d = Incremental.diff(src, tracked, "fp1")
    d.toEvaluate.agg(count(lit(1)).as("n_evaluate"))
      .crossJoin(d.ordinalOnly.agg(count(lit(1)).as("n_ordinal_only")))
      .crossJoin(d.toDelete.agg(count(lit(1)).as("n_delete")))
  }

  /** Document state machine in the gate (document_state.py:11-54 +
    * state_manager.py:139-213): deterministic current states and
    * transition requests derived from the corpus; guarded bulk apply;
    * census of before/after/rejected per state. */
  private def q64(s: SparkSession, dir: String): DataFrame = {
    import operators.StateMachine
    val docs = t(s, dir, "documents")
    val stArr = array(StateMachine.states.map(lit): _*)
    val cur = docs.select(col("doc_id").as("id"),
      element_at(stArr, (col("doc_id") % 7 + 1).cast("int")).as("status"))
    val req = docs.select(col("doc_id").as("id"),
      element_at(stArr, (col("doc_id") % 5 + 1).cast("int")).as("to_status"))
    val r = StateMachine.applyTransitions(cur, req)
    val before = cur.groupBy(col("status")).agg(count(lit(1)).as("n_before"))
    val after = r.updated.groupBy(col("status")).agg(count(lit(1)).as("n_after"))
    val rejected = r.rejectedRequests
      .groupBy(col("from_status").as("status"))
      .agg(count(lit(1)).as("n_rejected"))
    before.join(after, Seq("status"), "full_outer")
      .join(rejected, Seq("status"), "full_outer")
      .select(col("status"),
        coalesce(col("n_before"), lit(0L)).as("n_before"),
        coalesce(col("n_after"), lit(0L)).as("n_after"),
        coalesce(col("n_rejected"), lit(0L)).as("n_rejected"))
  }

  /** Entity suggester (api/search.py:211-293, entity tier next to
    * q41's prefix tier): canonical entities whose name starts with the
    * prefix, ranked by mention count. */
  private def q65(s: SparkSession, dir: String): DataFrame =
    Entities.canonicalize(
        t(s, dir, "part").withColumn("etype", Entities.normalizeType(rawPartType)),
        "p_partkey", "p_name", "etype")
      .where(col("canonical_name").startsWith("s"))
      .orderBy(col("n_mentions").desc, col("canonical_name").asc)
      .select(col("canonical_name"), col("entity_type"), col("n_mentions"))
      .limit(10)

  /** BPE-ish token counting (training-data tier next to q12's
    * whitespace counts): GPT-style pre-tokenizer units (letter runs,
    * digit runs, punctuation runs — RE2-safe, identical in both
    * engines), then fixed-width subword pieces of ≤4 chars per unit
    * (the closed-form stand-in for a merge-table BPE). */
  private def q66(s: SparkSession, dir: String): DataFrame = {
    val units = expr("regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\\\s]+', 0)")
    Partitioning.spread(t(s, dir, "documents").select(col("doc_id"), col("text")))
      .withColumn("_units", units)
      .select(col("doc_id"),
        size(col("_units")).as("n_units"),
        aggregate(col("_units"), lit(0L),
          (acc, u) => acc + ceil(length(u).cast("double") / 4.0).cast("long"))
          .as("n_subwords"),
        when(size(col("_units")) > 0,
          aggregate(col("_units"), lit(0L), (acc, u) => acc + length(u))
            .cast("double") / size(col("_units")).cast("double"))
          .otherwise(lit(0.0)).as("mean_unit_len"))
  }

  /** Multimodal frame sampling (video-tier plumbing): overlapping
    * fixed-stride payload windows, per-frame stub features. */
  private def q67(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Multimodal
    val media = Multimodal.mediaFromText(
      t(s, dir, "documents"), "doc_id", "text", "video")
    Multimodal.sampleFrames(media, 64, 48, 4)
      .toDF()
      .select(col("media_id"), col("frame_index"), col("offset"),
        col("n_bytes"),
        element_at(col("features"), 1).cast("double").as("f0"))
  }

  /** Audio tier in the gate: time-windowed PCM segmentation (8 kHz
    * u8 stand-in → 8 ms windows, 6 ms hop = the q67 byte geometry) —
    * segment times, sizes, and the stub-decode first component are
    * value-checked; rms is spec territory (SQL can't do byte math). */
  private def q78(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Multimodal
    val media = Multimodal.mediaFromText(
      t(s, dir, "documents"), "doc_id", "text", "audio")
    Multimodal.segmentAudio(media, 8000, 1, 8, 6, 4)
      .toDF()
      .select(col("media_id"), col("segment_index"),
        col("start_ms"), col("end_ms"), col("n_bytes"),
        element_at(col("features"), 1).cast("double").as("f0"))
  }

  /** Bloom semi-join prefilter census (§2.9 UDAF tier #2): per event
    * type, aggregate user ids into a mergeable Bloom bit set, then
    * probe with a disjoint synthetic key set — bits set and false
    * positives are value-checked (deterministic md5 positions make
    * membership engine-reproducible). The production shape: broadcast
    * the one-row-per-group bit sets, prune the big side map-side
    * before any join. */
  private def q80(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.Sketch
    val (m, k) = (4096, 3)
    val blooms = t(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(Sketch.bloomBits(col("user_id").cast("string"), m, k).as("bits"))
    val probes = (1 to 200)
      .map(i => (s"probe:$i", Sketch.bloomPositions(s"probe:$i", m, k)))
      .toDF("probe", "pp")
    blooms.crossJoin(broadcast(probes))
      .withColumn("hit", forall(col("pp"), x => array_contains(col("bits"), x)))
      .groupBy(col("event_type"))
      .agg(max(size(col("bits"))).as("n_bits"),
        sum(when(col("hit"), 1L).otherwise(0L)).as("n_fp"))
  }

  /** As-of join (training-data point-in-time correctness): each click
    * enriched with the user's latest view at or before it. */
  private def q68(s: SparkSession, dir: String): DataFrame = {
    // events.ts is TIMESTAMP_NTZ in the parquet; unix_micros needs LTZ.
    val ev = t(s, dir, "events")
      .withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
    val clicks = ev.where(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts_us"))
    val dedupe = Window.partitionBy(col("user_id"), col("ts_us"))
      .orderBy(col("view_event_id").desc)
    val views = ev.where(col("event_type") === "view")
      .select(col("user_id"), col("ts_us"),
        col("event_id").as("view_event_id"), col("value").as("view_value"))
      .withColumn("_rn", row_number().over(dedupe))
      .where(col("_rn") === 1).drop("_rn")
    operators.AsOfJoin.asOf(clicks, views, "user_id", "ts_us", "ts_us",
        Seq("view_event_id", "view_value"))
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("asof_ts_us").as("view_ts_us"),
        col("asof_view_event_id").as("view_event_id"),
        col("asof_view_value").as("view_value"))
  }

  /** Range join: events banded into overlapping value intervals via
    * the bucketed interval join (equi-join on domain buckets +
    * residual filter — never a nested-loop range join). */
  private def q69(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("value"))
    val bands = t(s, dir, "nation").select(
      col("n_nationkey").as("band"),
      (col("n_nationkey").cast("double") * 18.0).as("lo"),
      (col("n_nationkey").cast("double") * 18.0 + 25.0).as("hi"))
    operators.RangeJoin.intervalJoin(ev, "value", bands, "lo", "hi", 25.0)
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))
  }

  /** KMV distinct-count sketch vs exact (custom mergeable Aggregator,
    * §2.9): per-event-type distinct-user estimate, k=64. */
  private def q70(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(
        countDistinct(col("user_id")).as("n_exact"),
        graft.functions.Sketch.kmvDistinct(
          col("user_id").cast("string"), 64).as("kmv_estimate"))

  /** Parse boundary census (§2.5 Parse — the pipeline front door,
    * parser.py:18-244 + document_tasks.py:253-287): every routing
    * branch on display — inline fast path (doc_id%7==3 has no URL),
    * simple reader (.txt/.md names), LlamaParse tiers round-robin —
    * with content repeated up to 16× so the >1000/>5000 confidence
    * bumps and the agentic_plus 1.0 cap all fire. */
  private def q71(s: SparkSession, dir: String): DataFrame = {
    import operators.{Parse, StubParserClient}
    val docs = t(s, dir, "documents")
    val exts = array(lit(".txt"), lit(".md"), lit(".pdf"), lit(".docx"), lit(".html"))
    val tiers = array(lit(Parse.TierBalanced), lit(Parse.TierAgentic), lit(Parse.TierAgenticPlus))
    val src = docs.select(
      col("doc_id"),
      concat(lit("doc_"), col("doc_id"),
        element_at(exts, (col("doc_id") % 5 + 1).cast("int"))).as("name"),
      when(col("doc_id") % 7 === 3, lit(null).cast("string"))
        .otherwise(concat(lit("s3://corpus/"), col("doc_id"))).as("source_url"),
      expr("repeat(text, CAST(doc_id % 16 + 1 AS INT))").as("content"),
      element_at(tiers, (col("doc_id") % 3 + 1).cast("int")).as("tier"))
    Parse.parse(src, "doc_id", "name", "source_url", "content", "tier",
        () => StubParserClient())
      .select(col("id").as("doc_id"), col("parser"),
        coalesce(col("parse_tier"), lit("")).as("parse_tier"),
        col("parse_confidence"), col("parsed_text_length"))
  }

  /** Six-mime listing fixture vocabulary for the q74 census. */
  private val q74Mimes = Seq(
    "application/vnd.google-apps.document",
    "application/vnd.google-apps.spreadsheet",
    "application/vnd.google-apps.presentation",
    "application/pdf", "text/plain",
    "application/vnd.google-apps.drawing")

  /** GoogleDrive source semantics in the gate (§2.2,
    * google_drive.rs:22-232): export-type routing over a listing frame
    * derived from the corpus, the recent-updates poll filter, and the
    * 1s-buffered next-cutoff rule. (The recursive client walk itself —
    * pagination, trashed/dup skip — is GoogleDriveSpec's fixture
    * territory; this pins the frame-level semantics to the oracle.) */
  private def q74(s: SparkSession, dir: String): DataFrame = {
    import sources.GoogleDrive
    val docs = t(s, dir, "documents")
    val mimes = array(q74Mimes.map(lit): _*)
    val listing = docs.select(
        concat(lit("f"), col("doc_id")).as("file_id"),
        element_at(mimes, (col("doc_id") % 6 + 1).cast("int")).as("mime_type"),
        (col("n_chars") * 1000000L).as("ordinal"))
      .withColumn("export_mime", GoogleDrive.exportMimeFor(col("mime_type")))
    val base = listing.groupBy(col("export_mime"))
      .agg(count(lit(1)).as("n_files"))
    val ch = GoogleDrive.recentChanges(listing, 300000000L)
      .groupBy(col("export_mime")).agg(count(lit(1)).as("n_changed"))
    base.join(ch, Seq("export_mime"), "left")
      .crossJoin(GoogleDrive.nextCutoff(listing, 600000000L))
      .select(col("export_mime"), col("n_files"),
        coalesce(col("n_changed"), lit(0L)).as("n_changed"), col("new_cutoff"))
  }

  /** Security-level vocabulary for the q75 census ('unknown' exercises
    * the default-4 branch). */
  private val q75Levels = Seq("public", "client", "partner", "employee",
    "management", "unknown")

  /** Notion connector tier in the gate (§2.2,
    * notion_connector.py:635-708): security tagging + content-hash
    * change detection census. (The paginated block-fetch boundary is
    * NotionConnectorSpec fixture territory.) Stored hashes simulate a
    * previous scan: doc_id%3==0 never scanned (missing ⇒ changed),
    * odd doc_ids stored stale (changed), the rest current (skip). */
  private def q75(s: SparkSession, dir: String): DataFrame = {
    import sources.{NotionBlocks, NotionConnector}
    val docs = t(s, dir, "documents")
    val levels = array(q75Levels.map(lit): _*)
    val cur = docs.select(
        col("doc_id").as("page_id"),
        element_at(levels, (col("doc_id") % 6 + 1).cast("int")).as("security_level"),
        NotionBlocks.contentHash(col("text")).as("content_hash"))
      .withColumn("access_level",
        NotionConnector.accessLevelFor(col("security_level")))
    val stored = docs.where(col("doc_id") % 3 =!= 0).select(
      col("doc_id").as("page_id"),
      when(col("doc_id") % 2 === 0, md5(col("text")))
        .otherwise(lit("stale")).as("stored_hash"))
    val changes = NotionConnector.detectChanges(
      cur, "page_id", "content_hash", stored, "page_id", "stored_hash")
    val base = cur.groupBy(col("security_level"), col("access_level"))
      .agg(count(lit(1)).as("n_pages"))
    val ch = changes.groupBy(col("security_level"))
      .agg(count(lit(1)).as("n_changed"))
    base.join(ch, Seq("security_level"), "left")
      .select(col("security_level"), col("access_level"), col("n_pages"),
        coalesce(col("n_changed"), lit(0L)).as("n_changed"))
  }

  /** S3 event-queue change stream in the gate (§2.2,
    * amazon_s3.rs:180-300): synthesize S3 event-notification JSON
    * bodies from the corpus (round-robin event names, a wrong-bucket
    * slice, a wrong-prefix slice), run them through the REAL
    * notification parse + filter chain (from_json → explode → bucket/
    * prefix/event gates → url_decode), and census the surviving events.
    * The oracle recomputes the census directly from the synthesis
    * arithmetic, so any parse/filter drift fails the hash. (The queue
    * ack protocol and the re-fetch sync are S3EventQueueSpec fixture
    * territory.) */
  private def q81(s: SparkSession, dir: String): DataFrame = {
    import sources.S3EventQueue
    val docs = t(s, dir, "documents")
    val events = array(lit("ObjectCreated:Put"), lit("ObjectRemoved:Delete"),
      lit("ObjectCreated:Copy"), lit("ObjectAccessed:Get"))
    val src = docs.select(
      col("doc_id"),
      element_at(events, (col("doc_id") % 4 + 1).cast("int")).as("event"),
      when(col("doc_id") % 5 === 0, lit("other-bucket"))
        .otherwise(lit("corpus")).as("bucket"),
      concat(
        when(col("doc_id") % 7 === 2, lit("tmp/")).otherwise(lit("inbox/")),
        lit("doc"), col("doc_id"), lit(".txt")).as("key"))
    val bodies = src.select(to_json(struct(array(struct(
      col("event").as("eventName"),
      struct(
        struct(col("bucket").as("name")).as("bucket"),
        struct(col("key").as("key")).as("object")).as("s3"))).as("Records")))
      .as("body"))
    S3EventQueue.parseNotifications(bodies, "body", "corpus", Some("inbox/"))
      .groupBy(col("event_name"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("key")).as("n_keys"),
        min(col("key")).as("first_key"))
  }

  /** Chunk review tier in the gate (supabase_schema.sql:64-67
    * is_edited/original_text): fixed chunks, a deterministic edit set
    * (first chunk of every doc_id%4==1 document), Review.applyEdits,
    * then an edit census — edited chunks carry the new text AND the
    * preserved original. */
  private def q82(s: SparkSession, dir: String): DataFrame = {
    import operators.{Chunker, Review}
    val chunks = Chunker.fixed(t(s, dir, "documents"), "text", 200, 50)
      .select(col("doc_id"), col("chunk_index"), col("chunk_text"))
    val edits = chunks
      .where(col("chunk_index") === 0 && col("doc_id") % 4 === 1)
      .select(col("doc_id"), col("chunk_index"),
        concat(lit("EDITED: "), upper(substring(col("chunk_text"), 1, 40)))
          .as("edited_text"))
    Review.applyEdits(chunks, Seq("doc_id", "chunk_index"), "chunk_text",
        edits, "edited_text")
      .groupBy(col("is_edited"))
      .agg(count(lit(1)).as("n_chunks"),
        countDistinct(col("doc_id")).as("n_docs"),
        sum(length(col("chunk_text"))).cast("long").as("n_chars"),
        sum(coalesce(length(col("original_text")), lit(0))).cast("long")
          .as("n_original_chars"))
  }

  /** Document version chains in the gate (supabase_schema.sql:37-39
    * version/parent_document_id): chains of 4 synthesized by modular
    * arithmetic (roots at doc_id%4==0, each next id the revision of
    * the previous), resolved by Review.versionChains' iterated climb,
    * censused by (version, is_latest). The oracle computes the same
    * truth in closed form, so the join walk is checked end-to-end. */
  private def q83(s: SparkSession, dir: String): DataFrame = {
    import operators.Review
    val docs = t(s, dir, "documents").select(col("doc_id"),
      when(col("doc_id") % 4 =!= 0, col("doc_id") - 1)
        .otherwise(lit(null).cast("long")).as("parent_document_id"))
    Review.versionChains(docs, "doc_id", "parent_document_id")
      .groupBy(col("version"), col("is_latest"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("root_document_id")).as("n_roots"),
        min(col("doc_id")).as("min_doc"))
  }

  /** Multi-model comparison selection in the gate
    * (supabase_schema.sql:169-196 llm_comparisons): three stub model
    * outputs with md5-derived confidences per document,
    * Review.selectByConfidence picks the max-confidence model (ties:
    * name ascending), censused by (comparison_type, selected_model).
    * min/max of the selected confidence keep the aggregate order-free
    * (float-parity rules). */
  private def q84(s: SparkSession, dir: String): DataFrame = {
    import operators.Review
    val types = array(lit("metadata"), lit("entities"), lit("summary"), lit("keywords"))
    def confOf(model: String) =
      conv(substring(md5(concat(col("text"), lit(model))), 1, 6), 16, 10)
        .cast("double") / 16777216.0
    val cmp = t(s, dir, "documents").select(
      col("doc_id"),
      element_at(types, (col("doc_id") % 4 + 1).cast("int")).as("comparison_type"),
      concat(lit("claude: "), substring(col("text"), 1, 20)).as("claude_output"),
      confOf("claude").as("claude_confidence"),
      concat(lit("gemini: "), substring(col("text"), 1, 20)).as("gemini_output"),
      confOf("gemini").as("gemini_confidence"),
      concat(lit("gpt4: "), substring(col("text"), 1, 20)).as("gpt4_output"),
      confOf("gpt4").as("gpt4_confidence"))
    Review.selectByConfidence(cmp, Seq("claude", "gemini", "gpt4"))
      .groupBy(col("comparison_type"), col("selected_model"))
      .agg(count(lit(1)).as("n"),
        min(round(col("selected_confidence"), 6)).as("min_conf"),
        max(round(col("selected_confidence"), 6)).as("max_conf"))
  }

  /** Metadata tag merge in the gate
    * (metadata_extraction_service.py:88-117): part rows become
    * documents whose content carries a synthesized product code and a
    * component/issue phrase; "LLM" tags are shaped from part columns
    * (mixed case + padding to exercise normalization). The merge —
    * regex product models, component/issue scans, first-wins dedup,
    * taxonomy-class sort, cap 15 — is Metadata.mergeTags. The oracle
    * replays the same contract in DuckDB list lambdas; exact-distinct
    * stands in for first-wins dedup there because every colliding
    * pair in this data normalizes to the identical kept form. */
  private def q85(s: SparkSession, dir: String): DataFrame = {
    import operators.Metadata
    val part = t(s, dir, "part")
    val content = concat(
      col("p_name"), lit(" NC"),
      lpad((col("p_partkey") % 100).cast("string"), 4, "0"),
      when(col("p_size") > 25, lit(" screen flickering on the display panel"))
        .otherwise(lit(" battery drain after a charging issue")))
    val llm = array(lit(" Troubleshooting "),
      upper(substring(col("p_type"), 1, 5)), lit("Battery"))
    part.select(col("p_partkey"),
      array_join(Metadata.mergeTags(llm, content), ",").as("tags"))
  }

  /** Document-category taxonomy in the gate
    * (metadata_taxonomy.py:8-64): every document is assigned one of
    * the 20 categories (plus an out-of-taxonomy value on a sparse
    * residue to exercise the display-name fallback + validity check),
    * censused by (category, display_name, is_valid). */
  private def q86(s: SparkSession, dir: String): DataFrame = {
    import operators.Metadata
    val cats = array(Metadata.documentCategories.map(c => lit(c._1)): _*)
    t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 97 === 0, lit("legacy_spec"))
          .otherwise(element_at(cats, (col("doc_id") % 20 + 1).cast("int")))
          .as("category"))
      .select(col("category"),
        Metadata.categoryDisplayName(col("category")).as("display_name"),
        Metadata.isValidCategory(col("category")).as("is_valid"))
      .groupBy(col("category"), col("display_name"), col("is_valid"))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** Entity-quality validator in the gate (entity_quality.py:94-268):
    * ten fixture names chosen to hit every contract branch (acronym
    * short-circuit incl. "it"→"IT", verb/question phrases, the
    * generic-term-vs-domain-exception asymmetry where "process"
    * passes validity but takes the ×0.3 score penalty, pure numbers),
    * crossed with part-derived confidence / relationship counts /
    * types. Scores travel as micro-units (floor(score·1e6 + 0.5)) so
    * the sum is integer-exact; the oracle replays the closed-form
    * per-name factor chains in the same multiplication order. */
  private def q87(s: SparkSession, dir: String): DataFrame = {
    import operators.EntityQuality
    val names = array(Seq("API", "pump seal assembly", "was broken",
      "the main controller", "it", "what happened", "today", "process",
      "123", "NC2050 display panel").map(lit): _*)
    val types = array(Seq("component", "concept", "person", "other").map(lit): _*)
    t(s, dir, "part").select(
        element_at(names, (col("p_partkey") % 10 + 1).cast("int")).as("entity_name"),
        element_at(types, (col("p_partkey") % 4 + 1).cast("int")).as("entity_type"),
        ((col("p_partkey") % 100).cast("double") / 100.0).as("confidence"),
        (col("p_partkey") % 7).as("rel_count"))
      .withColumn("_sk", EntityQuality.shouldKeep(col("entity_name"),
        col("entity_type"), col("confidence"), col("rel_count")))
      .select(col("_sk.reason").as("reason"), col("_sk.keep").as("keep"),
        floor(col("_sk.quality_score") * 1000000.0 + 0.5).cast("long").as("m"))
      .groupBy(col("reason"), col("keep"))
      .agg(count(lit(1)).as("n"), sum(col("m")).as("sum_score_micro"))
  }

  /** Three-source hybrid in the gate (search_service.py:370-423):
    * the q24 RRF fusion UNLIMITED (the reference fuses every vec/bm25
    * id before ranking), then a deterministic graph stand-in whose
    * ids half-overlap the corpus — present ids keep their fused
    * entry (the anti-join skip), absent ids append with their raw
    * graph score, and the union re-ranks to 10. */
  private def q88(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val lex = bm25Scores(s, dir)
    val q = emb.where(col("vec_id") === 0).select(col("embedding").as("qvec"))
    val vec = emb.crossJoin(broadcast(q))
      .select(col("vec_id").as("doc_id"),
        VectorFunctions.cosine(col("embedding"), col("qvec")).as("score"))
    val fused = Search.rrfRaw(Seq(lex, vec), "doc_id", "score", 60)
      .select(col("doc_id"), round(col("rrf_raw"), 6).as("score"))
    // graph scores pre-round to 6 dp like the fused rrf values, so
    // both engines rank the union on identical doubles (an unrounded
    // graph score could tie a fused score only after rounding and
    // flip the cut at position 10)
    val graph = t(s, dir, "documents").where(col("doc_id") % 7 === 0)
      .select(explode(array(col("doc_id"), col("doc_id") + 1000000)).as("doc_id"))
      .select(col("doc_id"),
        round(lit(1.0) / (lit(10.0) + (col("doc_id") % 50).cast("double")), 6)
          .as("score"))
    Search.fuseWithGraph(fused, graph, "doc_id", "score", 10)
      .select(col("doc_id"), round(col("score"), 6).as("score"))
  }

  /** Incremental BM25 maintenance in the gate: sync the corpus into a
    * token-base artifact, then apply a second delta sync (docs on the
    * %10 residue get query terms appended; the %13 residue deletes —
    * only the delta re-tokenizes), and score through the maintained
    * index. The oracle computes BM25 directly over the FINAL corpus
    * state — equality proves the incremental path converges to the
    * from-scratch truth. */
  private def q89(s: SparkSession, dir: String): DataFrame = {
    import graft.incremental.IncrementalIndex
    val docs = t(s, dir, "documents")
    val base = java.nio.file.Files.createTempDirectory("graft-incidx")
      .toString + "/tokenbase"
    IncrementalIndex.syncTokenBase(s, base,
      docs.select(col("doc_id"), col("text")), "doc_id", "text")
    val edited = docs
      .where(col("doc_id") % 10 === 0 && col("doc_id") % 13 =!= 0)
      .select(col("doc_id"),
        concat(col("text"), lit(" spark filter appended")).as("text"))
    val deleted = docs.where(col("doc_id") % 13 === 0).select(col("doc_id"))
    IncrementalIndex.syncTokenBase(s, base, edited, "doc_id", "text",
      deletedIds = Some(deleted))
    Search.scoreWith(IncrementalIndex.index(s, base, "doc_id"), bm25QueryTerms)
      .orderBy(col("score").desc, col("doc_id").asc)
      .select(col("doc_id"), round(col("score"), 6).as("score"))
      .limit(20)
  }

  /** LLM response handling in the gate (llm_service.py:396-512):
    * four response shapes per residue — ```json-fenced object, bare-
    * fenced object, unfenced object, non-JSON rambling — through
    * fence-strip + graded parse fallbacks, plus the cost estimate
    * over the pricing table (with an unknown-model residue priced
    * 0). */
  private def q90(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.LlmResponse
    val docs = t(s, dir, "documents")
    val c4 = col("doc_id") % 4
    val content = when(c4 === 0, concat(
        lit("```json\n{\"title\": \"T"), col("doc_id"),
        lit("\", \"confidence\": 0.9}\n```")))
      .when(c4 === 1, concat(
        lit("```\n{\"summary\": \"S"), col("doc_id"), lit("\"}\n```")))
      .when(c4 === 2, lit("{\"title\": \"plain\", \"tags\": [\"a\", \"b\"]}"))
      .otherwise(concat(lit("model said: "), substring(col("text"), 1, 40)))
    val provider = when(col("doc_id") % 2 === 0, lit("openai"))
      .otherwise(lit("gemini"))
    val model = when(col("doc_id") % 11 === 0, lit("mystery"))
      .when(col("doc_id") % 2 === 0, lit("gpt-4o-mini"))
      .otherwise(lit("gemini-2.5-flash"))
    // integer micro-units: Spark round() goes through the decimal
    // string (HALF_UP) where DuckDB rounds the binary double — exact
    // 5e-7 ties diverge, floor(x*1e6 + 0.5) cannot
    docs.select(col("doc_id"), col("n_chars"),
        LlmResponse.parseMetadata(content).as("m"),
        floor(LlmResponse.estimateCostRaw(provider, model, col("n_chars"),
          col("doc_id") % 500) * 1000000.0 + 0.5).cast("long")
          .as("cost_micro"))
      .select(col("doc_id"), col("m.title").as("title"),
        col("m.summary").as("summary"),
        col("m.confidence").as("confidence"),
        size(col("m.tags")).as("n_tags"), col("cost_micro"))
  }

  /** Markdown section extraction + text preprocessing in the gate
    * (document_processor.py:204-252): synthesized markdown per
    * document (preamble on the even residue — dropped; a level-2
    * header with a trailing-space title on %3; a level-6 tail on %5),
    * sectioned, then title+content pushed through preprocessText
    * (whitespace collapse + special-char drop) as `clean`.
    *
    * Oracle scope: DuckDB's RE2 `\w`/`\s` are ASCII while the library
    * follows Python's unicode classes (SectionsSpec covers the
    * unicode side) — parity holds here because the corpus and the
    * synthesized markdown are ASCII by construction. */
  private def q91(s: SparkSession, dir: String): DataFrame = {
    import operators.Sections
    val docs = t(s, dir, "documents")
    val md = concat(
      when(col("doc_id") % 2 === 0, lit("preamble dropped\n")).otherwise(lit("")),
      lit("# Doc "), col("doc_id"), lit("\n"),
      lit("alpha "), substring(col("text"), 1, 20), lit("\n"),
      lit("beta line\n"),
      when(col("doc_id") % 3 === 0,
        concat(lit("## Sub "), col("doc_id") % 7, lit("  \nsub body\n")))
        .otherwise(lit("")),
      when(col("doc_id") % 5 === 0, lit("###### Deep\ntail line"))
        .otherwise(lit("closing")))
    Sections.sections(docs.select(col("doc_id"), md.as("text")),
        "doc_id", "text")
      .withColumn("clean", Sections.preprocessText(
        concat(lit("["), col("title"), lit("] ** "), col("content"))))
      .withColumn("section_index", col("section_index").cast("int"))
      .withColumn("level", col("level").cast("int"))
  }

  /** SSE status-event diff in the gate (api/sse.py:81-165): previous
    * and current status snapshots derived from corpus residues (the
    * %13 residue is absent from the previous snapshot — first
    * sighting; the %3 == 0 residue keeps its status — suppressed),
    * diffed and censused by event type. */
  private def q92(s: SparkSession, dir: String): DataFrame = {
    import streaming.StatusEvents
    val docs = t(s, dir, "documents")
    val sts = array(Seq("processing", "complete", "failed",
      "pending_review", "uploaded", "chunking", "embedding").map(lit): _*)
    val prev = docs.where(col("doc_id") % 13 =!= 0)
      .select(col("doc_id"),
        element_at(sts, (col("doc_id") % 7 + 1).cast("int")).as("status"))
    val cur = docs.select(col("doc_id"),
      element_at(sts, ((col("doc_id") % 7 + col("doc_id") % 3) % 7 + 1)
        .cast("int")).as("status"))
    StatusEvents.changes(cur, prev, "doc_id", "status")
      .select(StatusEvents.eventType(col("status")).as("event_type"),
        col("doc_id"), col("status"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_doc"),
        countDistinct(col("status")).as("n_statuses"))
  }

  /** RAG prompt assembly in the gate (api/query.py:60-76): the q58
    * top-5 retrieval feeds the exact _build_prompt scaffold — fixed
    * preamble, `[i] (doc:ID) snippet` context lines in score order,
    * question/answer tail, newline-joined. */
  private def q93(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").where(col("lang") === "en")
    val emb = t(s, dir, "embeddings")
    val q = emb.where(col("vec_id") === 0).select(col("embedding").as("qvec"))
    val top = docs.join(emb, docs("doc_id") === emb("vec_id"))
      .crossJoin(broadcast(q))
      .withColumn("score", VectorFunctions.cosine(col("embedding"), col("qvec")))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(5)
      .select(col("doc_id"), substring(col("text"), 1, 80).as("content"),
        col("score"))
    val ctx = transform(
      array_sort(collect_list(struct((-col("score")).as("ns"),
        col("doc_id").as("document_id"), col("content").as("content")))),
      e => struct(e.getField("document_id").as("document_id"),
        e.getField("content").as("content")))
    top.agg(count(lit(1)).as("n_docs"),
      Search.ragPrompt(lit("what is spark data processing"), ctx)
        .as("prompt"))
  }

  /** Syntax-aware code splitting in the gate
    * (split_recursively.rs:96-247 tree-sitter tier, via the
    * SyntaxSplit scanners): per document, a fixed-shape Python module
    * — a comment, an import, a function whose DOCSTRING contains a
    * fake `def ` at column 0 (the boundary trap no regex tier can
    * pass), a decorated function, and a class big enough to force the
    * descend-into-methods path. The doc id is zero-padded to 6 so
    * every module has identical geometry: chunk offsets are CLOSED
    * FORM and the oracle cross-joins the corpus with the expected
    * (index, start, end, line, column) constants, reconstructing each
    * chunk text by substr on the same module string. */
  private def q94(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.RecursiveSplit
    val docs = t(s, dir, "documents")
    val d = lpad(col("doc_id").cast("string"), 6, "0")
    val code = concat(
      lit("# module "), d, lit("\n\nimport os\n\n"),
      lit("def alpha_"), d, lit("(x):\n"),
      lit("    \"\"\"doc\ndef trap(y):\n    \"\"\"\n"),
      lit("    s = \"alpha "), d, lit("\"\n"),
      lit("    return len(s) + x\n\n"),
      lit("@wrap\ndef beta_"), d, lit("(x):\n    return x * 2\n\n"),
      lit("class Gamma_"), d, lit(":\n"),
      lit("    def m1(self):\n        return \""), d, lit("\"\n"),
      lit("    def m2(self):\n        return 'def '\n"))
    docs.select(col("doc_id"), code.as("code"))
      .select(col("doc_id"), posexplode(
        RecursiveSplit.split_recursively(col("code"), 100, 1, 0, "python")))
      .select(col("doc_id"), col("pos").cast("int").as("chunk_index"),
        col("col.start").as("c_start"), col("col.end").as("c_end"),
        col("col.line").as("c_line"), col("col.column").as("c_col"),
        col("col.text").as("chunk_text"))
  }

  /** OpenAI request rendering in the gate (llm_service.py:188-262 via
    * OpenAiWire.renderChat): one chat request per document — model,
    * system prompt, max_tokens, temperature and reasoning_effort all
    * varied by residue, the %7==0 residue exercising the gpt-5
    * responses-API branch. Prompts sanitize to [A-Za-z0-9 ] so the
    * rendered JSON is byte-reconstructable by concatenation in the
    * oracle (escaping behavior is spec territory: OpenAiWireSpec).
    * Rendering is a distributed per-row map — the renderer itself
    * runs on executors, so the gate covers the exact production
    * code path. */
  private def q95(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import operators.OpenAiWire
    val docs = t(s, dir, "documents")
    docs.select(col("doc_id"),
        regexp_replace(substring(col("text"), 1, 40), "[^A-Za-z0-9 ]", "")
          .as("p"))
      .as[(Long, String)]
      .map { case (id, p) =>
        val r = id % 7
        val model = if (r == 0) "gpt-5"
          else if (r % 2 == 0) "gpt-4o" else "gpt-4o-mini"
        val req = OpenAiWire.renderChat(model, "Extract metadata: " + p,
          systemPrompt =
            if (id % 2 == 0) Some("extract metadata as json") else None,
          maxTokens = 1000 + (id % 5).toInt * 100,
          temperature = if (r == 3) None else Some(0.7),
          reasoningEffort = if (r == 5) Some("low") else None)
        (id, req.path, req.body)
      }
      .toDF("doc_id", "path", "body")
  }

  /** extraction_runs audit bookkeeping in the gate (entity_v2.py:8-19,
    * supabase_service.py:284-309, document_tasks.py:818/1527): runs
    * start `running` for every document, complete with per-document
    * mention/canonical/relationship counters joined back (absent docs
    * count zero), the %13 residue failing with zeroed counters;
    * censused by status like q64. */
  private def q96(s: SparkSession, dir: String): DataFrame = {
    import operators.ExtractionRuns
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), (col("doc_id") % 97).as("ord"))
    val mentions = docs.select(col("doc_id"),
      explode(array_repeat(lit(1), (col("doc_id") % 5).cast("int"))))
    val canonical = docs.where(col("doc_id") % 3 =!= 0)
    val rels = docs.select(col("doc_id"),
      explode(array_repeat(lit(1), (col("doc_id") % 7).cast("int"))))
    val failed = docs.where(col("doc_id") % 13 === 0)
      .select(col("doc_id").as("document_id"))
    val runs = ExtractionRuns.start(docs, "doc_id", "ord")
    ExtractionRuns.complete(runs, mentions, "doc_id", canonical, "doc_id",
        rels, "doc_id", completedAt = 1234L, failedDocs = Some(failed))
      .groupBy(col("status"), col("pipeline_version"), col("model"))
      .agg(count(lit(1)).as("n"),
        sum(col("mentions_extracted")).cast("long").as("sum_mentions"),
        sum(col("entities_canonicalized")).cast("long").as("sum_canonical"),
        sum(col("relationships_inferred")).cast("long").as("sum_rels"),
        countDistinct(col("run_id")).as("n_runs"))
  }

  /** Bridge chunk listing in the gate (bridge.py:25-122): fixed
    * 200/50 chunks of every 5th document (a batch of the endpoint's
    * per-document calls) through Bridge.documentChunks — the
    * endpoint's renames, the derived chunk_size, and the offset
    * columns, value-checked against a closed-form chunking. */
  private def q97(s: SparkSession, dir: String): DataFrame = {
    val chunks = Chunker.fixed(
        t(s, dir, "documents").where(col("doc_id") % 5 === 2)
          .select(col("doc_id"), col("text")),
        "text", 200, 50)
      .select(col("doc_id"),
        col("chunk_index").cast("long").as("chunk_number"),
        col("chunk_text"),
        (col("chunk_index").cast("long") * 150L).as("start_position"),
        (col("chunk_index").cast("long") * 150L + length(col("chunk_text")))
          .as("end_position"))
    operators.Bridge.documentChunks(chunks, "doc_id", "chunk_number",
      "chunk_text", "start_position", "end_position")
  }

  /** Bridge entity listing in the gate (bridge.py:126-199): synthetic
    * document→entity edges (orders mention their parts, q30's frame)
    * with every nullable cell exercised by modular arithmetic, through
    * Bridge.documentEntities — renames plus the endpoint's 'Unknown' /
    * 0.0 / 'MENTIONS' record.get defaults. */
  private def q98(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").where(col("l_orderkey") % 37 === 3)
    val part = t(s, dir, "part")
    val keySum = col("l_orderkey") + col("p_partkey")
    val edges = li.join(part, li("l_partkey") === part("p_partkey"))
      .select(col("l_orderkey"), col("p_partkey"), col("p_name"),
        when(col("p_partkey") % 11 === 0, lit(null).cast("string"))
          .otherwise(Entities.normalizeType(rawPartType)).as("etype"),
        when(col("p_partkey") % 7 === 0, lit(null).cast("double"))
          .otherwise((col("p_partkey") % 16).cast("double") / 16.0 + 0.5)
          .as("conf"),
        element_at(
          array(lit("MENTIONS"), lit("HAS_ENTITY"), lit("REFERENCES")),
          (keySum % 3 + 1).cast("int")).as("rel_type"),
        when(keySum % 13 === 0, lit(null).cast("double"))
          .otherwise((keySum % 8).cast("double") / 8.0).as("rel_conf"))
      .distinct()
    operators.Bridge.documentEntities(edges, "l_orderkey", "p_partkey",
      "p_name", "etype", "conf", "rel_type", "rel_conf")
  }

  /** Bridge relationship neighborhood in the gate (bridge.py:202-247):
    * synthetic mentions (orders → part canonical ids, some null) and a
    * synthetic canonical_relationships table keyed off part, through
    * Bridge.documentRelationships — the either-end match as two
    * equi-joins, the per-document id dedup, and the
    * `float(confidence_score or 0.0)` mapping. */
  private def q99(s: SparkSession, dir: String): DataFrame = {
    val mentions = t(s, dir, "lineitem")
      .where(col("l_orderkey") % 41 === 5)
      .select(col("l_orderkey").as("document_id"),
        when((col("l_orderkey") + col("l_partkey")) % 17 === 0,
          lit(null).cast("long"))
          .otherwise(col("l_partkey")).as("canonical_entity_id"))
    val relTypes = array(Seq("PART_OF", "CONNECTS_TO", "USES", "CAUSES",
      "RELATED_TO").map(lit): _*)
    val rels = t(s, dir, "part").select(
      concat(lit("rel_"), col("p_partkey").cast("string")).as("rel_id"),
      col("p_partkey").as("src"),
      (col("p_partkey") + 3L).as("dst"),
      element_at(relTypes, (col("p_partkey") % 5 + 1).cast("int"))
        .as("rel_type"),
      when(col("p_partkey") % 13 === 0, lit(null).cast("double"))
        .otherwise((col("p_partkey") % 32).cast("double") / 32.0)
        .as("confidence_score"),
      concat(lit("2024-"),
        lpad((col("p_partkey") % 12 + 1).cast("string"), 2, "0"), lit("-"),
        lpad((col("p_partkey") % 28 + 1).cast("string"), 2, "0"))
        .as("created_ts"))
    operators.Bridge.documentRelationships(mentions, rels,
      "document_id", "canonical_entity_id", "rel_id", "src", "dst",
      "rel_type", "confidence_score", "created_ts")
  }

  /** Query-stream request glue in the gate (api/query.py:38-57,
    * 104-119): a request batch synthesized from the corpus — model ids
    * covering both provider prefixes plus the default arm,
    * multi-select filters covering present / present-but-EMPTY (the
    * Python `or` falsy fallback) / absent, deprecated single-selects —
    * routed and filter-derived in one pass, with the 200-char stream
    * fallback pinned by (n_frames, last_frame_len). */
  private def q100(s: SparkSession, dir: String): DataFrame = {
    import operators.QueryStream
    val models = array(lit("gpt-4o-mini"), lit("GPT-5"),
      lit("gemini-2.5-pro"), lit("claude-3"))
    val req = t(s, dir, "documents").select(
      col("doc_id").as("request_id"), col("text"),
      element_at(models, (col("doc_id") % 4 + 1).cast("int")).as("model"),
      when(col("doc_id") % 3 === 0, array(col("source")))
        .when(col("doc_id") % 3 === 1, array().cast("array<string>"))
        .as("departments"),
      when(col("doc_id") % 4 === 1, col("lang")).as("department"),
      when(col("doc_id") % 5 === 0, array(lit("internal"), lit("public")))
        .as("security_tiers"),
      when(col("doc_id") % 5 === 2, lit("confidential")).as("security_tier"))
    val frames = QueryStream.streamFrames(col("text"))
    req.select(col("request_id"),
        QueryStream.providerFromModel(col("model")).as("provider"),
        explode_outer(QueryStream.filterEntries(col("departments"),
          col("department"), col("security_tiers"), col("security_tier")))
          .as("f"),
        size(frames).cast("long").as("n_frames"),
        when(size(frames) > 0,
          length(element_at(frames, size(frames))).cast("long"))
          .as("last_frame_len"))
      .select(col("request_id"), col("provider"),
        col("f.filter_key").as("filter_key"),
        col("f.filter_value").as("filter_value"),
        col("n_frames"), col("last_frame_len"))
  }

  /** Shared roster for the entity-curation gates (q101/q102): ten
    * entities per document with constant names chosen to exercise
    * every grouping tier — plural (0,1), abbreviation + exact (2,3,4),
    * compound containment (5,6), variant/SequenceMatcher (7,8), and a
    * singleton (9). Confidence for ord 1 varies by doc_id residue so
    * the merged max is residue-dependent; contexts/chunk_ids dot the
    * roster so the merge bookkeeping arms fire. */
  private def curationRoster(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val roster = Seq(
      (0, "Pressure Sensor", "component", 85, "ctx0", null: String),
      (1, "pressure sensors", "concept", -1, null: String, null: String),
      (2, "PCB", "component", 80, null: String, "ch0"),
      (3, "printed circuit board", "other", 70, null: String, "ch1"),
      (4, "The Printed Circuit Board!", "component", 50, "ctx4", "ch0"),
      (5, "unit calibration", "procedure", 75, null: String, null: String),
      (6, "sensor calibration unit", "system", 65, null: String, null: String),
      (7, "NC-2056", "product", 85, null: String, null: String),
      (8, "nc2056", "component", 55, null: String, null: String),
      (9, "hydraulic pump", "component", 95, null: String, null: String))
      .toDF("ord", "entity_name", "entity_type", "base_conf",
        "context", "chunk_id")
    t(s, dir, "documents").select(col("doc_id"))
      .crossJoin(broadcast(roster))
      .select(col("doc_id").as("document_id"), col("ord"),
        col("ord").cast("string").as("entity_id"),
        col("entity_name"), col("entity_type"),
        when(col("base_conf") < 0,
          (lit(70) + lit(10) * (col("doc_id") % 3)).cast("double") / 100.0)
          .otherwise(col("base_conf").cast("double") / 100.0)
          .as("confidence"),
        col("context"), col("chunk_id"))
  }

  /** Entity-curation duplicate groups in the gate
    * (POST /entities/find-duplicates, entities.py:374-507 over
    * entity_deduplication.py's greedy grouping): per-document greedy
    * groups with mean pairwise SequenceMatcher-based similarity and
    * the endpoint's avg>=0.95 auto-merge flag. Names are constant per
    * document, so the expected groups are closed-form constants —
    * generated by running the reference module under CPython. One
    * shuffle on document_id; the greedy loop is per-document state,
    * the reference's own scoping. */
  private def q101(s: SparkSession, dir: String): DataFrame = {
    import operators.EntityCuration
    EntityCuration.duplicateGroups(curationRoster(s, dir))
      .select(col("document_id").as("doc_id"), col("group_id"),
        col("member_pos"), col("entity_ord"), col("entity_name"),
        col("entity_type"), round(col("avg_sim"), 4).as("avg_sim_r"),
        col("is_auto"))
  }

  /** Entity-curation auto-merge in the gate (entities.py:404-450 +
    * merge_entity_data, entity_deduplication.py:370-456): the >=0.95
    * groups collapse under the 18-entry type-priority ladder —
    * canonical = best (priority, -confidence), confidence = group
    * max (residue-dependent via ord 1), original_names sorted,
    * contexts in fetch order, chunk_ids deduped. */
  private def q102(s: SparkSession, dir: String): DataFrame = {
    import operators.EntityCuration
    EntityCuration.autoMerged(curationRoster(s, dir))
      .select(col("document_id").as("doc_id"), col("group_id"),
        col("canonical_ord"), col("entity_id"), col("entity_name"),
        col("entity_type"), col("confidence"), col("merge_count"),
        array_join(col("original_names"), "|").as("original_names"),
        array_join(col("all_contexts"), "|").as("all_contexts"),
        array_join(col("chunk_ids"), "|").as("chunk_ids"),
        col("normalized_name"))
  }

  /** Shared four-chunk frame for the chunk-curation gates (q103/q104):
    * constant texts with contiguous offsets, ids namespaced per
    * document ("d<doc>:c<n>"). */
  private def curationChunks(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = Seq(
      (0, "alpha beta", 0L, 10L),
      (1, "gamma delta epsilon", 10L, 29L),
      (2, "zeta", 29L, 33L),
      (3, "eta theta", 33L, 42L))
      .toDF("cnum", "ctext", "cstart", "cend")
    t(s, dir, "documents").select(col("doc_id"))
      .crossJoin(broadcast(base))
      .select(
        concat(lit("d"), col("doc_id"), lit(":c"), col("cnum"))
          .as("chunk_id"),
        col("doc_id").as("document_id"),
        col("cnum").as("chunk_number"),
        col("ctext").as("chunk_text"),
        length(col("ctext")).as("chunk_size"),
        col("cstart").as("start_position"),
        col("cend").as("end_position"))
  }

  /** Chunk split in the gate (POST /chunks/{id}/split,
    * chunks.py:351-434 via ChunkCuration.splitChunks): even documents
    * split their second chunk at position 6 (both halves recompute
    * size/offsets, the tail renumbers up); odd documents request an
    * out-of-range split (position 6 of a 4-char chunk — the
    * endpoint's 400) and pass through untouched. */
  private def q103(s: SparkSession, dir: String): DataFrame = {
    import operators.ChunkCuration
    val splits = t(s, dir, "documents").select(
      concat(lit("d"), col("doc_id"), lit(":c"),
        when(col("doc_id") % 2 === 0, lit(1)).otherwise(lit(2)))
        .as("chunk_id"),
      lit(6).as("split_position"))
    ChunkCuration.splitChunks(curationChunks(s, dir), splits)
      .select(col("document_id").as("doc_id"), col("chunk_id"),
        col("chunk_number"), col("chunk_text"), col("chunk_size"),
        col("start_position"), col("end_position"), col("split_from"))
  }

  /** Chunk merge in the gate (POST /chunks/merge, chunks.py:434-516
    * via ChunkCuration.mergeChunks): even documents merge their first
    * two chunks (contiguous — the tail shifts down); odd documents
    * merge chunks 1 and 3 (non-contiguous — the reference renumbers
    * only past the LAST member, so the chunk between them keeps its
    * number and the merged text jumps the gap with a single space). */
  private def q104(s: SparkSession, dir: String): DataFrame = {
    import operators.ChunkCuration
    val groups = t(s, dir, "documents").select(col("doc_id"),
        explode(when(col("doc_id") % 2 === 0, array(lit(0), lit(1)))
          .otherwise(array(lit(1), lit(3)))).as("m"))
      .select(
        concat(lit("d"), col("doc_id"), lit(":c"), col("m")).as("chunk_id"),
        concat(lit("d"), col("doc_id"), lit(":g")).as("group_key"))
    ChunkCuration.mergeChunks(curationChunks(s, dir), groups)
      .select(col("document_id").as("doc_id"), col("chunk_id"),
        col("chunk_number"), col("chunk_text"), col("chunk_size"),
        col("start_position"), col("end_position"), col("merged_from"))
  }

  /** deduplicate_entities in the gate
    * (entity_deduplication.py:458-530 via
    * EntityCuration.dedupWithReview): the full three-arm output over
    * the q101 roster — the singleton is kept, the two avg>=0.95
    * groups merge (group-max confidence, type-priority canonical),
    * and the sub-threshold groups pass through flagged for review
    * with their group mean similarity. */
  private def q106(s: SparkSession, dir: String): DataFrame = {
    import operators.EntityCuration
    EntityCuration.dedupWithReview(curationRoster(s, dir))
      .select(col("document_id").as("doc_id"), col("arm"),
        col("entity_id"), col("entity_name"), col("entity_type"),
        col("confidence"), col("merge_count"),
        round(col("avg_sim"), 4).as("avg_sim_r"))
  }

  /** Relationship proposals in the gate
    * (GET /documents/{id}/relationship-proposals, documents.py:536-583
    * via Bridge.relationshipProposals): canonical ids 1,2 are
    * mentioned everywhere, id 3 only in even documents, so proposal
    * r1 (1→3) appears only there; r3 is validated and r4's target is
    * mentioned nowhere. Two filter configs are unioned: 'all' (the
    * endpoint defaults — min_conf=0.0 is FALSY in Python, so the
    * null-confidence r2 survives) and 'uses07' (case-insensitive type
    * + min_conf=0.7, which drops the 0.6 r1). */
  private def q105(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import operators.Bridge
    val docs = t(s, dir, "documents").select(col("doc_id"))
    val mentions = docs.select(col("doc_id"), explode(
      when(col("doc_id") % 2 === 0,
        array(lit(1L), lit(2L), lit(3L), lit(null).cast("long")))
        .otherwise(array(lit(1L), lit(2L), lit(null).cast("long"))))
      .as("cid"))
    val rels = Seq(
      ("r0", 1L, 2L, Some("USES"), Some(0.8), false),
      ("r1", 1L, 3L, Some("USES"), Some(0.6), false),
      ("r2", 2L, 1L, None: Option[String], None: Option[Double], false),
      ("r3", 1L, 2L, Some("USES"), Some(0.9), true),
      ("r4", 1L, 9L, Some("USES"), Some(0.95), false))
      .toDF("rid", "src", "dst", "rtype", "score", "validated")
    def run(cfg: String, tf: Option[String], mc: Double) =
      Bridge.relationshipProposals(mentions, rels, "doc_id", "cid",
        "rid", "src", "dst", "rtype", "score", "validated", tf, mc)
        .withColumn("cfg", lit(cfg))
    run("all", None, 0.0)
      .unionByName(run("uses07", Some("uses"), 0.7))
      .select(col("document_id").as("doc_id"), col("cfg"), col("id"),
        col("source_entity_id"), col("target_entity_id"),
        col("relationship_type"), col("confidence_score"))
  }

  /** Document listing in the gate (GET /documents,
    * documents.py:56-148 via Bridge.documentListing): synthetic
    * status/source/metadata/created_at columns by residue, fan-out
    * chunk and mention tables by residue counts. Exercises the
    * endpoint's quirky operation order — status filter, TOP-100 by
    * created_at desc, THEN the source filter (post-limit), then
    * offset 7 — plus the zero-count LEFT-join arm (doc_id%7==0 has no
    * chunks) and the three metadata-incompleteness arms (empty
    * string, whitespace-only, NULL). */
  private def q107(s: SparkSession, dir: String): DataFrame = {
    import operators.Bridge
    val d = t(s, dir, "documents")
    val docs = d.select(
      col("doc_id").as("id"),
      concat(lit("doc-"), col("doc_id")).as("name"),
      concat(lit("st"), col("doc_id") % 4).as("source_type"),
      when(col("doc_id") % 3 === 0, lit("approved"))
        .when(col("doc_id") % 3 === 1, lit("pending_review"))
        .otherwise(lit("failed")).as("status"),
      col("doc_id").as("created_at"),
      when(col("doc_id") % 5 === 0, lit(""))
        .otherwise(concat(lit("T"), col("doc_id"))).as("m_title"),
      when(col("doc_id") % 7 === 0, lit("  ")).otherwise(lit("A"))
        .as("m_author"),
      when(col("doc_id") % 11 === 0, lit(null).cast("string"))
        .otherwise(lit("S")).as("m_summary"),
      lit("k").as("m_topics"))
    def fanout(m: Int) = d.select(col("doc_id").as("document_id"),
      explode(when(col("doc_id") % m > 0,
        sequence(lit(1), (col("doc_id") % m).cast("int")))
        .otherwise(array().cast("array<int>"))).as("_i"))
    Bridge.documentListing(docs, fanout(7), fanout(5),
      Seq("m_title", "m_author", "m_summary", "m_topics"),
      statusFilter = Some("approved"), sourceFilter = Some("st1"),
      limit = 100, offset = 7)
      // bool -> int for oracle hash parity (q07 precedent)
      .withColumn("metadata_complete", col("metadata_complete").cast("int"))
  }

  /** Relationship curation in the gate (relationships.py:49-257 via
    * RelationshipCuration): a synthetic canonical_relationships table
    * (5 per document, residue-coded metadata/verification), then the
    * full mutation pipeline — bulk-approve r0+r1 with a rationale,
    * bulk-reject r2 (plus r1 on doc%3==0: the approve-then-reject
    * overlap, which must keep the T1 verified_at), create one manual
    * relationship per document (empty document_id on %4==2 skips
    * document_context; caller manual=false is overwritten), an
    * update with approved=false (type changes, verified_at survives),
    * and one delete. Metadata keys project to columns for the oracle
    * hash. */
  private def q108(s: SparkSession, dir: String): DataFrame = {
    import operators.RelationshipCuration
    val d = t(s, dir, "documents").select(col("doc_id"))
    def rid(k: Int) = concat(lit("d"), col("doc_id"), lit(s"-r$k"))
    val base = d.select(col("doc_id"), explode(sequence(lit(0), lit(4))).as("k"))
      .select(
        concat(lit("d"), col("doc_id"), lit("-r"), col("k")).as("id"),
        concat(lit("e"), col("k")).as("source_entity_id"),
        concat(lit("e"), col("k") + 1).as("target_entity_id"),
        when(col("k") % 2 === 0, lit("USES")).otherwise(lit("PART_OF"))
          .as("relationship_type"),
        (lit(0.5) + lit(0.1) * col("k")).as("confidence_score"),
        (col("k") === 3).as("is_verified"),
        when(col("k") === 3, lit("T0")).as("verified_at"),
        when(col("k") === 1,
            map(lit("review_rationale"), lit("old"), lit("x"), lit("1")))
          .when(col("k") === 4, lit(null).cast("map<string,string>"))
          .otherwise(map().cast("map<string,string>")).as("metadata"),
        lit("T0").as("created_at"))
    val approveIds = d.select(explode(array(rid(0), rid(1))).as("id"))
    val rejectIds = d.select(explode(
      when(col("doc_id") % 3 === 0, array(rid(2), rid(1)))
        .otherwise(array(rid(2)))).as("id"))
    val reqs = d.select(
      concat(lit("d"), col("doc_id"), lit("-n")).as("id"),
      when(col("doc_id") % 4 === 2, lit(""))
        .otherwise(concat(lit("doc"), col("doc_id"))).as("document_id"),
      lit("e9").as("source_entity_id"), lit("e0").as("target_entity_id"),
      lit("RELATES_TO").as("relationship_type"),
      when(col("doc_id") % 2 === 0, lit(null).cast("double"))
        .otherwise(lit(0.4)).as("confidence_score"),
      when(col("doc_id") % 5 === 0, map(lit("note"), lit("k")))
        .when(col("doc_id") % 7 === 0, map(lit("manual"), lit("false")))
        .otherwise(lit(null).cast("map<string,string>")).as("metadata"))
    val afterBulk = RelationshipCuration.bulkReject(
      RelationshipCuration.bulkApprove(base, approveIds, Some("ok"), "T1"),
      rejectIds, None)
    val created = RelationshipCuration.create(afterBulk, reqs, "T2")
    val updated = RelationshipCuration.update(created, "d2-r3",
      relationshipType = Some("CONNECTS_TO"), approved = Some(false))
    RelationshipCuration.delete(updated, "d3-r0")
      .select(
        regexp_extract(col("id"), "^d(\\d+)-", 1).cast("bigint").as("doc_id"),
        col("id").as("rid"), col("relationship_type"),
        col("confidence_score"),
        col("is_verified").cast("int").as("is_verified"),
        col("verified_at"), col("created_at"),
        element_at(col("metadata"), "manual").as("m_manual"),
        element_at(col("metadata"), "created_via").as("m_created_via"),
        element_at(col("metadata"), "document_context").as("m_document_context"),
        element_at(col("metadata"), "review_rationale").as("m_review_rationale"),
        element_at(col("metadata"), "proposal_rejected").as("m_proposal_rejected"),
        element_at(col("metadata"), "x").as("m_x"),
        element_at(col("metadata"), "note").as("m_note"))
  }

  /** Document-detail entity enrichment in the gate
    * (documents.py:399-448 via DocumentCuration.enrichEntities): five
    * mentions per document coding every precedence arm — empty
    * entity_name falls to name, canonical truthy-type wins over the
    * mention chain, empty canonical type falls through entity_type to
    * the legacy type column, confidence_score > legacy confidence >
    * 1.0, attributes hoist only when the metadata key is absent, a
    * truthy-but-unmatched canonical id reports with null canonical
    * columns, and an empty-string canonical id is falsy (no join). */
  private def q109(s: SparkSession, dir: String): DataFrame = {
    import operators.DocumentCuration
    import s.implicits._
    val d = t(s, dir, "documents").select(col("doc_id"))
    val m = d.select(col("doc_id"), explode(sequence(lit(0), lit(4))).as("k"))
      .select(
        concat(lit("d"), col("doc_id"), lit("-m"), col("k")).as("id"),
        when(col("k") === 0, lit(""))
          .when(col("k") === 2,
            when(col("doc_id") % 2 === 0, lit("EN2")).otherwise(lit("")))
          .when(col("k") === 4, lit(null))
          .otherwise(concat(lit("EN"), col("k"))).as("entity_name"),
        concat(lit("N"), col("k")).as("name"),
        when(col("k") === 1, lit("")).when(col("k") === 2, lit("mtype"))
          .as("entity_type"),
        when(col("k") === 1, lit("legacy")).when(col("k") === 3, lit("ltype"))
          .as("type"),
        when(col("k") === 2, lit(0.9)).otherwise(lit(null).cast("double"))
          .as("confidence_score"),
        when(col("k") === 1, lit(0.4)).otherwise(lit(null).cast("double"))
          .as("confidence"),
        when(col("k") === 0,
            map(lit("attributes"), lit("kept"), lit("z"), lit("1")))
          .when(col("k") === 1, map(lit("z"), lit("2")))
          .otherwise(lit(null).cast("map<string,string>")).as("metadata"),
        when(col("k") === 0, lit("attr0")).when(col("k") === 1, lit("attr1"))
          .when(col("k") === 3, lit("")).as("attributes"),
        when(col("k") === 0, lit("c1")).when(col("k") === 1, lit("c2"))
          .when(col("k") === 2, lit("")).when(col("k") === 3, lit("cX"))
          .as("canonical_entity_id"))
    val canonicals = Seq(
      ("c1", "Pump Alpha", "COMPONENT", Map("cm" -> "1")),
      ("c2", "Valve Canon", "", Map.empty[String, String]))
      .toDF("id", "name", "type", "metadata")
    DocumentCuration.enrichEntities(m, canonicals)
      .select(
        regexp_extract(col("id"), "^d(\\d+)-", 1).cast("bigint").as("doc_id"),
        col("id").as("mid"), col("entity_name"), col("entity_type"),
        col("confidence_score"), col("canonical_entity_id"),
        col("canonical_name"), col("canonical_type"),
        element_at(col("metadata"), "z").as("m_z"),
        element_at(col("metadata"), "attributes").as("m_attributes"),
        element_at(col("canonical_metadata"), "cm").as("cm_cm"))
  }

  /** GPT-4V vision-message rendering in the gate
    * (image_intelligence_service.py:239-362 via
    * OpenAiWire.renderVisionChat): one caption request per document
    * across all four ladder arms (%4 residue picks the model), the
    * context line present on even docs (and dropped when the
    * sanitized prefix is empty — the `if context:` truthiness), the
    * OCR line on %3 docs, and a deterministic jpeg payload
    * (base64 of "img<id>"); value-checks the exact rendered JSON
    * including the gpt-5 kwargs vs the gpt-4o fallback arm. */
  private def q110(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import operators.OpenAiWire
    t(s, dir, "documents")
      .select(col("doc_id"),
        regexp_replace(substring(col("text"), 1, 60), "[^A-Za-z0-9 ]", "")
          .as("c"))
      .as[(Long, String)]
      .map { case (id, c) =>
        val model = (id % 4) match {
          case 0 => "gpt-5"
          case 1 => "gpt-5-mini"
          case 2 => "gpt-5-nano"
          case _ => "gpt-4o"
        }
        val prompt = OpenAiWire.visionPrompt(
          context = if (id % 2 == 0) Some(c) else Some(""),
          ocrText = if (id % 3 == 0) Some(s"scan $id") else None)
        val b64 = java.util.Base64.getEncoder
          .encodeToString(s"img$id".getBytes("UTF-8"))
        val req = OpenAiWire.renderVisionChat(model, prompt, b64)
        (id, req.path, req.body)
      }
      .toDF("doc_id", "path", "body")
  }

  /** Review-status report in the gate (documents_review.py:154-200
    * via ReviewStatus.statusReport): the 7 states by residue (every
    * gate triple exercised), chunk/entity fanouts with a parity-coded
    * is_verified (the %3 entity is NULL — counts unverified), %3 docs
    * carrying reviewed_at/review_action and %5 docs a
    * metadata-embedded rejection_reason; bools cast to int for oracle
    * hash parity (q07 precedent). */
  private def q111(s: SparkSession, dir: String): DataFrame = {
    import operators.{ReviewStatus, StateMachine}
    val d = t(s, dir, "documents")
    val states = array(StateMachine.states.map(lit): _*)
    val docs = d.select(col("doc_id").as("document_id"),
      element_at(states, (col("doc_id") % 7 + 1).cast("int")).as("status"),
      when(col("doc_id") % 3 === 0, concat(lit("T"), col("doc_id")))
        .as("reviewed_at"),
      when(col("doc_id") % 3 === 0,
        when(col("doc_id") % 2 === 0, lit("approved"))
          .otherwise(lit("rejected"))).as("review_action"),
      when(col("doc_id") % 5 === 0,
          map(lit("rejection_reason"), lit("low quality")))
        .otherwise(map().cast("map<string,string>")).as("metadata"))
    def fanout(m: Int) = d.select(col("doc_id").as("document_id"),
      explode(when(col("doc_id") % m > 0,
        sequence(lit(1), (col("doc_id") % m).cast("int")))
        .otherwise(array().cast("array<int>"))).as("_i"))
    val chunks = fanout(6).drop("_i")
    val entities = fanout(4).withColumn("is_verified",
      when(col("_i") % 3 === 0, lit(null).cast("boolean"))
        .otherwise(col("_i") % 2 === 0)).drop("_i")
    ReviewStatus.statusReport(docs, chunks, entities)
      .withColumn("can_approve", col("can_approve").cast("int"))
      .withColumn("can_reject", col("can_reject").cast("int"))
      .withColumn("can_reprocess", col("can_reprocess").cast("int"))
  }

  /** Shared jobs fixture for q112/q113 (job_tracker.py lifecycle):
    * one job per document (type by %3 residue, the %3==2 arm is the
    * unknown type), created at a width-padded per-row timestamp so
    * created_at order is doc order, then an update batch covering
    * every status arm (%5 residue; %5==0 stays queued/untouched)
    * with clamp-exercising progress values on %3 docs. */
  private def jobsFixture(s: SparkSession, dir: String): DataFrame = {
    import operators.Jobs
    val d = t(s, dir, "documents").select(col("doc_id"))
    val reqs = d.select(
      concat(lit("j"), col("doc_id")).as("id"),
      element_at(array(lit("notion_scan"), lit("gdrive_scan"),
        lit("embed_rebuild")), (col("doc_id") % 3 + 1).cast("int")).as("type"),
      when(col("doc_id") % 4 === 0,
          map(lit("workspace_id"), concat(lit("w"), col("doc_id") % 7)))
        .otherwise(lit(null).cast("map<string,string>")).as("metadata"),
      // width 12: lpad TRUNCATES longer inputs, so width must exceed
      // any scaled-up doc_id digit count or created_at order breaks
      concat(lit("T"), lpad(col("doc_id").cast("string"), 12, "0")).as("_ts"))
    val jobs = Jobs.create(reqs, col("_ts"))
    val updates = d.where(col("doc_id") % 5 =!= 0).select(
      concat(lit("j"), col("doc_id")).as("id"),
      element_at(array(lit("running"), lit("completed"), lit("failed"),
        lit("cancelled")), (col("doc_id") % 5).cast("int")).as("to_status"),
      when(col("doc_id") % 2 === 0, concat(lit("m"), col("doc_id")))
        .otherwise(lit(null).cast("string")).as("message"),
      when(col("doc_id") % 3 === 0,
          (col("doc_id") % 11 * 15 - 10).cast("int"))
        .otherwise(lit(null).cast("int")).as("progress"),
      when(col("doc_id") % 5 === 3, lit("boom"))
        .otherwise(lit(null).cast("string")).as("error"))
    Jobs.applyUpdates(jobs, updates, lit("T1"))
  }

  /** Jobs lifecycle + retry census in the gate (job_tracker.py:29-81,
    * processing.py:384-443 via Jobs): the fixture's post-update frame
    * retried for every completed (%5==2 → not_failed 400) and failed
    * (%5==3) job plus a missing id; the unknown-type arm (%3==2)
    * answers 400 but is left queued — the update-before-dispatch
    * quirk, value-checked per job via the full-outer outcome join. */
  private def q112(s: SparkSession, dir: String): DataFrame = {
    import operators.Jobs
    val d = t(s, dir, "documents").select(col("doc_id"))
    val updated = jobsFixture(s, dir)
    val retryIds = d.where(col("doc_id") % 5 === 2 || col("doc_id") % 5 === 3)
      .select(concat(lit("j"), col("doc_id")).as("id"))
      .unionByName(s.range(1).select(lit("missing-1").as("id")))
    val (after, outcomes) = Jobs.retry(updated, retryIds, lit("T2"))
    after.join(outcomes, Seq("id"), "full_outer")
      .select(col("id"), col("type"), col("status"), col("progress"),
        col("message"), col("error"), col("completed_at"),
        col("updated_at"), col("outcome"), col("http_status"))
  }

  /** Jobs listing in the gate (job_tracker.py:87-110 via
    * Jobs.listJobs): both filters (running + gdrive_scan → the
    * doc_id ≡ 1 (mod 15) stripe) BEFORE the created_at-descending
    * sort and the offset page — the order that distinguishes this
    * endpoint from the document listing's post-limit source filter. */
  private def q113(s: SparkSession, dir: String): DataFrame = {
    import operators.Jobs
    Jobs.listJobs(jobsFixture(s, dir), status = Some("running"),
      jobType = Some("gdrive_scan"), limit = 20, offset = 5)
      .select(col("id"), col("type"), col("status"), col("progress"),
        col("message"), col("created_at"))
  }

  /** Metadata-embedded transition store in the gate
    * (state_manager_simple.py:41-74, 165-243 via MetadataStateStore,
    * validating against the EXACT document_state.py:25-32 map): the
    * 7 simple states by residue, a two-batch sequence (even docs
    * request approve, odd request processing; then even request
    * ingest, odd request fail) whose validity falls out of the
    * transition map, censused by the PARSED history (count, last hop)
    * plus the stamp columns, the approved_by_user key, and the
    * error_count bump on the fail arm — the whole JSON round trip is
    * on the hash path. */
  private def q114(s: SparkSession, dir: String): DataFrame = {
    import operators.{MetadataStateStore, StateMachine}
    val d = t(s, dir, "documents")
    val states = array(StateMachine.simpleStates.map(lit): _*)
    val docs = d.select(col("doc_id").as("id"),
      element_at(states, (col("doc_id") % 7 + 1).cast("int")).as("status"),
      MetadataStateStore.initialMetadata(
        map(lit("filename"), concat(lit("f"), col("doc_id")))).as("metadata"))
    val r1 = d.select(col("doc_id").as("id"),
      when(col("doc_id") % 2 === 0, lit("approved"))
        .otherwise(lit("processing")).as("to_status"),
      when(col("doc_id") % 3 === 0, concat(lit("u"), col("doc_id")))
        .otherwise(lit(null).cast("string")).as("user_id"),
      when(col("doc_id") % 4 === 0, lit("r1"))
        .otherwise(lit(null).cast("string")).as("reason"))
    val r2 = d.select(col("doc_id").as("id"),
      when(col("doc_id") % 2 === 0, lit("ingested"))
        .otherwise(lit("failed")).as("to_status"),
      lit(null).cast("string").as("user_id"),
      lit(null).cast("string").as("reason"))
    val s1 = MetadataStateStore.transition(docs, r1, lit("T1"))
    val s2 = MetadataStateStore.transition(s1.updated, r2, lit("T2"))
    val hist = MetadataStateStore.history(col("metadata"))
    s2.updated.select(col("id").as("doc_id"), col("status"),
      col("updated_at"), col("processed_at"), col("approved_at"),
      size(hist).as("n_transitions"),
      when(size(hist) > 0, element_at(hist, -1).getField("to_state"))
        .as("last_to"),
      element_at(col("metadata"), "approved_by_user").as("approved_by_user"),
      element_at(col("metadata"), "error_count").as("error_count"),
      element_at(col("metadata"), "filename").as("filename"))
  }

  /** Failed-document reset census in the gate
    * (state_manager_simple.py:334-358 via StateCensus.resetFailed):
    * the 7 simple states by residue, resets requested for the %3!=2
    * stripe plus a missing id — only error states reset (back to
    * discovered, with the reset markers in the transition record's
    * metadata); the rest answer the not-in-error-state validation
    * error verbatim. */
  private def q115(s: SparkSession, dir: String): DataFrame = {
    import operators.{MetadataStateStore, StateCensus, StateMachine}
    val d = t(s, dir, "documents")
    val states = array(StateMachine.simpleStates.map(lit): _*)
    val docs = d.select(concat(lit("d"), col("doc_id")).as("id"),
      element_at(states, (col("doc_id") % 7 + 1).cast("int")).as("status"),
      MetadataStateStore.initialMetadata(lit(null).cast("map<string,string>"))
        .as("metadata"))
    val ids = d.where(col("doc_id") % 3 =!= 2)
      .select(concat(lit("d"), col("doc_id")).as("id"))
      .unionByName(s.range(1).select(lit("missing-9").as("id")))
    val (updated, outcomes) = StateCensus.resetFailed(docs, ids, lit("T1"))
    val hist = MetadataStateStore.history(col("metadata"))
    updated.select(col("id"), col("status"),
        size(hist).as("n_transitions"),
        when(size(hist) > 0, element_at(
          element_at(hist, -1).getField("metadata"), "previous_state"))
          .as("previous_state"))
      .join(outcomes.select(col("id"), col("ok").cast("int").as("ok"),
        col("error")), Seq("id"), "full_outer")
      .select(col("id"), col("status"), col("n_transitions"),
        col("previous_state"), col("ok"), col("error"))
  }

  /** Canonical-entity metric refresh in the gate
    * (supabase_service.py:830-972 via CanonicalMetrics.refresh): four
    * requested entities per document plus a bystander, coding every
    * arm — the clamp at both rails (avg 1.2 → 1.0, −0.5 → 0.0), the
    * zero-sample fallbacks (NULL metadata → 0.5, stored
    * quality_score → 0.75), truthy document sets (empty-string and
    * NULL doc ids dropped; sorted, comma-joined), the
    * concatenated-query relationship double-count (a cross pair
    * between two requested ids credits +2 each, a requested self-loop
    * +4, a half-requested edge +1), the requested-but-missing id
    * (updates nothing), the empty-string and duplicate request
    * entries (filtered/deduped), the description update gated on key
    * presence, and the untouched bystander (NULL metadata survives on
    * odd docs). */
  private def q116(s: SparkSession, dir: String): DataFrame = {
    import operators.CanonicalMetrics
    val d = t(s, dir, "documents").select(col("doc_id"))
    def cid(k: String) = concat(lit("c"), col("doc_id"), lit(s"-$k"))
    val entities = d
      .select(col("doc_id"), explode(sequence(lit(0), lit(4))).as("k"))
      .select(
        concat(lit("c"), col("doc_id"), lit("-"),
          when(col("k") === 4, lit("B"))
            .otherwise(col("k").cast("string"))).as("id"),
        when(col("k") === 4, lit(7L)).otherwise(lit(9L)).as("mention_count"),
        when(col("k") === 4, lit(7L)).otherwise(lit(9L)).as("document_count"),
        when(col("k") === 4, lit(7L)).otherwise(lit(9L))
          .as("relationship_count"),
        when(col("k") === 4, lit(0.7)).otherwise(lit(0.1)).as("quality_score"),
        when(col("k") === 0,
            map(lit("quality_score"), lit("0.25"), lit("keep"), lit("v")))
          .when(col("k") === 1, map().cast("map<string,string>"))
          .when(col("k") === 3, map(lit("quality_score"), lit("0.75")))
          .when(col("k") === 4 && col("doc_id") % 2 === 0,
            map(lit("keep"), lit("b")))
          .otherwise(lit(null).cast("map<string,string>")).as("metadata"))
    val mentions = d
      .select(col("doc_id"), explode(sequence(lit(0), lit(4))).as("m"))
      .select(
        when(col("m") <= 2, cid("0")).when(col("m") === 3, cid("1"))
          .otherwise(cid("2")).as("canonical_entity_id"),
        when(col("m") === 0, concat(lit("D"), col("doc_id")))
          .when(col("m") === 1, concat(lit("A"), col("doc_id")))
          .when(col("m") === 2, lit(""))
          .when(col("m") === 3, concat(lit("E"), col("doc_id")))
          .otherwise(lit(null).cast("string")).as("document_id"),
        when(col("m") === 0, lit(1.5)).when(col("m") === 1, lit(0.9))
          .when(col("m") === 3, lit(-0.5))
          .otherwise(lit(null).cast("double")).as("confidence"))
    val rels = d
      .select(col("doc_id"), explode(sequence(lit(0), lit(3))).as("r"))
      .select(
        when(col("r") === 0, cid("0")).when(col("r") === 1, cid("2"))
          .when(col("r") === 2, cid("0"))
          .otherwise(concat(lit("zz"), col("doc_id"))).as("source_entity_id"),
        when(col("r") === 0, cid("1")).when(col("r") === 1, cid("2"))
          .when(col("r") === 2, cid("B")).otherwise(cid("1"))
          .as("target_entity_id"),
        when(col("r") === 0,
            map(lit("document_id"), concat(lit("R"), col("doc_id"))))
          .when(col("r") === 1,
            map(lit("document_id"), concat(lit("S"), col("doc_id"))))
          .when(col("r") === 3, map(lit("document_id"), lit("")))
          .otherwise(lit(null).cast("map<string,string>")).as("metadata"))
    val ids = d
      .select(col("doc_id"), explode(array(
        lit("0"), lit("1"), lit("2"), lit("3"), lit("X"), lit(""), lit("0"),
        lit(null).cast("string"))).as("k"))
      .select(when(col("k").isNull, lit(null).cast("string"))
        .when(col("k") === "", lit(""))
        .otherwise(concat(lit("c"), col("doc_id"), lit("-"), col("k")))
        .as("id"))
    val descUpd = d.where(col("doc_id") % 2 === 0)
      .select(cid("0").as("id"),
        concat(lit("desc"), col("doc_id")).as("description"))
      .unionByName(d.select(cid("X").as("id"), lit("x").as("description")))
    CanonicalMetrics.refresh(entities, mentions, rels, ids, descUpd, "TS")
      .select(
        regexp_extract(col("id"), "^c(\\d+)-", 1).cast("bigint").as("doc_id"),
        col("id").as("cid"), col("mention_count"), col("document_count"),
        col("relationship_count"), col("quality_score"),
        element_at(col("metadata"), "keep").as("m_keep"),
        element_at(col("metadata"), "quality_score").as("m_quality_score"),
        element_at(col("metadata"), "document_ids").as("m_document_ids"),
        element_at(col("metadata"), "relationship_document_ids")
          .as("m_rel_document_ids"),
        element_at(col("metadata"), "last_refreshed_at")
          .as("m_last_refreshed_at"),
        element_at(col("metadata"), "description").as("m_description"))
  }

  /** Chunk fetch with context in the gate (GET /chunks/{id}
    * ?include_context, chunks.py:119-169 via
    * ChunkCuration.chunkContext): each document split into two
    * thirds-sized derived chunks, context_size=15 — the windows clamp
    * at both document bounds exactly like the reference's Python
    * slices. */
  private def q117(s: SparkSession, dir: String): DataFrame = {
    import operators.ChunkCuration
    val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val withT = d.withColumn("_t", floor(length(col("text")) / 3))
      .select(col("doc_id"), col("text"), col("_t"),
        explode(array(lit(0), lit(1))).as("p"))
    val st = col("p") * col("_t")
    val en = (col("p") + 1) * col("_t")
    val chunks = withT.select(
      concat(lit("d"), col("doc_id"), lit(":c"), col("p")).as("chunk_id"),
      col("doc_id").as("document_id"),
      col("p").as("chunk_number"),
      col("text").substr((st + 1).cast("int"), col("_t").cast("int"))
        .as("chunk_text"),
      col("_t").cast("int").as("chunk_size"),
      st.cast("long").as("start_position"),
      en.cast("long").as("end_position"))
    val docs = d.select(col("doc_id").as("document_id"),
      col("text").as("content"))
    ChunkCuration.chunkContext(chunks, docs, 15)
      .select(col("document_id").as("doc_id"), col("chunk_id"),
        col("chunk_number"), col("chunk_text"),
        col("start_position"), col("end_position"),
        col("context_before"), col("context_after"))
  }

  /** Chunk update in the gate (PUT /chunks/{id}, chunks.py:172-239
    * via ChunkCuration.updateChunks): even documents edit their c1 —
    * text replaced, size recomputed, offsets kept (faithful quirk:
    * the edited span now disagrees with its size), edit-history
    * lengths surfaced, and the whole document flagged
    * pending_review. */
  private def q118(s: SparkSession, dir: String): DataFrame = {
    import operators.ChunkCuration
    val updates = t(s, dir, "documents").where(col("doc_id") % 2 === 0)
      .select(concat(lit("d"), col("doc_id"), lit(":c1")).as("chunk_id"),
        concat(lit("edited:"), col("doc_id")).as("new_text"))
    ChunkCuration.updateChunks(curationChunks(s, dir), updates)
      .select(col("document_id").as("doc_id"), col("chunk_id"),
        col("chunk_number"), col("chunk_text"), col("chunk_size"),
        col("start_position"), col("end_position"),
        col("old_length"), col("new_length"), col("manually_edited"),
        col("doc_status"))
  }

  /** Chunk delete in the gate (DELETE /chunks/{id}, chunks.py:240-290
    * via ChunkCuration.deleteChunks/deleteCensus): even documents
    * delete c1, odd delete c2; survivors renumber down past the
    * deleted slot ('live' arm) and each deleted chunk reports how
    * many chunks it renumbered ('deleted' arm — the endpoint's
    * affected_chunks response field). */
  private def q119(s: SparkSession, dir: String): DataFrame = {
    import operators.ChunkCuration
    val deletes = t(s, dir, "documents").select(
      concat(lit("d"), col("doc_id"), lit(":c"),
        when(col("doc_id") % 2 === 0, lit(1)).otherwise(lit(2)))
        .as("chunk_id"))
    val base = curationChunks(s, dir)
    val live = ChunkCuration.deleteChunks(base, deletes)
      .select(col("document_id").as("doc_id"), lit("live").as("arm"),
        col("chunk_id"), col("chunk_number"),
        lit(null).cast("int").as("affected_chunks"), col("doc_status"))
    val deleted = ChunkCuration.deleteCensus(base, deletes)
      .select(col("document_id").as("doc_id"), lit("deleted").as("arm"),
        col("chunk_id"), col("chunk_number"), col("affected_chunks"),
        lit(null).cast("string").as("doc_status"))
    live.unionByName(deleted)
  }

  /** Batch chunk update census in the gate (PUT /chunks/batch,
    * chunks.py:83-117 via ChunkCuration.batchUpdateCensus): per
    * document one valid update, one empty-text skip (Python-falsy,
    * not an error), and one unknown-chunk miss — updated_count counts
    * only the first, total_requested all three. */
  private def q120(s: SparkSession, dir: String): DataFrame = {
    import operators.ChunkCuration
    val updates = t(s, dir, "documents").select(col("doc_id"), explode(array(
        struct(concat(lit("d"), col("doc_id"), lit(":c0")).as("chunk_id"),
          lit("new").as("new_text")),
        struct(concat(lit("d"), col("doc_id"), lit(":c1")).as("chunk_id"),
          lit("").as("new_text")),
        struct(concat(lit("nope:"), col("doc_id")).as("chunk_id"),
          lit("x").as("new_text")))).as("u"))
      .select(col("u.chunk_id"), col("u.new_text"))
    ChunkCuration.batchUpdateCensus(curationChunks(s, dir), updates)
  }

  /** Shared per-document fixture for the entity-CRUD gates
    * (q121-q125): four canonical entities (one NULL-quality, one never
    * mentioned) and six mentions (one un-canonicalized) per document,
    * ids namespaced per doc. */
  private def entityCrudCanonical(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"),
        explode(array(lit(1), lit(2), lit(3), lit(4))).as("k"))
      .select(
        concat(lit("c"), col("doc_id"), lit(":e"), col("k")).as("id"),
        when(col("k") === 1, lit("Pump")).when(col("k") === 2, lit("Seal"))
          .when(col("k") === 3, lit("Acme")).otherwise(lit("Unmentioned"))
          .as("name"),
        when(col("k") === 3, lit("ORGANIZATION"))
          .when(col("k") === 4, lit("OTHER")).otherwise(lit("COMPONENT"))
          .as("type"),
        when(col("k") === 1, lit(0.9)).when(col("k") === 2, lit(0.4))
          .when(col("k") === 4, lit(1.0)).cast("double").as("quality_score"),
        (col("k") === 1 || col("k") === 4).as("is_validated"))

  private def entityCrudMentions(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"),
        explode(array(lit(1), lit(2), lit(3), lit(4), lit(5), lit(6)))
          .as("m"))
      .select(
        concat(lit("m"), col("doc_id"), lit(":"), col("m")).as("mention_id"),
        concat(lit("D"), col("doc_id")).as("document_id"),
        when(col("m") <= 2, concat(lit("c"), col("doc_id"), lit(":e1")))
          .when(col("m") === 3, concat(lit("c"), col("doc_id"), lit(":e2")))
          .when(col("m") === 4, concat(lit("c"), col("doc_id"), lit(":e3")))
          .when(col("m") === 5, concat(lit("c"), col("doc_id"), lit(":e2")))
          .otherwise(lit(null).cast("string")).as("canonical_entity_id"))

  /** Canonical-entity listing in the gate (GET /entities/ and
    * /entities/by-document/{id}, entities.py:47-123, :645-677 via
    * EntityCrud.listCanonical): the 'all' config is the endpoint
    * default — min_quality=0.0 skips the quality predicate so the
    * NULL-quality e3 survives; 'q03' applies >=0.3 and drops it.
    * mentions_in_document counts ride along (e1 is mentioned twice). */
  private def q121(s: SparkSession, dir: String): DataFrame = {
    import operators.EntityCrud
    val c = entityCrudCanonical(s, dir)
    val m = entityCrudMentions(s, dir)
    EntityCrud.listCanonical(c, m).withColumn("cfg", lit("all"))
      .unionByName(EntityCrud.listCanonical(c, m, minQuality = 0.3)
        .withColumn("cfg", lit("q03")))
      .select(substring(col("document_id"), 2, 100).cast("bigint")
          .as("doc_id"),
        col("cfg"), col("id"), col("name"), col("type"),
        col("quality_score"), col("is_validated"),
        col("mentions_in_document"))
  }

  /** Entity create in the gate (POST /entities/, entities.py:188-253
    * via EntityCrud.createMentions): per document an exact-triple
    * duplicate (the 400), a case-differing near-duplicate (created —
    * the check is exact equality), a missing-document request (the
    * 404), and a manual create that lands with manually_created and
    * flips the document to pending_review. */
  private def q122(s: SparkSession, dir: String): DataFrame = {
    import operators.EntityCrud
    val d = t(s, dir, "documents").select(col("doc_id"))
    val docs = d.select(concat(lit("D"), col("doc_id")).as("document_id"))
    val existing = d.select(
      concat(lit("D"), col("doc_id")).as("document_id"),
      lit("Pump").as("entity_name"), lit("COMPONENT").as("entity_type"))
    val requests = d.select(col("doc_id"),
        explode(array(lit(1), lit(2), lit(3), lit(4))).as("r"))
      .select(
        concat(lit("D"), col("doc_id"), lit(":r"), col("r"))
          .as("request_id"),
        when(col("r") === 3, concat(lit("X"), col("doc_id")))
          .otherwise(concat(lit("D"), col("doc_id"))).as("document_id"),
        when(col("r") === 1, lit("Pump")).when(col("r") === 2, lit("pump"))
          .otherwise(lit("Valve")).as("entity_name"),
        lit("COMPONENT").as("entity_type"),
        when(col("r") <= 2, lit(0.9)).otherwise(lit(0.8)).as("confidence"),
        (col("r") >= 3).as("manual"))
    EntityCrud.createMentions(docs, existing, requests)
      .select(
        regexp_extract(col("request_id"), "^D(\\d+):", 1).cast("bigint")
          .as("doc_id"),
        col("request_id"), col("arm"), col("entity_name"),
        col("confidence"), col("manually_created"), col("doc_status"))
  }

  /** Entity update in the gate (PUT /entities/{id}, entities.py:254-337
    * via EntityCrud.updateMentions): m1 merges metadata (new wins on
    * collisions, untouched keys kept) with a name change; m2 requests
    * a merge but its existing map is empty — Python-falsy, so the
    * replace path runs; m3 lives in another document and keeps
    * everything including its null doc_status. The edit history's
    * original name/confidence snapshot surfaces as columns. */
  private def q123(s: SparkSession, dir: String): DataFrame = {
    import operators.EntityCrud
    val d = t(s, dir, "documents").select(col("doc_id"))
    val mentions = d.select(col("doc_id"),
        explode(array(lit(1), lit(2), lit(3))).as("m"))
      .select(
        concat(lit("m"), col("doc_id"), lit(":"), col("m")).as("entity_id"),
        when(col("m") === 3, concat(lit("E"), col("doc_id")))
          .otherwise(concat(lit("D"), col("doc_id"))).as("document_id"),
        when(col("m") === 1, lit("Pump")).when(col("m") === 2, lit("Seal"))
          .otherwise(lit("Acme")).as("entity_name"),
        when(col("m") === 3, lit("ORGANIZATION")).otherwise(lit("COMPONENT"))
          .as("entity_type"),
        (lit(0.4) + col("m") * 0.1).as("confidence"),
        when(col("m") === 1, map(lit("a"), lit("1"), lit("b"), lit("2")))
          .when(col("m") === 2, map().cast("map<string,string>"))
          .otherwise(map(lit("x"), lit("9"))).as("metadata"))
    val updates = d.select(col("doc_id"),
        explode(array(lit(1), lit(2))).as("u"))
      .select(
        concat(lit("m"), col("doc_id"), lit(":"), col("u")).as("entity_id"),
        when(col("u") === 1, lit("Pump X")).cast("string").as("new_name"),
        lit(null).cast("string").as("new_type"),
        when(col("u") === 2, lit(0.9)).cast("double").as("new_confidence"),
        when(col("u") === 1, map(lit("b"), lit("3"), lit("c"), lit("4")))
          .otherwise(map(lit("k"), lit("v"))).as("new_metadata"),
        lit(true).as("merge_metadata"))
    EntityCrud.updateMentions(mentions, updates)
      .select(col("entity_id"), col("document_id"), col("entity_name"),
        col("entity_type"), round(col("confidence"), 2).as("confidence"),
        array_join(transform(array_sort(map_keys(col("metadata"))),
          k => concat(k, lit("="), element_at(col("metadata"), k))), ",")
          .as("metadata_kv"),
        col("old_name"), round(col("old_confidence"), 2)
          .as("old_confidence"),
        col("manually_edited"), col("doc_status"))
  }

  /** Entity get in the gate (GET /entities/{id}, entities.py:124-187
    * via EntityCrud.resolveEntityOrDocument): the document arm wins —
    * 'D<doc>' returns that document's three canonical entities; the
    * entity arm returns e2 with its cross-document mention count
    * (mentioned twice: m3 and m5 both map to e2 here); unknown ids
    * return nothing. */
  private def q124(s: SparkSession, dir: String): DataFrame = {
    import operators.EntityCrud
    val d = t(s, dir, "documents").select(col("doc_id"))
    val requests = d.select(col("doc_id"),
        explode(array(
          concat(lit("D"), col("doc_id")),
          concat(lit("c"), col("doc_id"), lit(":e2")),
          concat(lit("zz"), col("doc_id")))).as("request_id"))
      .select(col("request_id"))
    EntityCrud.resolveEntityOrDocument(requests,
        entityCrudCanonical(s, dir), entityCrudMentions(s, dir))
      .select(col("request_id"), col("arm"), col("id"), col("name"),
        col("type"), col("quality_score"), col("is_validated"),
        col("n_mentions"))
  }

  /** Entity delete in the gate (DELETE /entities/{id},
    * entities.py:338-373 via EntityCrud.deleteMentions): even
    * documents delete their m1 — the survivors keep their fields and
    * every row of a touched document carries the pending_review side
    * effect; odd documents are untouched end-to-end. */
  private def q134(s: SparkSession, dir: String): DataFrame = {
    import operators.EntityCrud
    val d = t(s, dir, "documents").select(col("doc_id"))
    val mentions = d.select(col("doc_id"),
        explode(array(lit(1), lit(2), lit(3))).as("m"))
      .select(
        concat(lit("m"), col("doc_id"), lit(":"), col("m")).as("entity_id"),
        concat(lit("D"), col("doc_id")).as("document_id"),
        concat(lit("N"), col("m")).as("entity_name"),
        lit("COMPONENT").as("entity_type"),
        (col("m") * 0.1 + 0.5).as("confidence"))
    val deletes = d.where(col("doc_id") % 2 === 0)
      .select(concat(lit("m"), col("doc_id"), lit(":1")).as("entity_id"))
    EntityCrud.deleteMentions(mentions, deletes)
      .select(
        regexp_extract(col("entity_id"), "^m(\\d+):", 1).cast("bigint")
          .as("doc_id"),
        col("entity_id"), col("entity_name"),
        round(col("confidence"), 2).as("confidence"), col("doc_status"))
  }

  /** Pipeline progress ladder in the gate (document_tasks.py via
    * PipelineProgress.ladder): per-document outcome counts derived
    * from doc_id so every message parameterizes differently; even
    * documents parse inline. The 100% frame repeats the 95-step
    * message with status completed — the Job.complete() quirk. */
  private def q135(s: SparkSession, dir: String): DataFrame = {
    import operators.PipelineProgress
    val outcomes = t(s, dir, "documents").select(
      col("doc_id").cast("string").as("document_id"),
      (col("doc_id") % 2 === 0).as("inline"),
      (col("doc_id") % 7 + 1).as("chunk_count"),
      (col("doc_id") % 7 + 1).as("embeddings_generated"),
      (col("doc_id") % 11).as("mention_count"),
      (col("doc_id") % 5).as("canonical_count"),
      (col("doc_id") % 3).as("relationships_inserted"))
    PipelineProgress.ladder(outcomes)
      .select(col("document_id").cast("bigint").as("doc_id"),
        col("seq"), col("progress"), col("current_step"),
        col("job_status"))
  }

  /** Metadata-update route in the gate (PUT /documents/{id}/metadata,
    * documents.py:887-902 via DocumentCuration.updateMetadataBatch):
    * seven request arms per document over a doc fixture with existing
    * metadata {keep:v0, old:x} — plain-key merge overwrite (k0), the
    * presence-not-truthiness author pop of an EMPTY string plus a
    * mime_type pop (k1), the security ladder clobbering a same-dict
    * access_level (k2: partner beats 9), an unknown level's default 1
    * (k3), a bare access_level pop (k4), merge=false still merging
    * (the dead query param, k5), and the 404 arm (k6). route_arm pins
    * the LIVE route outcome: the plain-dict delegate 500s on .dict()
    * for every existing document, so only the 404 is reachable. */
  private def q136(s: SparkSession, dir: String): DataFrame = {
    import operators.DocumentCuration
    val d = t(s, dir, "documents").select(col("doc_id"))
    def did(k: Column) = concat(lit("D"), col("doc_id"), lit(":"), k)
    val docs = d.select(col("doc_id"),
        explode(sequence(lit(0), lit(5))).as("k"))
      .select(did(col("k")).as("document_id"), lit("a0").as("author"),
        lit("text/plain").as("mime_type"), lit("public").as("security_level"),
        lit(1).as("access_level"),
        map(lit("keep"), lit("v0"), lit("old"), lit("x")).as("metadata"))
    val requests = d.select(col("doc_id"),
        explode(sequence(lit(0), lit(6))).as("k"))
      .select(
        when(col("k") === 6, did(lit("miss"))).otherwise(did(col("k")))
          .as("document_id"),
        when(col("k") === 0, map(lit("old"), lit("y"), lit("extra"), lit("z")))
          .when(col("k") === 1, map(lit("author"), lit(""),
            lit("mime_type"), lit("app/pdf")))
          .when(col("k") === 2, map(lit("security_level"), lit("partner"),
            lit("access_level"), lit("9")))
          .when(col("k") === 3, map(lit("security_level"), lit("weird")))
          .when(col("k") === 4, map(lit("access_level"), lit("7")))
          .when(col("k") === 5, map(lit("extra"), lit("m")))
          .otherwise(map(lit("extra"), lit("n"))).as("new_metadata"),
        (col("k") =!= 5).as("merge"))
    DocumentCuration.updateMetadataBatch(docs, requests, "T1")
      .select(
        regexp_extract(col("document_id"), "^D(\\d+):", 1).cast("bigint")
          .as("doc_id"),
        regexp_extract(col("document_id"), ":(\\w+)$", 1).as("k"),
        col("merge"), col("arm"), col("author"), col("mime_type"),
        col("security_level"), col("access_level"),
        element_at(col("metadata"), "keep").as("m_keep"),
        element_at(col("metadata"), "old").as("m_old"),
        element_at(col("metadata"), "extra").as("m_extra"),
        col("updated_at"), col("message"),
        col("route_arm"), col("route_detail"))
  }

  /** Supabase chunk CRUD twins in the gate (PUT/DELETE /chunks/{id},
    * chunks.py:34-82 via ChunkCuration.supabaseChunkResponses/Apply):
    * per document, three chunks and five requests — a valid text
    * update (chunk_size stays STALE at 6), an empty-text update (the
    * `if not text` 400), an unknown-id update (404), a delete of the
    * MIDDLE chunk (the survivor keeps number 3 — no renumbering,
    * unlike the richer DELETE of q119), and an unknown-id delete.
    * 'resp' rows carry the route arms, 'state' rows the post-state. */
  private def q137(s: SparkSession, dir: String): DataFrame = {
    import operators.ChunkCuration
    val d = t(s, dir, "documents").select(col("doc_id"))
    def cid(k: Column) = concat(lit("c"), col("doc_id"), lit(":"), k)
    val chunks = d.select(col("doc_id"),
        explode(sequence(lit(1), lit(3))).as("k"))
      .select(cid(col("k")).as("chunk_id"),
        concat(lit("D"), col("doc_id")).as("document_id"),
        col("k").as("chunk_number"),
        concat(lit("text "), col("k")).as("chunk_text"),
        lit(6).as("chunk_size"),
        (col("k") * 10).cast("long").as("start_position"),
        (col("k") * 10 + 6).cast("long").as("end_position"))
    val updates = d.select(col("doc_id"), explode(array(
        struct(cid(lit(1)).as("chunk_id"), lit("replacement one").as("text")),
        struct(cid(lit(3)).as("chunk_id"), lit("").as("text")),
        struct(cid(lit("x")).as("chunk_id"), lit("t").as("text")))).as("u"))
      .select(col("u.chunk_id"), col("u.text"))
    val deletes = d.select(explode(array(cid(lit(2)), cid(lit("y"))))
      .as("chunk_id"))
    val resp = ChunkCuration.supabaseChunkResponses(chunks, updates, deletes)
      .select(lit("resp").as("section"), col("op"), col("chunk_id"),
        col("arm"), col("success"), col("message"), col("detail"),
        lit(null).cast("int").as("chunk_number"),
        lit(null).cast("string").as("chunk_text"),
        lit(null).cast("int").as("chunk_size"),
        lit(null).cast("string").as("updated_at"))
    val state = ChunkCuration.supabaseChunkApply(chunks, updates, deletes,
        "T1")
      .select(lit("state").as("section"),
        lit(null).cast("string").as("op"), col("chunk_id"),
        lit(null).cast("string").as("arm"),
        lit(null).cast("boolean").as("success"),
        lit(null).cast("string").as("message"),
        lit(null).cast("string").as("detail"),
        col("chunk_number"), col("chunk_text"), col("chunk_size"),
        col("updated_at"))
    resp.unionByName(state)
      .select(regexp_extract(col("chunk_id"), "^c(\\d+):", 1)
          .cast("bigint").as("doc_id"),
        regexp_extract(col("chunk_id"), ":(\\w+)$", 1).as("ck"),
        col("section"), col("op"), col("arm"), col("success"),
        col("message"), col("detail"), col("chunk_number"),
        col("chunk_text"), col("chunk_size"), col("updated_at"))
  }

  /** Sources-scan dispatcher in the gate (POST /sources/scan,
    * processing.py:36-83 via ConnectorScans.sourcesScanDispatch):
    * seven arms per document — null source defaults to "all" with
    * both connectors queued, the DRIVE alias case-folds, a
    * notion-only "all" level picks scan_notion_all, the DEFAULT
    * params (all/all) 400 on the gdrive arm before notion ever runs,
    * an invalid notion-only level rejects with the six-entry list,
    * an unknown source is its own 400, gdrive rejects with the
    * five-entry list, and a NULL security_level takes the param's own
    * "all" default (k7: notion queues scan_notion_all). */
  private def q138(s: SparkSession, dir: String): DataFrame = {
    import operators.ConnectorScans
    val d = t(s, dir, "documents").select(col("doc_id"))
    val requests = d.select(col("doc_id"),
        explode(sequence(lit(0), lit(7))).as("k"))
      .select(
        concat(lit("r"), col("doc_id"), lit(":"), col("k"))
          .as("request_id"),
        when(col("k") === 1, lit("DRIVE"))
          .when(col("k") === 2 || col("k") === 4 || col("k") === 7,
            lit("notion"))
          .when(col("k") === 3, lit("all"))
          .when(col("k") === 5, lit("slack"))
          .when(col("k") === 6, lit("google_drive")).as("source"),
        when(col("k") === 0, lit("public"))
          .when(col("k") === 1, lit("client"))
          .when(col("k") === 2 || col("k") === 3, lit("all"))
          .when(col("k") === 5, lit("public"))
          .when(col("k") === 7, lit(null).cast("string"))
          .otherwise(lit("weird")).as("security_level"),
        when(col("k") === 1, lit(".pdf, .md")).as("file_types"),
        (col("k") % 2 === 0).as("force_update"))
    ConnectorScans.sourcesScanDispatch(requests)
      .select(
        regexp_extract(col("request_id"), "^r(\\d+):", 1).cast("bigint")
          .as("doc_id"),
        regexp_extract(col("request_id"), ":(\\d+)$", 1).cast("int")
          .as("k"),
        col("source_norm"), col("arm"), col("status"),
        col("gdrive_included"), col("notion_included"),
        col("gdrive_task"),
        when(col("file_type_list").isNotNull,
          array_join(col("file_type_list"), "|")).as("file_types_parsed"),
        col("notion_task"), col("detail"))
  }

  /** Celery job-status projection in the gate
    * (GET /jobs/{job_id}/status, processing.py:171-205 via
    * Jobs.celeryStatus): the four backend states plus the
    * AsyncResult quirk — an unknown id reports PENDING, never 404;
    * successful/failed stay NULL until ready; result rides success
    * only, error+traceback ride failure only. */
  private def q139(s: SparkSession, dir: String): DataFrame = {
    import operators.Jobs
    val d = t(s, dir, "documents").select(col("doc_id"))
    def jid(k: Column) = concat(lit("j"), col("doc_id"), lit(":"), k)
    val states = d.select(col("doc_id"),
        explode(sequence(lit(0), lit(3))).as("k"))
      .select(jid(col("k")).as("job_id"),
        when(col("k") === 0, lit("SUCCESS"))
          .when(col("k") === 1, lit("FAILURE"))
          .when(col("k") === 2, lit("STARTED"))
          .otherwise(lit("REVOKED")).as("celery_state"),
        when(col("k") === 0, lit("r0")).as("result"),
        when(col("k") === 1, lit("boom")).as("error"),
        when(col("k") === 1, lit("tb1")).as("traceback"))
    val requests = d.select(
      explode(array(lit(0), lit(1), lit(2), lit(3), lit(9))).as("k"),
      col("doc_id")).select(jid(col("k")).as("job_id"))
    Jobs.celeryStatus(requests, states)
      .select(
        regexp_extract(col("job_id"), "^j(\\d+):", 1).cast("bigint")
          .as("doc_id"),
        regexp_extract(col("job_id"), ":(\\d+)$", 1).cast("int").as("k"),
        col("status"), col("ready"), col("successful"), col("failed"),
        col("result"), col("error"), col("traceback"))
  }

  /** Tracker job-status projection in the gate
    * (GET /process/jobs/{job_id}/status, processing.py:328-358 via
    * Jobs.trackerStatus): the ok arm with the route's defaulted
    * payload (null stored message answers "", null metadata and
    * result answer {} — all .get defaults), and the 404 arm with its
    * detail string. */
  private def q140(s: SparkSession, dir: String): DataFrame = {
    import operators.Jobs
    val d = t(s, dir, "documents").select(col("doc_id"))
    def tid(k: Column) = concat(lit("t"), col("doc_id"), lit(":"), k)
    val jobs = d.select(col("doc_id"),
        explode(sequence(lit(1), lit(2))).as("k"))
      .select(tid(col("k")).as("id"),
        when(col("k") === 1, lit("notion_scan"))
          .otherwise(lit("gdrive_scan")).as("type"),
        when(col("k") === 1, lit("running")).otherwise(lit("completed"))
          .as("status"),
        when(col("k") === 1, lit(40)).otherwise(lit(100)).as("progress"),
        when(col("k") === 2, lit("done")).as("message"),
        when(col("k") === 1, map(lit("a"), lit("1"))).as("metadata"),
        lit("T0").as("created_at"), lit("T1").as("updated_at"),
        when(col("k") === 2, lit("T2")).as("completed_at"),
        when(col("k") === 2, lit("e2")).as("error"),
        when(col("k") === 2, map(lit("n"), lit("5"))).as("result"))
    val requests = d.select(
      explode(array(lit(1), lit(2), lit(9))).as("k"), col("doc_id"))
      .select(tid(col("k")).as("job_id"))
    Jobs.trackerStatus(jobs, requests)
      .select(
        regexp_extract(col("job_id"), "^t(\\d+):", 1).cast("bigint")
          .as("doc_id"),
        regexp_extract(col("job_id"), ":(\\d+)$", 1).cast("int").as("k"),
        col("arm"), col("type"), col("status"), col("progress"),
        col("message"), element_at(col("metadata"), "a").as("m_a"),
        size(col("metadata")).as("meta_n"),
        element_at(col("result"), "n").as("r_n"),
        size(col("result")).as("res_n"),
        col("created_at"), col("updated_at"), col("completed_at"),
        col("error"), col("detail"))
  }

  /** Search health in the gate (GET /search/health, search.py:317-347
    * via Search.healthCheck): four probe arms per document — both up
    * (200 healthy), qdrant down and neo4j down (both fail SOFT into
    * 503 unhealthy with per-service booleans — neo4j's own
    * health_check swallows driver errors, neo4j_service.py:718-729),
    * and the route's except arm (503 error shape, no services
    * payload) — dead code for driver failures, pinned as a shape. */
  private def q141(s: SparkSession, dir: String): DataFrame = {
    import operators.Search
    val d = t(s, dir, "documents").select(col("doc_id"))
    val probes = d.select(col("doc_id"),
        explode(sequence(lit(0), lit(3))).as("k"))
      .select(
        concat(lit("h"), col("doc_id"), lit(":"), col("k"))
          .as("check_id"),
        (col("k") =!= 1).as("qdrant_ok"),
        (col("k") =!= 2).as("neo4j_ok"),
        when(col("k") === 3, lit("conn refused")).as("service_error"))
    Search.healthCheck(probes)
      .select(
        regexp_extract(col("check_id"), "^h(\\d+):", 1).cast("bigint")
          .as("doc_id"),
        regexp_extract(col("check_id"), ":(\\d+)$", 1).cast("int")
          .as("k"),
        col("status"), col("status_code"), col("svc_qdrant"),
        col("svc_neo4j"), col("svc_overall"), col("message"))
  }

  /** Service-init census in the gate (dependency_manager.py:34-127
    * via ServiceInit.initCensus): four probes per document with
    * parity-alternating outcomes — database failures land 'error'
    * while the other three land 'unavailable', healthy messages are
    * the fixed per-service strings, and a HEALTHY redis still never
    * registers in the services dict. healthy_n/total_n carry the
    * init summary per boot. */
  private def q142(s: SparkSession, dir: String): DataFrame = {
    import dataflow.ServiceInit
    val d = t(s, dir, "documents").select(col("doc_id"))
    val probes = d.select(col("doc_id"),
        explode(sequence(lit(0), lit(3))).as("k"))
      .select(col("doc_id"),
        concat(lit("b"), col("doc_id")).as("boot_id"),
        element_at(array(lit("database"), lit("neo4j"), lit("qdrant"),
          lit("redis")), col("k") + 1).as("service"),
        ((col("doc_id") + col("k")) % 2 === 0).as("ok"),
        when((col("doc_id") + col("k")) % 2 =!= 0,
          concat(lit("boom"), col("k"))).as("error"))
    val census = ServiceInit.initCensus(probes)
    census
      .join(ServiceInit.initSummary(census), Seq("boot_id"))
      .select(substring(col("boot_id"), 2, 100).cast("bigint")
          .as("doc_id"),
        col("service"), col("status"), col("message"),
        col("registered"), col("healthy_n"), col("total_n"))
  }

  /** LlamaParse wire contracts in the gate
    * (llamaparse_service.py:26-409 via LlamaParseWire): thirteen
    * arms per document — the four endpoint base forms plus the
    * trailing-slash rstrip, the mime table including the missing-.md
    * octet-stream quirk, the legacy/unknown tier mappings, and the
    * Python-or markdown normalization where an empty string falls
    * through and all-falsy yields null. */
  private def q143(s: SparkSession, dir: String): DataFrame = {
    import operators.LlamaParseWire
    val d = t(s, dir, "documents").select(col("doc_id"))
    val rows = d.select(col("doc_id"),
      explode(sequence(lit(0), lit(12))).as("k"))
    val k = col("k")
    val base = when(k === 0, lit("https://h/api/parsing"))
      .when(k === 1, lit("https://h/api/v1"))
      .when(k === 2, lit("https://h/api"))
      .when(k === 3, lit("https://h"))
      .when(k === 4, lit("https://h/api/v1//"))
    val result =
      when(k <= 4, LlamaParseWire.parsingEndpoint(base, lit("/upload")))
        .when(k === 5, LlamaParseWire.inferMime(lit("Report.PDF")))
        .when(k === 6, LlamaParseWire.inferMime(lit("notes.md")))
        .when(k === 7, LlamaParseWire.inferMime(lit("page.HTM")))
        .when(k === 8, LlamaParseWire.parsingMode(lit("premium")))
        .when(k === 9, LlamaParseWire.parsingMode(lit("Agentic_Plus")))
        .when(k === 10, LlamaParseWire.parsingMode(lit("weird")))
        .when(k === 11, LlamaParseWire.normalizedMarkdown(lit(""),
          lit("from content"), lit("x")))
        .otherwise(LlamaParseWire.normalizedMarkdown(lit(""), lit(""),
          lit(null).cast("string")))
    rows.select(col("doc_id"), k.cast("int").as("k"),
      result.as("result"))
  }

  /** Relationship-type canonicalization in the gate
    * (utils/relationship_types.py via RelationshipTypes): eleven
    * arms per document — falsy/blank defaults, alias hits (including
    * a multi-word and an underscored alias), the sanitize-and-member
    * path with punctuation, the not-in-set default, and the label
    * formatting's echo-raw-only-when-different rule. */
  private def q144(s: SparkSession, dir: String): DataFrame = {
    import operators.RelationshipTypes
    val d = t(s, dir, "documents").select(col("doc_id"))
    val rows = d.select(col("doc_id"),
      explode(sequence(lit(0), lit(10))).as("k"))
    val k = col("k")
    val canonInput = when(k === 2, lit("may cause"))
      .when(k === 3, lit("  Helps Prevent Removal Of "))
      .when(k === 4, lit("located_in"))
      .when(k === 5, lit("component of"))
      .when(k === 6, lit("conflicts-with!"))
      .when(k === 7, lit("totally novel"))
      .when(k === 1, lit("   "))
    val result =
      when(k <= 7, RelationshipTypes.canonicalize(canonInput))
        .when(k === 8, RelationshipTypes.formatLabel(lit("CAUSES"),
          lit("may cause")))
        .when(k === 9, RelationshipTypes.formatLabel(lit("MITIGATES"),
          lit("reduces  vibration")))
        .otherwise(RelationshipTypes.formatLabel(lit("COMPATIBLE_WITH"),
          lit(null).cast("string")))
    rows.select(col("doc_id"), k.cast("int").as("k"),
      result.as("result"))
  }

  /** App-level health census in the gate (GET /health,
    * app/main.py:150-221 via AppHealth.healthCensus): six arms per
    * document — all-up with a worker count, the UNHEALTHY-neo4j-
    * stays-healthy quirk, the three error arms that DO degrade, and
    * the zero-workers collapse. */
  private def q145(s: SparkSession, dir: String): DataFrame = {
    import operators.AppHealth
    val d = t(s, dir, "documents").select(col("doc_id"))
    val k = col("k")
    val probes = d.select(col("doc_id"),
        explode(sequence(lit(0), lit(5))).as("k"))
      .select(concat(lit("c"), col("doc_id"), lit(":"), k).as("check_id"),
        (k =!= 1).as("neo4j_up"),
        when(k === 2, lit("boom")).as("neo4j_error"),
        when(k === 3, lit("qd down")).as("qdrant_error"),
        when(k === 4, lit("rd down")).as("redis_error"),
        when(k === 5, lit(null).cast("int"))
          .otherwise(lit(2)).as("celery_workers"))
    AppHealth.healthCensus(probes)
      .select(
        regexp_extract(col("check_id"), "^c(\\d+):", 1).cast("bigint")
          .as("doc_id"),
        regexp_extract(col("check_id"), ":(\\d+)$", 1).cast("int")
          .as("k"),
        col("status"), col("svc_neo4j"), col("svc_qdrant"),
        col("svc_redis"), col("svc_celery"))
  }

  /** Compat sources-scan dispatcher in the gate
    * (main_fixed.py:223-266 via ConnectorScans.sourcesScanCompat):
    * six arms per document — exact-match notion, a CASED source
    * falling to scan-both (no unknown-source 400 in this variant),
    * the default-params call that QUEUES notion and then 500s on
    * gdrive, a gdrive-only rejection, a notion-only rejection (both
    * wrapped as "400: ..." 500 details), and an unknown source
    * scanning both successfully. */
  private def q146(s: SparkSession, dir: String): DataFrame = {
    import operators.ConnectorScans
    val d = t(s, dir, "documents").select(col("doc_id"))
    val k = col("k")
    val requests = d.select(col("doc_id"),
        explode(sequence(lit(0), lit(5))).as("k"))
      .select(
        concat(lit("r"), col("doc_id"), lit(":"), k).as("request_id"),
        when(k === 0 || k === 4, lit("notion"))
          .when(k === 1, lit("NOTION"))
          .when(k === 3, lit("drive"))
          .when(k === 5, lit("slack")).as("source"),
        when(k === 0, lit("employee"))
          .when(k === 1, lit("client"))
          .when(k === 2, lit("all"))
          .when(k === 3 || k === 4, lit("weird"))
          .when(k === 5, lit("public")).as("security_level"))
    ConnectorScans.sourcesScanCompat(requests)
      .select(
        regexp_extract(col("request_id"), "^r(\\d+):", 1).cast("bigint")
          .as("doc_id"),
        regexp_extract(col("request_id"), ":(\\d+)$", 1).cast("int")
          .as("k"),
        col("arm"), col("notion_attempted"), col("notion_queued"),
        col("notion_task"), col("gdrive_attempted"),
        col("gdrive_queued"), col("status_code"), col("detail"))
  }

  /** Per-document entity report in the gate
    * (GET /entities/documents/{id}/entities, entities.py:583-645 via
    * EntityCrud.documentEntityReport): the by-type census with window
    * totals — COMPONENT 2 of 3, ORGANIZATION 1 of 3 per document. */
  private def q125(s: SparkSession, dir: String): DataFrame = {
    import operators.EntityCrud
    EntityCrud.documentEntityReport(entityCrudCanonical(s, dir),
        entityCrudMentions(s, dir))
      .select(substring(col("document_id"), 2, 100).cast("bigint")
          .as("doc_id"),
        col("type"), col("n_of_type"), col("total_entities"))
  }

  /** Quick search in the gate (GET /search/quick, search.py:211-247
    * via Search.quickSearch over the q24 hybrid fusion): the
    * simplified response frame — snippet truncated to 200 chars plus
    * "..." only when strictly longer, metadata type defaulted to
    * "document". */
  private def q126(s: SparkSession, dir: String): DataFrame = {
    import operators.Search
    val docs = t(s, dir, "documents").select(col("doc_id"),
      col("text").as("content"),
      concat(lit("doc:"), col("doc_id")).as("title"),
      lit(null).cast("string").as("doc_type"))
    Search.quickSearch(q24(s, dir), docs, "doc_id", "rrf")
      .select(col("doc_id"), col("title"), col("snippet"),
        col("score"), col("type"))
  }

  /** Suggested metadata in the gate
    * (GET /documents/{id}/suggested-metadata, documents.py:957-1007
    * via Metadata.suggestedMetadata): doc_id%3==0 carries a truthy
    * ai_extracted marker with the suggestion keys, %3==1 a JSON-false
    * marker, %3==2 no marker at all — both latter arms get the null
    * frame with the use-extract-metadata-first message. */
  private def q127(s: SparkSession, dir: String): DataFrame = {
    import operators.Metadata
    val docs = t(s, dir, "documents").select(
      concat(lit("D"), col("doc_id")).as("document_id"),
      when(col("doc_id") % 3 === 0,
        map(lit("ai_extracted"), lit("true"),
          lit("category"), lit("manual"),
          lit("tags"), concat(lit("pump,tag"), col("doc_id")),
          lit("author"), lit("ai"),
          lit("extraction_timestamp"), lit("T1")))
        .when(col("doc_id") % 3 === 1,
          map(lit("ai_extracted"), lit("false"), lit("category"), lit("x")))
        .otherwise(map(lit("category"), lit("y"))).as("metadata"))
    Metadata.suggestedMetadata(docs)
      .select(substring(col("document_id"), 2, 100).cast("bigint")
          .as("doc_id"),
        col("has_suggestions"), col("category"), col("tags"),
        col("author"), col("department"), col("version"),
        col("extraction_timestamp"), col("message"))
  }

  /** Process admission in the gate (POST /documents/{id}/process,
    * documents.py:1009-1077 via DocumentCuration.processAdmission):
    * statuses cycle with doc_id%5 and the force flag with parity, so
    * every arm appears — including force-from-processing (busy 400)
    * and the force cleanup census over per-doc chunk/mention/
    * relationship fixtures sized by doc parity. */
  private def q128(s: SparkSession, dir: String): DataFrame = {
    import operators.DocumentCuration
    val d = t(s, dir, "documents").select(col("doc_id"))
    val did = concat(lit("P"), col("doc_id"))
    val docs = d.select(did.as("document_id"),
      when(col("doc_id") % 5 === 0, lit("approved"))
        .when(col("doc_id") % 5 === 1, lit("processing"))
        .when(col("doc_id") % 5 === 2, lit("failed"))
        .when(col("doc_id") % 5 === 3, lit("discovered"))
        .otherwise(lit("pending_review")).as("status"))
    // two chunks, one mention per doc; relationships only on even docs
    val chunks = d.select(col("doc_id"),
        explode(array(lit(1), lit(2))).as("c"))
      .select(concat(lit("P"), col("doc_id")).as("document_id"))
    val mentions = d.select(did.as("document_id"))
    val rels = d.where(col("doc_id") % 2 === 0)
      .select(did.as("document_id"))
    val requests = d.select(did.as("document_id"),
      (col("doc_id") % 2 === 0).as("force_reprocess"))
    DocumentCuration.processAdmission(docs, chunks, mentions, rels,
        requests)
      .select(substring(col("document_id"), 2, 100).cast("bigint")
          .as("doc_id"),
        col("force_reprocess"), col("arm"), col("new_status"),
        col("chunks_deleted"), col("mentions_deleted"),
        col("relationships_deleted"))
  }

  /** Rechunk in the gate (POST /chunks/{document_id}/rechunk,
    * chunks.py:293-350, :516-594 via DocProcessorChunker.rechunk):
    * method="semantic" — which the endpoint advertises but
    * chunk_document routes to the FIXED chunker
    * (document_processor.py:49-54) — over the real document text at
    * size 400 / overlap 50, with md5[:8] chunk ids and the
    * pending_review + last_chunking framing. */
  private def q129(s: SparkSession, dir: String): DataFrame = {
    import operators.DocProcessorChunker
    val docs = t(s, dir, "documents").select(col("doc_id"),
      col("doc_id").cast("string").as("document_id"),
      col("text").as("content"))
    DocProcessorChunker.rechunk(docs.select(col("document_id"),
        col("content")), "semantic", 400, 50)
      .select(col("document_id").cast("bigint").as("doc_id"),
        col("arm"), col("chunk_number"), col("chunk_text"),
        col("chunk_size"), col("start_position"), col("end_position"),
        col("chunk_id"), col("method"), col("doc_status"),
        col("total_chunks"))
  }

  /** Progress-stream frames in the gate
    * (GET /documents/{id}/progress, documents.py:148-248 via
    * ProgressStream.pollTimeline): the Celery-driven poll-only
    * schedule — connected, a job_update per silent tick, a heartbeat
    * after every 5th, the 30-second timeout frame, and NEVER a
    * 'complete' (the completion check reads only in-process queue
    * events). */
  private def q130(s: SparkSession, dir: String): DataFrame = {
    import streaming.ProgressStream
    val jobs = t(s, dir, "documents").select(col("doc_id"),
      concat(lit("D"), col("doc_id")).as("document_id"),
      concat(lit("j"), col("doc_id")).as("job_id"),
      lit("running").as("status"),
      (col("doc_id") % 100).cast("int").as("progress"),
      concat(lit("step"), col("doc_id")).as("current_step"))
    ProgressStream.pollTimeline(jobs.drop("doc_id"))
      .select(substring(col("document_id"), 2, 100).cast("bigint")
          .as("doc_id"),
        col("seq"), col("frame"))
  }

  /** Connector scan admission in the gate (POST /process/notion +
    * /process/gdrive, processing.py:206-321 via ConnectorScans):
    * levels cycle with doc_id%3 so every arm appears — including the
    * gdrive quirk where the documented default security_level="all"
    * is rejected (its valid list omits "all", leaving the scan-all
    * branch dead). */
  private def q131(s: SparkSession, dir: String): DataFrame = {
    import operators.ConnectorScans
    val d = t(s, dir, "documents").select(col("doc_id"),
      (col("doc_id") % 3).as("m"))
    val lvl = when(col("m") === 0, lit("all"))
      .when(col("m") === 1, lit("client")).otherwise(lit("bogus"))
    val notion = ConnectorScans.notionScan(d.select(
        concat(lit("n"), col("doc_id")).as("request_id"),
        lvl.as("security_level"),
        lit(null).cast("string").as("workspace_id"),
        (col("m") === 1).as("force_update")))
      .select(col("request_id"), lit("notion").as("src"),
        col("security_level"), col("arm"), col("task"),
        lit(null).cast("string").as("file_types_parsed"), col("detail"))
    val glvl = when(col("m") === 0, lit("all"))
      .when(col("m") === 1, lit("public")).otherwise(lit("employee"))
    val gft = when(col("m") === 1, lit(" .pdf , .md ")).otherwise(lit(""))
    val gdrive = ConnectorScans.gdriveScan(d.select(
        concat(lit("g"), col("doc_id")).as("request_id"),
        glvl.as("security_level"), gft.as("file_types"),
        lit(false).as("force_update")))
      .select(col("request_id"), lit("gdrive").as("src"),
        col("security_level"), col("arm"), col("task"),
        when(col("file_type_list").isNotNull,
          array_join(col("file_type_list"), "|")).as("file_types_parsed"),
        col("detail"))
    notion.unionByName(gdrive)
  }

  /** Bridge graph search in the gate (POST /bridge/search/graph,
    * bridge.py:299-374 via Bridge.graphSearch): per-document
    * namespaced 5-node graphs with a doc-unique "pump<doc>x" token so
    * each query matches exactly its own doc's two candidates — the
    * lowest-id one becomes the single root (the reference's LIMIT 1),
    * e4 keeps its minimum distance over two paths, and e3's null type
    * stays null (the reference's "Unknown" default is dead code). */
  private def q132(s: SparkSession, dir: String): DataFrame = {
    import operators.Bridge
    val d = t(s, dir, "documents").select(col("doc_id"))
    def nid(k: Int) = concat(lit("e"), col("doc_id"), lit(s":$k"))
    val tok = concat(lit("pump"), col("doc_id"), lit("x"))
    val nodes = d.select(col("doc_id"),
        explode(array(lit(1), lit(2), lit(3), lit(4), lit(5))).as("k"))
      .select(concat(lit("e"), col("doc_id"), lit(":"), col("k")).as("id"),
        when(col("k") === 1, concat(lit("Pump"), col("doc_id"), lit("x big")))
          .when(col("k") === 2, concat(lit("pump"), col("doc_id"),
            lit("x seal")))
          .when(col("k") === 3, lit("Motor"))
          .when(col("k") === 4, lit("Valve"))
          .otherwise(lit("Unrelated")).as("name"),
        when(col("k") === 3, lit(null).cast("string"))
          .when(col("k") === 5, lit("OTHER")).otherwise(lit("COMPONENT"))
          .as("type"))
    val edges = d.select(col("doc_id"), explode(array(
        struct(nid(1).as("src"), nid(3).as("dst")),
        struct(nid(3).as("src"), nid(4).as("dst")),
        struct(nid(1).as("src"), nid(4).as("dst")))).as("e"))
      .select(col("e.src"), col("e.dst"))
    val queries = d.select(
      concat(lit("Q"), col("doc_id")).as("query_id"),
      upper(tok).as("entity_name"))
    Bridge.graphSearch(nodes, edges, queries, 2, 50)
      .select(substring(col("query_id"), 2, 100).cast("bigint")
          .as("doc_id"),
        col("id"), col("name"), col("type"), col("distance"))
  }

  /** Bridge weighted hybrid in the gate (POST /bridge/search/hybrid,
    * bridge.py:377-465 via Bridge.weightedHybrid): the vector arm
    * dedups per document keeping the max score and its text, empty
    * document_ids drop, the graph arm mints synthetic doc_<entity>
    * ids at inverse-distance scores, and the 0.7/0.3 weighted blend
    * cuts to the top 3. */
  private def q133(s: SparkSession, dir: String): DataFrame = {
    import operators.Bridge
    val d = t(s, dir, "documents").select(col("doc_id"))
    val qid = concat(lit("Q"), col("doc_id"))
    val vector = d.select(col("doc_id"), explode(array(
        struct(lit("d1").as("did"), lit(0.9).as("score"),
          lit("best text").as("text")),
        struct(lit("d1").as("did"), lit(0.5).as("score"),
          lit("worse text").as("text")),
        struct(lit("d2").as("did"), lit(0.6).as("score"),
          lit("t2").as("text")),
        struct(lit("").as("did"), lit(0.99).as("score"),
          lit("dropped").as("text")))).as("v"))
      .select(qid.as("query_id"),
        when(col("v.did") === "", lit(""))
          .otherwise(concat(col("v.did"), lit(":"), col("doc_id")))
          .as("document_id"),
        col("v.score"), col("v.text"))
    val graph = d.select(col("doc_id"), explode(array(
        struct(lit("e7").as("id"), lit("Pump").as("name"),
          lit(0).as("distance")),
        struct(lit("e8").as("id"), lit("Seal").as("name"),
          lit(1).as("distance")))).as("g"))
      .select(qid.as("query_id"),
        concat(col("g.id"), lit(":"), col("doc_id")).as("id"),
        col("g.name"), col("g.distance"))
    Bridge.weightedHybrid(vector, graph, 0.7, 0.3, 3)
      .select(substring(col("query_id"), 2, 100).cast("bigint")
          .as("doc_id"),
        col("document_id"), round(col("score"), 6).as("score"),
        col("vector_score"), col("graph_score"), col("text"))
  }

  /** Document security/access levels in the gate (document.py:76-77,
    * SECURITY_LEVELS.md): tag every document with a security level,
    * then census what each user level 1..5 can see — the hierarchy
    * rule `access_level <= user_level` ("higher levels see everything
    * below"). The five user levels are a broadcast 5-row frame; the
    * corpus never shuffles. */
  private def q76(s: SparkSession, dir: String): DataFrame = {
    import operators.Security
    val levels = array(q75Levels.map(lit): _*)
    val tagged = Security.tag(
      t(s, dir, "documents").select(col("doc_id"), col("n_chars"),
        element_at(levels, (col("doc_id") % 6 + 1).cast("int")).as("security_level")),
      "security_level")
    val users = s.range(1, 6).select(col("id").cast("int").as("user_level"))
    Security.accessibleTo(tagged.crossJoin(broadcast(users)), col("user_level"))
      .groupBy(col("user_level"))
      .agg(count(lit(1)).as("n_visible"),
        sum(col("n_chars")).cast("long").as("n_visible_chars"),
        countDistinct(col("security_level")).as("n_levels"))
  }

  /** Heading-block split in the gate (two_tier_chunker.py:94-133):
    * three deterministic markdown shapes per doc — no headings,
    * heading + trailing section, preamble + heading — censused by
    * block/heading counts and a content digest over (heading, body)
    * pairs, so the preamble-merge and trim semantics are value-checked.
    */
  private def q77(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.HeadingBlocks.headingBlocksOf
    val md = when(col("doc_id") % 3 === 0, col("text"))
      .when(col("doc_id") % 3 === 1,
        concat(lit("# Title\n"), col("text"), lit("\n## More\ndetails here")))
      .otherwise(concat(lit("preamble intro\n# Top\n"), col("text")))
    Partitioning.spread(t(s, dir, "documents"))
      .select(col("doc_id"), headingBlocksOf(md).as("b"))
      .select(col("doc_id"),
        size(col("b")).as("n_blocks"),
        size(filter(col("b"), x => x.getField("heading").isNotNull)).as("n_headed"),
        md5(concat_ws("|", transform(col("b"), x =>
          concat(coalesce(x.getField("heading"), lit("")), lit(">"),
            x.getField("body"))))).as("digest"))
  }

  /** Graph/entity statistics: node counts by type, edge counts by
    * relationship type, degree stats (neo4j_service.py:682-717,
    * state_manager.py:268-287). */
  /** Shared fuzzy-grouping CTE chain (blocking prefix + 0.5 similarity
    * + undirected reachability) — ONE definition for the q46 and q79
    * oracles so the threshold can never de-sync between them. */
  private def fuzzyGroupsCteSql: String =
    s"""n AS (SELECT DISTINCT ${normNameSql("p_name")} AS name FROM part),
       |p AS (SELECT a.name AS name_a, b.name AS name_b
       |      FROM n a JOIN n b
       |        ON substr(a.name, 1, 2) = substr(b.name, 1, 2) AND a.name < b.name
       |      WHERE 1.0 - CAST(levenshtein(a.name, b.name) AS DOUBLE)
       |            / CAST(greatest(len(a.name), len(b.name)) AS DOUBLE) >= 0.5),
       |e AS (SELECT name_a AS s, name_b AS d FROM p
       |      UNION SELECT name_b, name_a FROM p),
       |reach(node, r) AS (
       |  SELECT s, s FROM e
       |  UNION
       |  SELECT reach.node, e.d FROM reach JOIN e ON reach.r = e.s)""".stripMargin

  private def q50(s: SparkSession, dir: String): DataFrame = {
    val typed = t(s, dir, "part")
      .select(Entities.normalizeName(col("p_name")).as("name"),
        Entities.normalizeType(rawPartType).as("etype"))
      .distinct()
    val edges = q30(s, dir)
    val degrees = edges.select(col("entity_a").as("name"))
      .unionByName(edges.select(col("entity_b").as("name")))
      .groupBy(col("name")).agg(count(lit(1)).as("deg"))
    typed.join(degrees, Seq("name"), "left")
      .groupBy(col("etype"))
      .agg(count(lit(1)).as("n_nodes"),
        coalesce(sum(col("deg")), lit(0L)).as("total_degree"),
        max(coalesce(col("deg"), lit(0L))).as("max_degree"))
  }

  /** Duplicate-relationship cleanup in the gate
    * (cleanup_duplicate_relationships.py:40-100 via
    * Maintenance.cleanupDuplicateRelationships): a store-sized
    * relationship frame synthesized from events — colliding
    * (source, target, type) keys, verified/manual/missing-document
    * flags, null created_at and confidence arms — ranked by the
    * keep-priority ladder. */
  private def q147(s: SparkSession, dir: String): DataFrame = {
    import operators.Maintenance
    val e = t(s, dir, "events")
    val rels = e.select(
      col("event_id").as("id"),
      concat(lit("e"), pmod(col("user_id"), lit(20)))
        .as("source_entity_id"),
      concat(lit("e"), pmod(col("user_id") + col("event_id"), lit(15)))
        .as("target_entity_id"),
      upper(col("event_type")).as("relationship_type"),
      (col("event_id") % 7 === 0).as("is_verified"),
      (col("event_id") % 11 === 0).as("meta_manual"),
      when(col("event_id") % 5 === 0, lit(null).cast("string"))
        .when(col("event_id") % 5 === 1, lit(""))
        .otherwise(concat(lit("d"), col("event_id") % 100))
        .as("meta_document_id"),
      when(col("event_id") % 13 === 0, lit(null).cast("string"))
        .otherwise(date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss"))
        .as("created_at"),
      when(col("event_id") % 17 === 0, lit(null).cast("double"))
        .otherwise(round(col("value"), 3)).as("confidence_score"))
    Maintenance.cleanupDuplicateRelationships(rels)
  }

  /** Canonical-id backfill in the gate (backfill_canonical_ids.py
    * :23-112 via Maintenance.backfillCanonicalIds): mentions from
    * events with case/whitespace name variants, the falsy and
    * whitespace-only type arms, and preset assignments excluded; a
    * canonical store from nation exercising the validated-reuse /
    * exact-case / lowercase / mint ladder. */
  private def q148(s: SparkSession, dir: String): DataFrame = {
    import operators.Maintenance
    val k = col("event_id") % 12
    val m = col("event_id") % 6
    val mentions = t(s, dir, "events").select(
      col("event_id").as("mention_id"),
      when(k === 0, lit("Pump")).when(k === 1, lit("  Pump  "))
        .when(k === 2, lit("pump")).when(k === 3, lit("Valve"))
        .when(k === 4, lit("")).when(k === 5, lit("   "))
        .when(k === 6, lit("Motor")).when(k === 7, lit("motor"))
        .when(k === 8, lit("Sensor")).when(k === 9, lit("Bearing"))
        .when(k === 10, lit("Pump")).otherwise(lit("Valve Seat"))
        .as("text"),
      when(m === 0, lit(null).cast("string")).when(m === 1, lit(""))
        .when(m === 2, lit("  ")).when(m === 3, lit("component"))
        .when(m === 4, lit("COMPONENT")).otherwise(lit("Material "))
        .as("mtype"),
      when(col("event_id") % 10 === 9, lit("preset"))
        .otherwise(lit(null).cast("string")).as("canonical_entity_id"))
    val nk = col("n_nationkey")
    val canonicals = t(s, dir, "nation").select(
      concat(lit("c"), nk).as("id"),
      when(nk % 5 === 0, lit("Pump")).when(nk % 5 === 1, lit("pump"))
        .when(nk % 5 === 2, lit("Valve")).when(nk % 5 === 3, lit("Motor"))
        .otherwise(lit("Widget")).as("name"),
      when(nk % 3 === 0, lit("COMPONENT"))
        .when(nk % 3 === 1, lit("component"))
        .otherwise(lit("MATERIAL")).as("ctype"),
      (nk % 4 === 0).as("is_validated"))
    Maintenance.backfillCanonicalIds(mentions, canonicals)
  }

  /** Relationship-type migration in the gate
    * (migrate_relationship_types.py:23-92 via
    * Maintenance.migrateRelationshipTypes): stored labels spanning
    * null, already-canonical, alias-table, sanitize-to-canonical and
    * novel arms, each migrated through the q144-verified vocabulary. */
  private def q149(s: SparkSession, dir: String): DataFrame = {
    import operators.Maintenance
    val k = col("event_id") % 10
    val rels = t(s, dir, "events").select(
      col("event_id").as("id"),
      when(k === 0, lit(null).cast("string"))
        .when(k === 1, lit("CAUSES")).when(k === 2, lit("may cause"))
        .when(k === 3, lit("located_in")).when(k === 4, lit("supports"))
        .when(k === 5, lit("Conflicts With")).when(k === 6, lit("part of"))
        .when(k === 7, lit("depends_on")).when(k === 8, lit("RELATES_TO"))
        .otherwise(lit("uses!")).as("relationship_type"))
    Maintenance.migrateRelationshipTypes(rels)
  }

  /** Stuck-document reset in the gate (reset_stuck_documents.py:24-46
    * via Maintenance.resetStuckDocuments): a status census over
    * documents with null-title and null-name arms driving the
    * title → name → 'Untitled' display chain. */
  private def q150(s: SparkSession, dir: String): DataFrame = {
    import operators.Maintenance
    val d = col("doc_id")
    val docs = t(s, dir, "documents").select(
      concat(lit("D"), d).as("id"),
      when(d % 6 === 0, lit("discovered")).when(d % 6 === 1, lit("processing"))
        .when(d % 6 === 2, lit("pending_review"))
        .when(d % 6 === 3, lit("processing"))
        .when(d % 6 === 4, lit("approved")).otherwise(lit("failed"))
        .as("status"),
      when(d % 3 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("T"), d)).as("title"),
      when(d % 10 === 7, lit(null).cast("string"))
        .otherwise(concat(lit("doc-"), d)).as("name"))
    Maintenance.resetStuckDocuments(docs)
  }

  /** The corpus-adaptive LSH sizing law in the gate
    * (Dedup.lshSizing + the jaccard df-cap switch): the Scala
    * arithmetic evaluated at seven corpus sizes — including the
    * 500-doc gate corpus (→ the (3,12)/(4,4) gate parameters), the
    * 20k/50k sf1 decade (→ the measured (8,12) and 32-hash picks),
    * and 10⁶/10⁹ — cross-checked against DuckDB replaying the same
    * exact comparison (bands·n ≤ budget·2^k — integer-exact on both
    * engines, no float log/ceil). */
  private def q151(s: SparkSession, dir: String): DataFrame = {
    import operators.Dedup
    import s.implicits._
    val law = Seq(500L, 2000L, 5000L, 20000L, 50000L, 1000000L,
        1000000000L)
      .map { n => (n, Dedup.lshSizing(n, 12, 0.5),
        Dedup.lshSizing(n, 4, 0.5, floor = 4), n > 20000L) }
      .toDF("n", "band_bits", "minhash_rows", "jaccard_capped")
    t(s, dir, "documents").select(col("doc_id")).crossJoin(law)
  }

  /** The df-capped Jaccard scale path in the gate
    * (Dedup.jaccardPairsCappedFromIndex at the measured cap 64):
    * frequent shingles leave candidate generation, candidates verify
    * with exact Jaccard over the full shingle sets — the oracle
    * replays both stages, so the capped path's precision AND its
    * recall surface (which pairs survive the cap) are hash-checked. */
  private def q152(s: SparkSession, dir: String): DataFrame =
    Dedup.jaccardPairsCappedFromIndex(docsShingles(s, dir), "doc_id",
      0.2, 64L)

  /** The self-sizing embedding near-dup path in the gate
    * (Dedup.embeddingNearDupLsh at the width Dedup.lshSizing picks
    * from the corpus count): the oracle COMPUTES the sizing law over
    * the same count (r20 — previously it hardcoded q72's (3, 12),
    * which only holds at the 500-vector decade), so the gate is
    * hash-checked at every SF: 3 bits at 500 vectors, 5 at sf0.1's
    * 2000. */
  private def q153(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Dedup.embeddingNearDupLsh(emb, "vec_id", "embedding", 64, 0.4,
      Dedup.lshSizing(emb.count(), 12, 0.5), 12)
  }

  /** The self-sizing MinHash candidate path in the gate (q18's
    * candidates at 4 bands of the rows-per-band Dedup.lshSizing picks
    * at p = 0.5, floor 4): the oracle computes the same law over the
    * documents count — q18's (4 rows × 4 bands) at the 500-doc
    * decade, 5 rows at sf0.1's 5000 (r20; the hardcoded twin
    * diverged there). */
  private def q154(s: SparkSession, dir: String): DataFrame = {
    val toks = docsTokens(s, dir)
    val rows = Dedup.lshSizing(toks.count(), 4, 0.5, floor = 4)
    Dedup.minhashCandidatesFromTokens(toks, "doc_id", 3, 4 * rows, 4)
  }

  /** The main_minimal variant entrypoint in the gate
    * (app/main_minimal.py via MainMinimal): root/health constants,
    * the 404/500 handler shapes, the X-Process-Time header at two
    * decimals, the slow-request warning line, and the STRICTLY-over-
    * 200 ms boundary. */
  private def q155(s: SparkSession, dir: String): DataFrame = {
    import dataflow.MainMinimal
    val k = col("k")
    val reqs = t(s, dir, "documents").select(col("doc_id"))
      .select(col("doc_id"), explode(sequence(lit(0), lit(12))).as("k"))
      .select(col("doc_id"), k,
        concat(lit("r"), col("doc_id"), lit(":"), k).as("request_id"),
        when(k === 8, lit("POST")).otherwise(lit("GET")).as("method"),
        when(k === 8, lit("/api/process")).otherwise(lit("/api/documents"))
          .as("path"),
        when(k === 7, lit(12.25)).when(k === 8, lit(300.5))
          .when(k === 9, lit(42.0))
          // the two Python-rounding tie classes: an exact binary tie
          // (half-to-even → .62) and a shortest-repr pseudo-tie whose
          // exact value sits BELOW the boundary (2.67499… → 2.67)
          .when(k === 11, lit(200.625)).when(k === 12, lit(2.675))
          .otherwise(lit(200.0))
          .as("duration_ms"))
    val census = MainMinimal.processTimeCensus(reqs)
    val (nfErr, nfPath) = MainMinimal.notFoundBody("http://h/api/x")
    reqs.join(census, Seq("request_id"))
      .select(col("doc_id"), k.cast("int").as("k"),
        when(k === 0, lit(MainMinimal.root("name")))
          .when(k === 1, lit(MainMinimal.root("mode")))
          .when(k === 2, lit(MainMinimal.endpoints("documents")))
          .when(k === 3, lit(MainMinimal.health("status")))
          .when(k === 4, lit(MainMinimal.health("database")))
          .when(k === 5, lit(s"$nfErr|${nfPath.get}"))
          .when(k === 6, lit(MainMinimal.internalErrorBody._1))
          .when(k === 7 || k === 9 || k === 12, col("process_time_header"))
          .when(k === 8 || k === 11, col("warning"))
          // k = 10: duration exactly 200 ms — NOT slow (:47 is >)
          .otherwise(col("slow").cast("string")).as("result"))
  }

  /** The transaction-manager contract in the gate
    * (transaction_manager.py:12-49 via TransactionManager): the four
    * outcome arms — commit on success, rollback + re-raise on
    * exception, the decorator's missing-db ValueError, and the
    * decorator's pass-through success — each exercised driver-side
    * on a recording session stub. */
  private def q156(s: SparkSession, dir: String): DataFrame = {
    import dataflow.TransactionManager
    import s.implicits._
    val s0 = new TransactionManager.Session
    val r0 = TransactionManager.databaseTransaction(s0)(_ => "ok")
    val s1 = new TransactionManager.Session
    val e1 =
      try { TransactionManager.databaseTransaction(s1)(_ =>
        throw new RuntimeException("boom")); "unreached" }
      catch { case e: Throwable => e.getMessage }
    val e2 =
      try { TransactionManager.transactional(None)(_ => "x"); "unreached" }
      catch { case e: Throwable => e.getMessage }
    val s3 = new TransactionManager.Session
    val r3 = TransactionManager.transactional(Some(s3))(_ => "ok3")
    val arms = Seq(
      (0, s0.committed, s0.rolledBack, r0),
      (1, s1.committed, s1.rolledBack, e1),
      (2, false, false, e2),
      (3, s3.committed, s3.rolledBack, r3))
      .toDF("k", "committed", "rolled_back", "detail")
    t(s, dir, "documents").select(col("doc_id")).crossJoin(arms)
  }

  /** Entity-type fix batch in the gate (fix_entity_types.py:63-150
    * via Maintenance.fixEntityTypes): mention rows spanning every
    * arm — valid lowercase, case-normalize, mapped (exact-case,
    * padded, lowercase alias), unknown→other, the or-fallback to the
    * `type` column, the whitespace-only entity_type that is truthy so
    * it NEVER falls through yet strips to missing, both all-falsy
    * arms, and dict-key-presence flags driving the wrote_* columns
    * independently of value nullness. */
  private def q157(s: SparkSession, dir: String): DataFrame = {
    import operators.Maintenance
    val k = col("event_id") % 14
    val mentions = t(s, dir, "events").select(
      col("event_id").as("id"),
      when(k === 0, lit("component")).when(k === 1, lit("Component"))
        .when(k === 2, lit("PERSON")).when(k === 3, lit("IssueType"))
        .when(k === 4, lit("  Connector  ")).when(k === 5, lit("Widget"))
        .when(k === 8, lit("   ")).when(k === 11, lit("status"))
        .when(k === 12, lit("degradation")).when(k === 13, lit("measurement"))
        .when(k === 7, lit(""))
        .otherwise(lit(null).cast("string")).as("entity_type"),
      when(k === 6, lit("Equipment")).when(k === 7, lit("Solvent"))
        .when(k === 10, lit(""))
        .otherwise(lit(null).cast("string")).as("type"),
      when(k === 9, col("event_id") % 2 === 0).otherwise(lit(true))
        .as("has_entity_type"),
      when(k.isin(6, 7, 10), lit(true))
        .otherwise(col("event_id") % 3 === 0).as("has_type"))
    Maintenance.fixEntityTypes(mentions)
  }

  /** Engine provider-wire rendering in the gate (anthropic.rs:38-86,
    * ollama.rs:42-52/59-63, voyage.rs:69-76 via the ProviderWires
    * arms): one request per document, the %3 residue picking the arm —
    * Anthropic messages (BTreeMap-sorted keys, fixed object schema
    * tool), Ollama generate (declaration order, explicit nulls),
    * Voyage embed (sorted, input_type on the even residue). Prompts
    * sanitize to [A-Za-z0-9 ] so the oracle reconstructs the bodies by
    * concatenation (q95 precedent); escaping and the image/extraction
    * ladders are ProviderWiresSpec territory. Rendering runs
    * distributed per-row — the production code path on executors. */
  private def q158(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import operators.{AnthropicWire, OllamaWire, VoyageWire}
    val docs = t(s, dir, "documents")
    docs.select(col("doc_id"),
        regexp_replace(substring(col("text"), 1, 40), "[^A-Za-z0-9 ]", "")
          .as("p"))
      .as[(Long, String)]
      .map { case (id, p) =>
        val sys = id % 2 == 0
        val req = (id % 3) match {
          case 0 => AnthropicWire.renderMessages("claude-3-5-sonnet",
            "Extract: " + p,
            systemPrompt = if (sys) Some("extract metadata as json") else None,
            schemaJson = Some("""{"type":"object"}"""))
          case 1 => OllamaWire.renderGenerate(None, "llama3.2",
            "Extract: " + p,
            system = if (sys) Some("extract metadata as json") else None)
          case _ => VoyageWire.renderEmbed("voyage-3.5", p,
            taskType = if (sys) Some("document") else None)
        }
        (id, req.path, req.body)
      }
      .toDF("doc_id", "path", "body")
  }

  /** Duration-spec parsing in the gate (src/base/duration.rs:1-188
    * via dataflow.Durations): the reference's own inline test inputs —
    * both grammars, every error arm — replayed per document through
    * the distributed row path, against a VALUES oracle carrying the
    * reference's expected micros / verbatim error strings. */
  private def q159(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cases = Seq("P1M", "P1W", "P1D", "PT2H", "PT3M", "PT4S",
      "P1Y2M3W4DT5H6M7S", "P1D1D", "P1W1Y", "PT2S1H", "-P1D", "P0D",
      "PT0H0M0S", "PT1.5S", "PT441010.456123S", "PT0.000001S", "P1.5D",
      "P1.25Y", "P2.75M", "P0.5W", "-P1.5D", "P1.5DT2.5H3.5M4.5S",
      "PT1.1H2.2M3.3S", "1 day", "2 DAYS", "4 HoUrS", "6 minutes",
      "8 seconds", "10 milliseconds", "12 microseconds",
      "1 day 2 hours 3 minutes 4 seconds", "7 minutes 6 hours 5 days",
      "-1 day 2 hours", "  1  day   2  hours ", "", "P", "PT", "PD", "PTM",
      "P1H", "P1X", "p1h", "PT1h", "P1D2", "PT1..5S", "P-1D", "1", "one day",
      "1.5 hours", "1 year", "1day", "P1T2H", "P1DT2H T3M")
      .zipWithIndex.map { case (in, k) => (k, in) }
    t(s, dir, "documents").select(col("doc_id"))
      .crossJoin(cases.toDF("k", "input"))
      .as[(Long, Int, String)]
      .map { case (id, k, in) =>
        dataflow.Durations.tryParseMicros(in) match {
          case Right(us) => (id, k, in, true, Some(us), None: Option[String])
          case Left(e) => (id, k, in, false, None: Option[Long], Some(e))
        }
      }
      .toDF("doc_id", "k", "input", "ok", "micros", "err")
  }

  /** Evaluate-and-dump in the gate (dumper.rs:189-242 file naming,
    * :26-57 document shape, yaml_ser scalar mapping via
    * incremental.EvaluateDump): per document, the url-encoded
    * colon-joined key prefix truncated under a 118-byte source name
    * (cap 9 bytes — %7 residues collide and draw source-order `.i`
    * extra ids through the distributed window), plus the emitted YAML
    * document — even docs export two rows sorted by primary key with
    * the %3==2 residue exercising BTreeMap last-wins dedup, odd docs
    * carry the error arm with exports omitted. */
  private def q160(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import incremental.EvaluateDump
    import incremental.EvaluateDump._
    val name118 = "s" * 118
    val base = t(s, dir, "documents").select(col("doc_id")).as[Long]
      .map { id =>
        val parts = Seq("d " + (id % 7), id.toString)
        val prefix = EvaluateDump.fileNamePrefix(parts, name118)
        val m = (id % 3).toInt
        val doc =
          if (id % 2 == 0)
            sourceOutputData(YInt(id), Some(Seq("chunks" -> exportData(Seq(
              Vector[KeyPart](KInt(m)) -> (YHash(Seq("id" -> YInt(m),
                "text" -> YStr("a" + m))): Yml),
              Vector[KeyPart](KInt(2)) -> (YHash(Seq("id" -> YInt(2),
                "text" -> YStr("b2"))): Yml))))), None)
          else sourceOutputData(YInt(id), None, Some("boom " + id))
        (id, prefix, EvaluateDump.emit(doc))
      }.toDF("doc_id", "prefix", "yaml")
    EvaluateDump.withFileNames(base, name118, col("prefix"), col("doc_id"))
  }

  /** Per-row indexing status in the gate (indexing_status.rs:1-65 via
    * FlowApi.indexingStatus): documents as the live source listing
    * (%11 residue losing its ordinal → the per-row error), a tracking
    * table covering %3≠0 keys with %5-varied logic fingerprints and
    * micros process times — the left join's never-processed /
    * stale-logic / current arms all exercised; timestamps compared as
    * micros. */
  private def q161(s: SparkSession, dir: String): DataFrame = {
    import dataflow.FlowApi
    val docs = t(s, dir, "documents")
    val current = docs.select(
      col("doc_id").cast("string").as("source_key"),
      when(col("doc_id") % 11 === 0, lit(null).cast("long"))
        .otherwise(col("doc_id") % 50).as("ordinal"))
    val tracking = docs.where(col("doc_id") % 3 =!= 0).select(
      col("doc_id").cast("string").as("source_key"),
      (col("doc_id") % 50 - col("doc_id") % 2).as("ordinal"),
      when(col("doc_id") % 5 === 0, lit("fpB")).otherwise(lit("fpA"))
        .as("logic_fp"),
      (lit(1700000000000000L) + col("doc_id")).as("process_time_micros"))
    FlowApi.indexingStatus(current, tracking, "fpA")
      .select(col("source_key"), col("last_ordinal"),
        unix_micros(col("processing_time")).as("process_time_micros"),
        col("is_logic_current"), col("current_ordinal"), col("err"))
  }

  /** Output-schema building in the gate (src/base/json_schema.rs via
    * operators.JsonSchemaBuild): six case rows per document spanning
    * the provider option sets — in-schema vs extracted descriptions,
    * format support, null widening under fields_always_required, the
    * value wrapper for non-struct roots, oneOf unions, and the
    * root-object instructions label — against a VALUES oracle of the
    * exact serialized schemas. */
  private def q162(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import operators.JsonSchemaBuild
    import operators.JsonSchemaBuild._
    import operators.ProviderWires.JsonSchemaOptions
    t(s, dir, "documents").select(col("doc_id")).as[Long]
      .flatMap { id =>
        val anthropic = operators.AnthropicWire.schemaOptions
        val ollama = operators.OllamaWire.schemaOptions
        val openaiLike = JsonSchemaOptions(fieldsAlwaysRequired = true,
          supportsFormat = false, extractDescriptions = false,
          topLevelMustBeObject = true)
        val plain = JsonSchemaOptions(fieldsAlwaysRequired = false,
          supportsFormat = true, extractDescriptions = false,
          topLevelMustBeObject = false)
        val struct = TStruct(Seq(EField("when", TDate),
          EField("id", TUuid, nullable = true)))
        val cases = Seq(
          JsonSchemaBuild.build(struct, anthropic),
          JsonSchemaBuild.build(struct, ollama),
          JsonSchemaBuild.build(struct, openaiLike),
          JsonSchemaBuild.build(TVector(TFloat32, Some(4)), openaiLike),
          JsonSchemaBuild.build(TUnion(Seq(TStr, TInt64)), plain),
          JsonSchemaBuild.build(TRange, ollama))
        cases.zipWithIndex.map { case (c, k) =>
          (id, k, c.schemaJson, c.extraInstructions, c.wrapperField)
        }
      }
      .toDF("doc_id", "k", "schema", "extra", "wrapper")
  }

  /** Engine Gemini renders in the gate (gemini.rs:79-124/176-183 via
    * GeminiEngineWire): even docs render generateContent (sorted
    * payload, query-string key, %4 residue adding systemInstruction),
    * odd docs render embedContent (the %4==1 residue adding
    * taskType). Prompts sanitize as in q158 so the oracle
    * reconstructs by concatenation. */
  private def q163(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import operators.GeminiEngineWire
    t(s, dir, "documents").select(col("doc_id"),
        regexp_replace(substring(col("text"), 1, 40), "[^A-Za-z0-9 ]", "")
          .as("p"))
      .as[(Long, String)]
      .map { case (id, p) =>
        val req =
          if (id % 2 == 0)
            GeminiEngineWire.renderGenerateContent("gemini-2.0-flash", "k",
              "Extract: " + p,
              systemPrompt =
                if (id % 4 == 0) Some("extract metadata as json") else None,
              schemaJson = Some("""{"type":"object"}"""))
          else
            GeminiEngineWire.renderEmbedContent("text-embedding-004", "k", p,
              taskType =
                if (id % 4 == 1) Some("RETRIEVAL_DOCUMENT") else None)
        (id, req.path, req.body)
      }
      .toDF("doc_id", "path", "body")
  }

  /** Engine OpenAI renders in the gate (openai.rs:71-132/167-172 via
    * OpenAiEngineWire): even docs render the typed chat request —
    * messages before model, omitted Nones, %4==0 adding the system
    * message, %8==2 adding the strict json_schema response format —
    * odd docs the embed request with the %4==1 residue requesting
    * dimensions. */
  private def q164(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import operators.OpenAiEngineWire
    t(s, dir, "documents").select(col("doc_id"),
        regexp_replace(substring(col("text"), 1, 40), "[^A-Za-z0-9 ]", "")
          .as("p"))
      .as[(Long, String)]
      .map { case (id, p) =>
        val req =
          if (id % 2 == 0)
            OpenAiEngineWire.renderChat("gpt-4o", "Extract: " + p,
              systemPrompt =
                if (id % 4 == 0) Some("extract metadata as json") else None,
              schemaName = if (id % 8 == 2) Some("extraction") else None,
              schemaJson =
                if (id % 8 == 2) Some("""{"type":"object"}""") else None)
          else
            OpenAiEngineWire.renderEmbed("text-embedding-3-small", p,
              outputDimension = if (id % 4 == 1) Some(256) else None)
        (id, req.path, req.body)
      }
      .toDF("doc_id", "path", "body")
  }

  /** Tracking-table setup grading in the gate (db_tracking_setup.rs:
    * 56-162 via SetupStates): the %6 residue spans create / no-change
    * / legacy-rename-Invalid / version-Update / drop+source-ids /
    * staged-delete-recreate, with doc-varied table names flowing into
    * the exact action strings and the centered status box. */
  private def q165(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import incremental.SetupStates._
    t(s, dir, "documents").select(col("doc_id")).as[Long]
      .map { id =>
        val t1 = TrackingTableState("t_" + id, 1)
        val status = (id % 6) match {
          case 0 => TrackingTableStatus(Some(t1),
            CombinedState[TrackingTableState](None), Nil).get
          case 1 => TrackingTableStatus(Some(t1),
            CombinedState(Some(t1)), Nil).get
          case 2 => TrackingTableStatus(Some(t1),
            CombinedState(Some(TrackingTableState("old_" + id, 1))), Nil).get
          case 3 => TrackingTableStatus(Some(TrackingTableState("t_" + id, 2)),
            CombinedState(Some(t1)), Nil).get
          case 4 => TrackingTableStatus(None,
            CombinedState(Some(t1)), Seq(3, 7)).get
          case _ => TrackingTableStatus(Some(t1),
            CombinedState(Some(t1), Seq(Delete)), Nil).get
        }
        val code = status.changeType.code
        (id, code, statusBox(code),
          status.describeChanges.map(_.text).mkString("|"))
      }
      .toDF("doc_id", "change_code", "box", "actions")
  }

  /** Table-target setup grading in the gate (table_columns.rs:46-162
    * via TableColumns): the %5 residue spans fresh-create / no-change
    * / in-place value migration / key-drift drop+recreate / drop-only,
    * with doc-varied column names flowing into the exact action text
    * (two-space joins, the Create block's newlines). */
  private def q166(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import incremental.SetupStates.CombinedState
    import incremental.TableColumns._
    t(s, dir, "documents").select(col("doc_id")).as[Long]
      .map { id =>
        val key = Seq("id" -> "bigint")
        val action = (id % 5) match {
          case 0 => MainSetupAction.fromStates(
            Some(ColumnsSchema(key, Seq(s"c$id" -> "text"))),
            CombinedState[ColumnsSchema](None))
          case 1 => MainSetupAction.fromStates(
            Some(ColumnsSchema(key, Seq("text" -> "text"))),
            CombinedState(Some(ColumnsSchema(key, Seq("text" -> "text")))))
          case 2 => MainSetupAction.fromStates(
            Some(ColumnsSchema(key,
              Seq("text" -> "text", s"new$id" -> "jsonb"))),
            CombinedState(Some(ColumnsSchema(key,
              Seq("text" -> "text", s"old$id" -> "int")))))
          case 3 => MainSetupAction.fromStates(
            Some(ColumnsSchema(key, Seq(s"c$id" -> "text"))),
            CombinedState(Some(ColumnsSchema(Seq("uuid" -> "uuid"),
              Seq(s"c$id" -> "text")))))
          case _ => MainSetupAction.fromStates(None,
            CombinedState(Some(ColumnsSchema(key, Seq("text" -> "text")))))
        }
        (id, action.changeType(hasOtherUpdate = false).code,
          action.describeChanges.map(_.text).mkString("|"))
      }
      .toDF("doc_id", "change_code", "actions")
  }

  /** Setup-metadata protocol in the gate (db_metadata.rs:203-319 via
    * SetupMetadata): a scripted stage→stage(dedup)→stage→commit run
    * per document with doc-varied state JSON — version bumps, staging
    * dedup, the stale-stage CONFLICT error, commit clearing staging,
    * and the odd-residue flow drop removing the version row. */
  private def q167(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import incremental.SetupMetadata._
    t(s, dir, "documents").select(col("doc_id")).as[Long]
      .map { id =>
        val target = ResourceTypeKey("Target:postgres",
          """{"table":"docs"}""")
        val tracking = ResourceTypeKey("SourceTracking", "null")
        val st1 = s"""{"v":"a$id"}"""
        val st2 = s"""{"v":"b$id"}"""
        val Right((s1, v1)) = stageChanges(Map.empty, None,
          Seq(target -> StateUpdateInfo(Some(st1))))
        val Right((s2, v2)) = stageChanges(s1, Some(v1),
          Seq(target -> StateUpdateInfo(Some(st1))))
        val Right((s3, v3)) = stageChanges(s2, Some(v2),
          Seq(target -> StateUpdateInfo(Some(st2)),
            tracking -> StateUpdateInfo(None)))
        val stagedCount = s3(target).stagingChanges.size
        val conflict = stageChanges(s3, Some(v3 - 1), Nil)
          .left.getOrElse("")
        val Right(fin) = commitChanges(s3, v3,
          Seq(target -> StateUpdateInfo(Some(st2))),
          deleteVersion = id % 2 == 1)
        (id, v3, stagedCount,
          fin.get(VersionKey).flatMap(_.state),
          fin(target).state.get, fin(target).stagingChanges.size,
          conflict)
      }
      .toDF("doc_id", "staged_version", "staged_n", "final_version",
        "target_state", "final_staging_n", "conflict_err")
  }

  /** Target-id assignment in the gate (exec_ctx.rs:76-167 via
    * ExecContext.assignTargetId): the %5 residue spans fresh-allocate
    * / full-reuse / partial-compat version bump / setup_by_user flip
    * / mixed-version ambiguity, against a doc-varied last_target_id —
    * including the reference's quirk of reusing a schema version even
    * when the target id itself is freshly allocated. */
  private def q168(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import incremental.ExecContext._
    t(s, dir, "documents").select(col("doc_id")).as[Long]
      .map { id =>
        val last = (id % 9).toInt
        val grade: (String, String) => String = (d, e) =>
          if (d == e) "Compatible"
          else if (e.startsWith(d)) "PartialCompatible"
          else "NotCompatible"
        val existing = (id % 5) match {
          case 0 => Nil
          case 1 => Seq(TargetState(5, 2, 3, setupByUser = false, "A"))
          case 2 => Seq(TargetState(5, 2, 3, setupByUser = false, "AB"))
          case 3 => Seq(TargetState(5, 2, 3, setupByUser = true, "A"))
          case _ => Seq(TargetState(5, 2, 3, setupByUser = false, "A"),
            TargetState(6, 1, 3, setupByUser = false, "Z"))
        }
        val a = assignTargetId(existing, "A", setupByUser = false, last,
          grade)
        (id, a.targetId, a.schemaVersionId, a.maxSchemaVersionId,
          a.newLastTargetId)
      }
      .toDF("doc_id", "target_id", "schema_version", "max_schema_version",
        "new_last")
  }

  /** Value-codec decode in the gate (value.rs:1030-1240 via
    * types.ValueCodec): per document, a typed struct decodes from
    * object form — int64, sanitized text, a TimeDelta through both
    * duration grammars by residue, a naive datetime assuming UTC —
    * alongside the float-as-int64 error and the union bad-tag live
    * panic, all canonicalized to the serialize direction's shapes. */
  private def q169(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import operators.JsonSchemaBuild._
    import types.ValueCodec
    t(s, dir, "documents").select(col("doc_id"),
        regexp_replace(substring(col("text"), 1, 40), "[^A-Za-z0-9 ]", "")
          .as("p"))
      .as[(Long, String)]
      .map { case (id, p) =>
        val schema = TStruct(Seq(EField("id", TInt64),
          EField("note", TStr, nullable = true),
          EField("delta", TTimeDelta), EField("when", TOffsetDateTime)))
        val deltaIn = if (id % 2 == 0) "P1D" else "1 day 2 hours"
        val json = s"""{"id":$id,"note":"$p","delta":"$deltaIn",""" +
          s""""when":"2024-03-07T01:02:03"}"""
        val decoded = ValueCodec.decodeJson(json, schema)
          .asInstanceOf[graft.incremental.EvaluateDump.YHash]
        def str(k: String) = decoded.entries.toMap.apply(k) match {
          case graft.incremental.EvaluateDump.YStr(v) => v
          case graft.incremental.EvaluateDump.YInt(v) => v.toString
          case other => other.toString
        }
        val intErr =
          try { ValueCodec.decodeJson("5.5", TInt64); "" }
          catch { case e: ValueCodec.DecodeError => e.getMessage }
        val panic =
          try {
            ValueCodec.decodeJson("""["s",1]""", TUnion(Seq(TStr))); ""
          } catch { case e: IllegalStateException => e.getMessage }
        (id, str("id").toLong, str("note"), str("delta"), str("when"),
          intErr, panic)
      }
      .toDF("doc_id", "id", "note", "delta", "when_utc", "int_err",
        "union_panic")
  }

  /** Shared synthetic Notion pages frame for the legacy-ingestion
    * gates (q170/q171): one page per document with modular knobs
    * covering every inference arm — the present-but-null Department
    * property, each parent-title department substring (and the
    * no-match and null titles), the Tags/Category truthiness forks,
    * and an unknown security level (access 0). */
  private def legacyPages(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    t(s, dir, "documents").select(
      concat(lit("pg"), d).as("page_id"),
      when(d % 7 === 3, lit(null).cast("string"))
        .otherwise(concat(lit("Doc "), d)).as("title"),
      substring(col("text"), 1, 200).as("content"),
      concat(lit("user"), d % 5).as("created_by"),
      lit("2025-07-01").as("created_time"),
      concat(lit("2025-08-0"), (d % 9) + 1).as("last_edited_time"),
      (d % 4 === 0).as("has_dept_prop"),
      when(d % 8 === 0, lit("Custom Dept"))
        .otherwise(lit(null).cast("string")).as("dept_select_name"),
      when(d % 4 === 2, lit("page_id")).otherwise(lit("database_id"))
        .as("parent_type"),
      when(d % 5 === 0, lit("Engineering Wiki"))
        .when(d % 5 === 1, lit("Sales and Marketing Hub"))
        .when(d % 5 === 2, lit("HR Portal"))
        .when(d % 5 === 3, lit("Random Notes"))
        .otherwise(lit(null).cast("string")).as("parent_db_title"),
      (d % 3 === 0).as("has_tags"),
      array(lit("t1"), concat(lit("t"), d % 5)).as("tag_names"),
      when(d % 5 === 0, lit("How-To")).when(d % 5 === 1, lit(""))
        .otherwise(lit(null).cast("string")).as("category"),
      element_at(array(lit("public"), lit("client"), lit("partner"),
        lit("employee"), lit("management"), lit("intern")),
        (d % 6).cast("int") + 1).as("security_level"))
  }

  /** Legacy Notion ingestion in the gate
    * (archive/legacy_ingestion/notion_ingestion.py:140-225, :342-386
    * via LegacyIngestion): the 7-day change cutoff filter, then the
    * document build — notion_{id} identity, sha256 content hash,
    * Untitled default, the Department-key short-circuit, parent-title
    * department scan in list order with .title() casing, Tags +
    * truthy-Category tag list, the security-level access map with its
    * unknown→0 fallback, and the manual-review status fork. Pure
    * pushed-down filter + projection — one scan at any scale. */
  private def q170(s: SparkSession, dir: String): DataFrame = {
    import operators.LegacyIngestion
    val filtered = LegacyIngestion.filterModifiedSince(
      legacyPages(s, dir), fullScan = false, cutoff = "2025-08-05")
    LegacyIngestion.buildDocuments(filtered, autoApprove = false)
      .withColumn("tags", array_join(col("tags"), "|"))
      .drop("content")
  }

  /** Legacy Qdrant point render in the gate
    * (notion_ingestion.py:289-320 via LegacyIngestion.qdrantPoints):
    * a full-scan document build fans out to three chunks per page;
    * each point carries the {doc}_chunk_{n} id, the payload columns
    * in the script's insertion order, and the chunk_{n} location. */
  private def q171(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import operators.LegacyIngestion
    val docs = LegacyIngestion.buildDocuments(
      legacyPages(s, dir), autoApprove = true)
    val chunkBase = Seq(0L, 1L, 2L).toDF("chunk_number")
    val chunks = docs.crossJoin(broadcast(chunkBase)).select(
      col("id").as("document_id"), col("chunk_number"),
      concat(substring(col("content"), 1, 40), lit(" #"),
        col("chunk_number")).as("text"),
      col("title"), col("department"), col("tags"),
      col("security_level"), col("access_level"), col("created_at"))
    LegacyIngestion.qdrantPoints(chunks)
      .withColumn("tags", array_join(col("tags"), "|"))
  }

  /** `cocoindex` CLI projections in the gate (python/cocoindex/cli.py
    * via dataflow.Cli): the `ls` app-mode `[+]` missing-setup marker
    * (cli.py:184-188) and `evaluate`'s default
    * eval_{ns_}{flow}_{timestamp} output dir (cli.py:492-493, with the
    * empty-namespace delimiter drop) over a synthetic flows frame —
    * one flow per document, persisted/namespace knobs by modulus.
    * Pure projection. */
  private def q172(s: SparkSession, dir: String): DataFrame = {
    import dataflow.Cli
    val d = col("doc_id")
    t(s, dir, "documents").select(
      concat(lit("flow_"), d).as("flow"),
      Cli.lsLineCol(concat(lit("flow_"), d), d % 2 === 0).as("ls_line"),
      Cli.evalDirCol(
        when(d % 3 === 0, lit("")).otherwise(concat(lit("ns"), d % 3)),
        concat(lit("flow_"), d), lit("250814_120000")).as("eval_dir"))
  }

  /** The `cocoindex update` stats line in the gate
    * (src/execution/stats.rs:99-132 UpdateStats Display +
    * live_updater.rs:111-114's `{flow}.{source} ({kind}):` report
    * frame, via dataflow.Cli.statsLineCol): FAILED / NO CHANGE /
    * processed segments joined "; " (absent segments dropped via
    * concat_ws's null-skip on both engines), all-zero rows reading
    * "No changes". Counters synthesized per document by modulus so
    * every segment combination (incl. none) appears. Pure
    * projection. */
  private def q173(s: SparkSession, dir: String): DataFrame = {
    import dataflow.Cli
    val d = col("doc_id")
    val counters = t(s, dir, "documents").select(
      d.as("doc_id"),
      when(d % 5 === 0, d % 3).otherwise(lit(0L)).as("n_err"),
      (d % 4).as("n_nc"),
      (d % 3).as("n_ins"),
      when(d % 7 === 0, lit(2L)).otherwise(lit(0L)).as("n_del"),
      when(d % 6 === 0, lit(1L)).otherwise(lit(0L)).as("n_upd"),
      when(d % 11 === 0, lit(4L)).otherwise(lit(0L)).as("n_rep"))
    val stats = Cli.statsLineCol(col("n_err"), col("n_nc"),
      col("n_ins"), col("n_del"), col("n_upd"), col("n_rep"))
    val kind = when(col("doc_id") % 3 === 0, lit("batch update"))
      .when(col("doc_id") % 3 === 1, lit("change stream"))
      .otherwise(lit("interval refresh"))
    counters.select(
      col("doc_id"),
      stats.as("stats_line"),
      concat(lit("f"), col("doc_id") % 3, lit(".s"), col("doc_id") % 2,
        lit(" ("), kind, lit("): "), stats).as("report_line"))
  }

  /** Incremental IVF ingest in the gate
    * (SimilaritySearch.assignToCentroids): vectors with
    * vec_id % 17 == 3 arrive as the DELTA; centroids are the
    * q48-shape label means over the EXISTING rest; each new vector
    * assigns to its max-cosine centroid (tie → lowest label) with no
    * recompute — the index side broadcasts, the delta does one
    * per-vector argmax. */
  private def q174(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val existing = emb.where(col("vec_id") % 17 =!= 3)
    val delta = emb.where(col("vec_id") % 17 === 3)
    SimilaritySearch.assignToCentroids(delta, "vec_id", "embedding",
      SimilaritySearch.meanCentroids(existing, "label", "embedding"))
  }

  /** Post-ingest IVF drift census in the gate
    * (SimilaritySearch.ivfDriftCensus): centroids updated to the
    * means over existing ∪ assigned-delta (the running-mean identity),
    * then per stored label: how many existing vectors' nearest
    * centroid moved, the moved fraction, and the recluster flag at
    * threshold 0 (any movement flags — both outcomes appear). */
  private def q175(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val existing = emb.where(col("vec_id") % 17 =!= 3)
    val delta = emb.where(col("vec_id") % 17 === 3)
    val assigned = SimilaritySearch.assignToCentroids(delta, "vec_id",
      "embedding",
      SimilaritySearch.meanCentroids(existing, "label", "embedding"))
    val union = existing.select(col("vec_id"), col("label"),
        col("embedding"))
      .unionByName(delta.select(col("vec_id"), col("embedding"))
        .join(assigned.select(col("vec_id"), col("label")),
          Seq("vec_id"))
        .select(col("vec_id"), col("label"), col("embedding")))
    val updated = SimilaritySearch.meanCentroids(union, "label",
      "embedding")
    SimilaritySearch.ivfDriftCensus(existing, "vec_id", "label",
      "embedding", updated, reclusterThreshold = 0.0)
  }

  /** The q176 component labels as a shared ingest artifact — ONE
    * MinHash walk per corpus for q176 and its group post-processing
    * consumers (q224 keep-best, q226 census); the key pins the
    * candidate-generation parameters (3-shingles, 16 hashes, 4
    * bands). q223 deliberately does NOT read this: it gates the
    * OTHER component algorithm against the same oracle. */
  private def neardupComponentsOf(s: SparkSession, dir: String): DataFrame =
    CorpusArtifacts.neardupComponents(s"${corpusKey(s, dir)}#cc:3-16-4",
      Dedup.connectedComponents(
          t(s, dir, "documents").select(col("doc_id")), "doc_id",
          q18(s, dir), "id_a", "id_b")
        .select(col("id").as("doc_id"), col("component"),
          col("is_representative")))

  /** Near-dup GROUPS in the gate (Dedup.connectedComponents over the
    * q18 MinHash candidate pairs): every document labeled with the
    * smallest id reachable through the pair graph — the
    * keep-one-representative-per-cluster step of a training-data
    * dedup pipeline; singletons are their own component. */
  private def q176(s: SparkSession, dir: String): DataFrame =
    neardupComponentsOf(s, dir)

  /** q176's grouping law computed by the OTHER component algorithm —
    * large-star/small-star contraction (Dedup.connectedComponentsStar
    * over ConnectedComponents.runStar), the unbounded-diameter
    * posture. Shares q176's oracle verbatim: the gate pins that both
    * faces reach the identical min-reachable-id fixpoint on the real
    * candidate graph. */
  private def q223(s: SparkSession, dir: String): DataFrame =
    Dedup.connectedComponentsStar(
        t(s, dir, "documents").select(col("doc_id")), "doc_id",
        q18(s, dir), "id_a", "id_b")
      .select(col("id").as("doc_id"), col("component"),
        col("is_representative"))

  /** Quality-aware group-representative selection
    * (Dedup.keepBestPerGroup over the q176 components): each
    * near-dup group keeps its LONGEST member (token count as the
    * quality signal — the C4-class keep-longest convention), min-id
    * on ties; singletons keep themselves. The law a production
    * dedup applies where q176's min-id representative is only a
    * labeling artifact. */
  private def q224(s: SparkSession, dir: String): DataFrame = {
    val scored = q176(s, dir).select(col("doc_id"), col("component"))
      .join(t(s, dir, "documents").select(col("doc_id"),
        coalescedCount(TextFunctions.allTokens(col("text")))
          .as("n_tokens")),
        Seq("doc_id"))
    Dedup.keepBestPerGroup(scored, "doc_id", "component", "n_tokens")
  }

  /** Near-dup group-SIZE census over the q176 components — the
    * cluster-size histogram a data release's dedup section reports
    * (how much mass sits in singletons vs 2-groups vs heavy
    * clusters): (n_members, n_groups, n_docs), size-ascending. Two
    * map-side-combinable aggregates, nothing else. */
  private def q226(s: SparkSession, dir: String): DataFrame =
    q176(s, dir)
      .groupBy(col("component"))
      .agg(count(lit(1L)).as("n_members"))
      .groupBy(col("n_members"))
      .agg(count(lit(1L)).as("n_groups"),
        sum(col("n_members")).as("n_docs"))
      .orderBy(col("n_members"))

  /** size(coalesce(arr, [])) AS LONG — the NULL-text-safe count whose
    * DuckDB twin is [[coalescedTokenCountSql]]/the q229 coalesce(len)
    * forms; ONE definition for the q224/q228/q229 consumers (r18
    * simplify pass: the expression was restated inline four times). */
  private def coalescedCount(arr: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    size(coalesce(arr, array().cast("array<string>"))).cast("long")

  /** The adversarial NULL-text fixture corpus (r18, making the
    * SparkEntry NULL-text convention EXECUTABLE): a deterministic
    * in-plan mutation of `documents` that plants every text
    * degeneracy class the gate corpora lack — NULL, empty,
    * whitespace-only, and stopword-only (zero bm25 tokens with
    * non-empty text) — replayed bit-identically by the DuckDB twin
    * ([[nullTextFromSql]]). The q227-q229 gates run the shared
    * fragment consumers over THIS corpus, so a fragment whose
    * NULL-text arm diverges between the engines trips a gate rather
    * than a comment. */
  private def nullTextCorpus(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"), col("lang"),
      when(col("doc_id") % 11 === 0, lit(null).cast("string"))
        .when(col("doc_id") % 11 === 1, lit(""))
        .when(col("doc_id") % 11 === 2, lit(" \t\n "))
        .when(col("doc_id") % 11 === 3, lit("of the and"))
        .otherwise(col("text")).as("text"))

  /** NULL-text components (the q176 shape over the adversarial
    * corpus): NULL/empty/stopword-only docs have no shingles, so they
    * must resolve as SINGLETONS on both engines — the Spark side via
    * lshBucketsFromTokens' zero-signature guard, the oracle via
    * unnest of an empty/NULL shingle list producing no signature
    * rows. Before the r18 guard, every zero-shingle doc shared one
    * md5("b|") bucket and the whole degenerate class fused into one
    * spurious component. */
  private def q227(s: SparkSession, dir: String): DataFrame =
    Dedup.connectedComponents(
        nullTextCorpus(s, dir).select(col("doc_id")), "doc_id",
        Dedup.minhashCandidatesFromTokens(
          Search.tokenBase(nullTextCorpus(s, dir), "doc_id", "text"),
          "doc_id", 3, 16, 4),
        "id_a", "id_b")
      .select(col("id").as("doc_id"), col("component"),
        col("is_representative"))

  /** NULL-text keep-best (the q224 shape over the adversarial
    * corpus): the coalesce-BOTH-sides token-count convention under
    * actual NULL text — a NULL count would rank below 0 and flip a
    * group winner. */
  private def q228(s: SparkSession, dir: String): DataFrame = {
    val scored = q227(s, dir).select(col("doc_id"), col("component"))
      .join(nullTextCorpus(s, dir).select(col("doc_id"),
        coalescedCount(TextFunctions.allTokens(col("text")))
          .as("n_tokens")),
        Seq("doc_id"))
    Dedup.keepBestPerGroup(scored, "doc_id", "component", "n_tokens")
  }

  /** NULL-text ranking consumer — one counted fragment per family
    * (bm25 tokens, all tokens, raw words, shingles), each coalesced
    * to 0 on both sides, then a per-language top-3 by the all-token
    * count: the exact "NULL count ranks below 0 and flips the
    * winner" class the convention guards, executed per gate run. */
  private def q229(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counted = nullTextCorpus(s, dir).select(col("doc_id"), col("lang"),
      coalescedCount(TextFunctions.bm25Tokens(col("text"))).as("n_bm25"),
      coalescedCount(TextFunctions.allTokens(col("text"))).as("n_all"),
      coalescedCount(operators.QualityFilters.rawWords(col("text")))
        .as("n_words"),
      coalescedCount(TextFunctions.shingles(col("text"), 3))
        .as("n_shingles"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("n_all").desc, col("doc_id").asc)
    counted.withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= 3)
  }

  /** UniMax per-language budget allocation in the gate
    * (Sampling.unimaxAllocation over the documents corpus's per-doc
    * all-token counts): a 30k-token budget at a 2-epoch cap — small
    * languages hit their epoch capacity and drop out of the
    * waterfill, the rest share the level θ uniformly; the oracle
    * replays the sort/prefix/boundary law with the identical double
    * operation order. */
  private def q230(s: SparkSession, dir: String): DataFrame =
    operators.Sampling.unimaxAllocation(
      t(s, dir, "documents").select(col("lang"),
        coalescedCount(TextFunctions.allTokens(col("text")))
          .as("n_toks")),
      "lang", "n_toks", budget = 30000.0, maxEpochs = 2.0)
      .orderBy(col("lang"))

  /** The multilingual release draw — UniMax budgets driving a
    * per-language band selection (Sampling.budgetSelectByGroup over
    * Sampling.unimaxAllocation): per-language token-count deciles
    * (the q221 floor(pr·10) banding, keep-longest-first) select
    * whole bands in descending order under EACH language's waterfill
    * allocation, the boundary band splitting on its id prefix. The
    * capstone composing q230's allocation law with q214's selection
    * law, per group. */
  private def q231(s: SparkSession, dir: String): DataFrame = {
    import operators.Sampling
    import org.apache.spark.sql.expressions.Window
    val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"),
      coalescedCount(TextFunctions.allTokens(col("text"))).as("n_toks"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("n_toks").asc, col("doc_id").asc)
    val banded = docs.withColumn("band",
      floor(percent_rank().over(w) * 10).cast("int"))
    val budgets = Sampling.unimaxAllocation(docs, "lang", "n_toks",
        30000.0, 2.0)
      .select(col("lang"), col("allocation").as("budget"))
    Sampling.budgetSelectByGroup(banded, "doc_id", "n_toks", "band",
      "lang", budgets)
  }

  /** Split-leakage audit (Dedup.crossGroupPairs): near-dup candidate
    * pairs (the q18 graph) whose endpoints landed in DIFFERENT
    * train/validation/test bands under the per-document q177 split
    * law — exactly the leakage assignSplitByGroup (q207) prevents by
    * construction; this is the AUDIT a release runs when the split
    * was drawn per-document. */
  private def q225(s: SparkSession, dir: String): DataFrame = {
    val splits = assignDocSplit(
        t(s, dir, "documents").select(col("doc_id")))
      .select(col("doc_id"), col("split"))
    Dedup.crossGroupPairs(q18(s, dir), "id_a", "id_b",
      splits, "doc_id", "split")
  }

  /** Deterministic training-mix sampling + split assignment in the
    * gate (Sampling.stratifiedSample / assignSplit): per-language
    * downsample fractions (en 0.5, de 0.25, rest 0.1) and a
    * 70/15/15 train/validation/test banding, all as hex-threshold
    * comparisons over md5 draws — membership is a pure function of
    * (salt, doc_id), no shuffle, replayed bit-identically by the
    * oracle. */
  /** THE per-document split law — one definition (r17 review pass 5:
    * the (salt, fractions) triple was inlined at four sites, so a
    * q177 change would leave q225 auditing a split nobody assigns,
    * silently — the q18 candidate-graph drift argument again). q177
    * assigns it, q225 audits it, both oracles replay
    * [[splitCaseSql]]. */
  private val SplitSalt = "split1"
  private val SplitTrainFrac = 0.7
  private val SplitValFrac = 0.15

  private def assignDocSplit(df: DataFrame): DataFrame =
    operators.Sampling.assignSplit(df, "doc_id", SplitSalt,
      SplitTrainFrac, SplitValFrac)

  /** DuckDB CASE for [[assignDocSplit]] — single-line so it embeds
    * safely inside outer stripMargin templates (the
    * qualitySignalsOracleSql double-strip hazard). */
  private def splitCaseSql: String = {
    import operators.Sampling.thresholdHex
    s"CASE WHEN substr(md5('$SplitSalt:' || doc_id), 1, 8) < " +
      s"'${thresholdHex(SplitTrainFrac)}' THEN 'train' " +
      s"WHEN substr(md5('$SplitSalt:' || doc_id), 1, 8) < " +
      s"'${thresholdHex(SplitTrainFrac + SplitValFrac)}' THEN 'validation' " +
      "ELSE 'test' END"
  }

  private def q177(s: SparkSession, dir: String): DataFrame = {
    import operators.Sampling
    val sampled = Sampling.stratifiedSample(t(s, dir, "documents"),
      "lang", "doc_id", Map("en" -> 0.5, "de" -> 0.25), 0.1, "mix1")
    assignDocSplit(sampled)
      .select(col("doc_id"), col("lang"), col("split"))
  }

  /** Cross-corpus contamination in the gate
    * (Dedup.crossJaccardPairs): documents split into a "train" side
    * (doc_id % 5 != 0) and a "benchmark" side (doc_id % 5 == 0);
    * every train document sharing ≥ 0.2 n-gram Jaccard with any
    * benchmark document is flagged — the train-test overlap check a
    * training pipeline runs before a data release. */
  private def q178(s: SparkSession, dir: String): DataFrame = {
    val idx = docsShingles(s, dir)
    Dedup.crossJaccardPairs(idx.where(col("doc_id") % 5 =!= 0), "doc_id",
      idx.where(col("doc_id") % 5 === 0), "doc_id", 0.2)
  }

  /** Gopher-style quality signals + keep decision per document
    * (QualityFilters.signals / gopherKeep): word count, mean word
    * length, alphabetic-word fraction, duplicate word/2-gram/3-gram
    * fractions, most-common-word share, longest word run — the
    * repetition battery a corpus passes before training. One narrow
    * projection, no shuffle. */
  private def q179(s: SparkSession, dir: String): DataFrame = {
    import operators.QualityFilters
    QualityFilters.signals(t(s, dir, "documents"), "doc_id", "text")
      .withColumn("keep", QualityFilters.gopherKeep())
  }

  /** C4-style line cleaning in the gate (QualityFilters.c4Clean):
    * lines under 3 words / boilerplate markers dropped, documents
    * under 5 cleaned words dropped. Terminal-punctuation off — the
    * synthetic corpus has none; the spec exercises that arm. */
  private def q180(s: SparkSession, dir: String): DataFrame = {
    import operators.QualityFilters
    QualityFilters.c4Clean(t(s, dir, "documents"), "doc_id", "text")
  }

  /** PII redaction in the gate (QualityFilters.redactPii): a
    * synthetic contact blob per event (e-mail, IPv4, phone, long
    * numeric ref, all derived from integer columns so both engines
    * render identical text) through the four-pattern replace chain. */
  private def q181(s: SparkSession, dir: String): DataFrame = {
    import operators.QualityFilters
    val e = t(s, dir, "events")
    val raw = concat(
      lit("user"), col("user_id"), lit("@mail.example.com ip 10."),
      col("user_id") % 200, lit(".0."), col("event_id") % 250,
      lit(" phone (555) 010-"),
      lpad((col("event_id") % 10000).cast("string"), 4, "0"),
      lit(" ref "), col("user_id") * 1000003L + col("event_id"))
    e.select(col("event_id"),
      QualityFilters.redactPii(raw).as("redacted"))
  }

  /** Temperature-mix fractions at α = 0.5 over the language strata
    * (Sampling.temperatureFractions): per-language keep fractions
    * f_l = sqrt(n_min / n_l) — no cross-row float sum, so both
    * engines reproduce the doubles bit-identically. */
  private def q182(s: SparkSession, dir: String): DataFrame = {
    import operators.Sampling
    Sampling.temperatureFractions(t(s, dir, "documents"), "lang", 0.5)
  }

  /** The applied temperature mix (Sampling.temperatureSample):
    * fractions collected (k strata, setup-time driver state) into
    * the literal hex-threshold CASE ladder; the oracle recomputes
    * the fractions in SQL and replays the identical hex compare. */
  private def q183(s: SparkSession, dir: String): DataFrame = {
    import operators.Sampling
    Sampling.temperatureSample(t(s, dir, "documents"), "lang",
      "doc_id", 0.5, "tmix")
      .select(col("doc_id"), col("lang"))
  }

  /** Per-source quality census (QualityFilters.sourceCensus): the
    * Gopher battery rolled up to the source/domain grouping a crawl
    * pipeline prunes at — exact integer aggregates only, one
    * map-side-combinable groupBy. */
  private def q184(s: SparkSession, dir: String): DataFrame = {
    import operators.QualityFilters
    QualityFilters.sourceCensus(t(s, dir, "documents"), "doc_id",
      "text", "source")
  }

  /** Concat-and-chop sequence packing (Packing.packDocuments):
    * 8 shards, 256-token sequences — each document's span in its
    * shard's chopped token stream, all exact integer window
    * arithmetic partitioned by shard. */
  private def q185(s: SparkSession, dir: String): DataFrame = {
    import operators.Packing
    Packing.packDocuments(t(s, dir, "documents"), "doc_id", "text",
      nShards = 8, budget = 256L)
  }

  /** URL canonicalization in the gate (UrlOps): synthetic crawl URLs
    * from integer columns (identical render both engines) through
    * normalize / host / registered-domain — fragment, utm params,
    * default ports, case, trailing slash. */
  private def q186(s: SparkSession, dir: String): DataFrame = {
    import operators.UrlOps
    val e = t(s, dir, "events")
    val raw = concat(
      lit("HTTPS://Example"), col("user_id") % 50, lit(".COM"),
      when(col("event_id") % 4 === 0, ":443")
        .when(col("event_id") % 4 === 1, ":8080").otherwise(""),
      lit("/Path/"), col("event_id") % 7,
      when(col("event_id") % 5 === 0, "?utm_source=x&q=1")
        .when(col("event_id") % 5 === 1, "?q=2&utm_campaign=z")
        .when(col("event_id") % 5 === 2, "/?utm_a=1")
        .when(col("event_id") % 5 === 3, "#Frag").otherwise("/"))
    e.select(col("event_id"),
      UrlOps.normalizeUrl(raw).as("url_norm"),
      UrlOps.hostOf(raw).as("host"),
      UrlOps.registeredDomainOf(raw).as("domain"))
  }

  /** The end-to-end training-data pipeline, composed from the
    * round-16 operator tier in one plan: Gopher quality filter →
    * exact-dedup survivors (min-id per fingerprint) → temperature
    * mix at α = 0.5 → 80/10/10 split assignment → per-shard
    * sequence packing. Every stage is the already-gated operator;
    * the oracle replays the whole chain as one CTE pipeline. */
  private def q187(s: SparkSession, dir: String): DataFrame = {
    import operators.{Dedup, Packing, QualityFilters, Sampling}
    import functions.TextFunctions
    // early column prune only — NO Partitioning.spread here: the r21
    // spread experiment regressed taskSec 0.75 -> 10+ CPU-s because
    // the RoundRobin exchange broke AQE's exchange-reuse dedup of the
    // triple-planned battery subtree (the thresholds branch re-ran the
    // battery instead of reusing the map output); the single-task
    // stages this leaves at sf scale are AQE coalescing, not an
    // input-split defect (finding recorded in OPTIMIZATION_r21.md)
    val docs = t(s, dir, "documents").select("doc_id", "lang", "text")
    // single-expression keep directly on the scan (gopherKeepOf —
    // the aliased-signal form re-runs the battery per predicate
    // term after pushdown; see its scaladoc)
    val kept = docs
      .where(QualityFilters.gopherKeepOf(col("text")))
      .select("doc_id", "lang", "text")
    // single-pass min-id dedup (a fingerprint-keyed window) — the
    // groupBy + semi-join form evaluates the keep battery on both
    // join branches
    // the stream side and the mix face's counts side both read this
    // subtree; at runtime AQE's exchange reuse dedups the battery +
    // dedup-window stages (identical exchanges), so no explicit
    // materialization is needed (r21: a localCheckpoint variant
    // measured pure overhead — the reuse was already firing)
    val survivors = Dedup.dropExactDuplicates(kept, "doc_id", "text")
    // the in-plan mix face: thresholds computed inside the plan,
    // broadcast back — one job, no driver action mid-pipeline
    val mixed = Sampling.temperatureSampleInPlan(survivors, "lang",
      "doc_id", 0.5, "pipe")
    val split = Sampling.assignSplit(mixed, "doc_id", "pipesplit",
      0.8, 0.1)
    // carry lang/split through the packing window — no final
    // self-join re-evaluating the upstream
    Packing.concatChop(
      split.withColumn("n_tokens",
        TextFunctions.tokenCount(col("text"))),
      "doc_id", "n_tokens", pmod(col("doc_id"), lit(4)), 256L,
      carryCols = Seq("lang", "split"))
  }

  /** Verbatim-span sharing via winnowed fingerprints
    * (Dedup.winnowSpanPairs): pairs sharing ≥ 12 sub-cap (df ≤ 32)
    * winnowed 8-gram fingerprints — the contamination shape
    * whole-document Jaccard dilutes on long documents. */
  private def q188(s: SparkSession, dir: String): DataFrame = {
    // persisted per (session, corpus) — the winnowing hash pass is
    // the cost; the pair join reads it on three branches
    val idx = CorpusArtifacts.winnowIndex(
      corpusKey(s, dir),
      t(s, dir, "documents"), "doc_id", "text", k = 8, w = 4)
    Dedup.winnowSpanPairs(idx, "doc_id", minShared = 12L, maxDf = 32L)
  }

  /** The training-mix report over the q187 pipeline output: docs and
    * exact token totals per (lang, split) — the accounting line a
    * data release ships with its mix. Integer sums only. */
  private def q189(s: SparkSession, dir: String): DataFrame =
    q187(s, dir).groupBy(col("lang"), col("split"))
      .agg(count(lit(1L)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"))

  /** Corpus vocabulary induction (Vocabulary.topKTokens): the 100
    * most frequent tokens, count-descending, token-ascending
    * tie-break — one map-side-combined groupBy + TakeOrdered. */
  private def q190(s: SparkSession, dir: String): DataFrame = {
    import operators.Vocabulary
    Vocabulary.topKTokens(t(s, dir, "documents"), "text", 100)
  }

  /** 2-gram vocabulary slice (Vocabulary.topKNgrams): occurrence
    * frequencies (non-distinct per doc), same deterministic order. */
  private def q191(s: SparkSession, dir: String): DataFrame = {
    import operators.Vocabulary
    Vocabulary.topKNgrams(t(s, dir, "documents"), "text", 2, 100)
  }

  /** SemDeDup verdicts (Dedup.semDedupVerdicts) over the embeddings
    * corpus. The gate's clustering is the DuckDB-replayable twin of
    * the production k-means path (Dedup.semDedup, SemDedupSpec):
    * clusters = the stored labels, centroids = per-label true means
    * (the q48 comps/cents shape — aggregation-order-free on the
    * dyadic testdata). τ = 0.30 sits in the near-random corpus's
    * signal band the same way q72's 0.4 does. */
  private def q192(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val cents = SimilaritySearch.meanCentroids(emb, "label", "embedding")
    Dedup.semDedupVerdicts(emb, "vec_id", "embedding", "label",
      cents, 0.30)
  }

  /** CCNet-style LM scoring (LmQuality.nllScore): add-α bigram NLL
    * per document under a model trained on the deterministic
    * reference slice doc_id % 10 = 0 (CCNet's "Wikipedia" stand-in).
    * Zero-bigram documents surface as (0, NULL). */
  private def q193(s: SparkSession, dir: String): DataFrame = {
    import operators.LmQuality
    val docs = t(s, dir, "documents")
    LmQuality.nllScore(docs, "doc_id", "text",
      docs.where(col("doc_id") % 10 === 0), "text")
  }

  /** CCNet head/middle/tail banding (LmQuality.perplexityBuckets)
    * composed over the q193 scores, per language. */
  private def q194(s: SparkSession, dir: String): DataFrame = {
    import operators.LmQuality
    val docs = t(s, dir, "documents")
    val scored = LmQuality.nllScore(docs, "doc_id", "text",
        docs.where(col("doc_id") % 10 === 0), "text")
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
    LmQuality.perplexityBuckets(scored, "doc_id", "lang", "avg_nll")
  }

  /** DSIR importance log-weights (Dsir.importanceWeights): hashed
    * uni+bigram features into 64 buckets, target = the English slice,
    * raw = the whole corpus. */
  private def q195(s: SparkSession, dir: String): DataFrame = {
    import operators.Dsir
    val docs = t(s, dir, "documents")
    Dsir.importanceWeights(docs, "doc_id", "text",
      docs.where(col("lang") === "en"), "text", 64,
      docCounts = Some(dsirCounts(s, dir)))
  }

  /** DSIR Gumbel top-k resample (Dsir.gumbelTopK) composed over the
    * q195 weights — deterministic noise from the md5 24-bit draw. */
  private def q196(s: SparkSession, dir: String): DataFrame = {
    import operators.Dsir
    val docs = t(s, dir, "documents")
    val w = Dsir.importanceWeights(docs, "doc_id", "text",
      docs.where(col("lang") === "en"), "text", 64,
      docCounts = Some(dsirCounts(s, dir)))
    Dsir.gumbelTopK(w, "doc_id", "log_weight", 100, "dsir")
  }

  /** The persisted DSIR histogram for a corpus dir (ingest-artifact
    * posture — shared by q195/q196 like docsBm25 is by the BM25
    * tier). */
  private def dsirCounts(s: SparkSession, dir: String): DataFrame =
    CorpusArtifacts.dsirCounts(
      s"${corpusKey(s, dir)}#dsir",
      t(s, dir, "documents"), "doc_id", "text", 64)

  /** MetaCLIP-style balancing cap (Sampling.capPerStratum): at most
    * 70 docs per language, the kept subset a deterministic uniform
    * draw — en (218) and zh (75) truncate, the rest keep whole. */
  private def q198(s: SparkSession, dir: String): DataFrame =
    operators.Sampling.capPerStratum(
        t(s, dir, "documents"), "lang", "doc_id", 70, "bal")
      .select(col("doc_id"), col("lang"), col("rk").cast("long").as("rk"))

  /** SemDeDup's oversized-cluster escape (Dedup.semDedupVerdictsLsh):
    * the q192 verdict law with banded-LSH candidates inside the
    * cluster key — the DuckDB twin replays the identical LCG planes
    * (the q72 law), so a deterministic ~6% of exact-face drops
    * surviving as LSH misses is REPRODUCED, not tolerated. */
  private def q199(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val cents = SimilaritySearch.meanCentroids(emb, "label", "embedding")
    Dedup.semDedupVerdictsLsh(emb, "vec_id", "embedding", "label",
      cents, 0.30, 64)
  }

  /** Cross-snapshot incremental dedup via the BLOOM-pruned path
    * (Dedup.newAgainstSnapshotBloom): batch = doc_id >= 250 ("this
    * month's crawl"), prior snapshot = fingerprints of doc_id < 250
    * plus every doc_id % 5 = 0 (so 50 batch docs are genuine
    * cross-snapshot dups). The oracle replays the plain anti join —
    * passing PROVES the Bloom path drops exactly the true dups (no
    * false negatives; false positives survive the exact confirm). */
  private def q197(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val prior = docs
      .where(col("doc_id") < 250 || col("doc_id") % 5 === 0)
      .select(TextFunctions.fingerprint(col("text")).as("fingerprint"))
    Dedup.newAgainstSnapshotBloom(docs.where(col("doc_id") >= 250),
      "doc_id", "text", prior, m = 4096, k = 3)
  }

  /** Exact-substring span REMOVAL (Dedup.removeSharedSpans, Lee et
    * al. 2022): every token covered by an 8-gram that also occurs in
    * a smaller-id document is deleted and the survivors re-joined —
    * the oracle replays the owner-join + coverage-window law
    * verbatim, so clean_text must match character-for-character. */
  private def q200(s: SparkSession, dir: String): DataFrame =
    Dedup.removeSharedSpans(t(s, dir, "documents"), "doc_id", "text", 8)

  /** Incremental span-owner law (r19 — the q200 TRAIN face run as
    * three pmod snapshots): per-snapshot gram owners merge by
    * per-gram MIN, applied to the whole corpus — the oracle replays
    * the ONE-SHOT law verbatim, so the gate IS the merge-equals-
    * one-shot equality (exact over any split; the q234 pattern at
    * token-window granularity, completing the incremental matrix). */
  private def q235(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val owners = (0 to 2).map(i =>
        Dedup.spanGramOwners(
          docs.where(pmod(col("doc_id"), lit(3)) === i),
          "doc_id", "text", 8))
      .reduce(Dedup.mergeSpanGramOwners)
    Dedup.removeSharedSpansWithOwners(docs, "doc_id", "text", 8, owners)
  }

  /** The contrastive-mining anchor slice: every 50th vector (10
    * anchors at the 500-vector gate corpus) — the bounded-anchor
    * posture ContrastiveMining.hardNegatives broadcasts. */
  private def contrastiveAnchors(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings").where(pmod(col("vec_id"), lit(50)) === 0)

  /** Hard-negative mining (ContrastiveMining.hardNegatives): per
    * anchor, the top-3 most-cosine-similar DIFFERENT-label vectors —
    * the retrieval-training-data face (DPR-style negatives). Label
    * law: NULL labels neither mine nor are mined. */
  private def q236(s: SparkSession, dir: String): DataFrame =
    ContrastiveMining.hardNegatives(
      t(s, dir, "embeddings"), "vec_id", "embedding", "label",
      contrastiveAnchors(s, dir), 64, 3)

  /** Triplet mining (ContrastiveMining.triplets): per anchor, the
    * hardest positive (same label, self excluded), the hardest
    * negative (different label), and the margin between the rounded
    * scores — inner semantics (no triplet without both legs). */
  private def q237(s: SparkSession, dir: String): DataFrame =
    ContrastiveMining.triplets(
      t(s, dir, "embeddings"), "vec_id", "embedding", "label",
      contrastiveAnchors(s, dir), 64)

  /** Full-corpus hard negatives through banded hyperplane LSH
    * (ContrastiveMining.hardNegativesLsh) — every labeled vector is
    * an anchor, candidates from the q72 signature law (36 bits, 12
    * bands of 3), so only band-colliding pairs are visible. The
    * oracle replays the signature/band/bucket pipeline verbatim. */
  private def q238(s: SparkSession, dir: String): DataFrame =
    ContrastiveMining.hardNegativesLsh(
      t(s, dir, "embeddings"), "vec_id", "embedding", "label", 64, 3)

  /** The auto-sized twin of q238 (ContrastiveMining.
    * hardNegativesLshAuto): the oracle computes lshSizing over the
    * labeled count (r20 — 3 bits at the 500-vector gate decade = the
    * fixed face's geometry, 5 bits at sf0.1), so the gate holds at
    * every SF. At the sf1 decade the law picks 8-bit bands
    * (46 s → ~4 s). */
  private def q242(s: SparkSession, dir: String): DataFrame =
    ContrastiveMining.hardNegativesLshAuto(
      t(s, dir, "embeddings"), "vec_id", "embedding", "label", 64, 3)

  /** Seeded uniform negative sampling (ContrastiveMining.
    * sampledNegatives): the random half of a contrastive batch —
    * per anchor, 5 different-label rows drawn by the md5 rank both
    * engines replay verbatim. */
  private def q244(s: SparkSession, dir: String): DataFrame =
    ContrastiveMining.sampledNegatives(
      t(s, dir, "embeddings"), "vec_id", "label",
      contrastiveAnchors(s, dir), 5, "q244")

  /** Recall@k audit of the self-sized LSH miner against the exact
    * full-corpus law (ContrastiveMining.recallAudit) — the QA
    * aggregate the mining section of a release reports. The exact
    * side broadcasts the whole corpus as anchors: the labeled
    * correctness-baseline posture (fine at gate scale; production
    * audits a sampled anchor slice). */
  private def q245(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    ContrastiveMining.recallAudit(
      ContrastiveMining.hardNegatives(
        emb, "vec_id", "embedding", "label", emb, 64, 3),
      ContrastiveMining.hardNegativesLshAuto(
        emb, "vec_id", "embedding", "label", 64, 3),
      3)
  }

  /** The recall-solved miner's audit (ContrastiveMining.
    * hardNegativesLshRecall, r19 verdict item 1): geometry jointly
    * solved from the recall curve at (target 0.9, cosine floor
    * 0.35), audited against the exact law like q245 — the oracle
    * replays the solve, so the face's ≥ 0.9 recall@3 is
    * hash-checked at every SF (where the fixed-budget q245 face
    * measured 0.61 at sf0.1). */
  private def q247(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    ContrastiveMining.recallAudit(
      ContrastiveMining.hardNegatives(
        emb, "vec_id", "embedding", "label", emb, 64, 3),
      ContrastiveMining.hardNegativesLshRecall(
        emb, "vec_id", "embedding", "label", 64, 3),
      3)
  }

  /** The audit's scale posture (ContrastiveMining.recallAuditSampled):
    * recall of the self-sized miner measured on the seeded 1/8
    * anchor sample — what a 100 TB release runs, since the
    * every-anchor exact side is the tier's one remaining corpus²
    * job. The oracle replays the lexicographic-hex sample draw, the
    * sampled exact side AND the sized miner. */
  private def q249(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    ContrastiveMining.recallAuditSampled(
      emb, "vec_id", "embedding", "label",
      ContrastiveMining.hardNegativesLshAuto(
        emb, "vec_id", "embedding", "label", 64, 3),
      64, 3, "q249")
  }

  /** Full-corpus triplets through banded LSH (ContrastiveMining.
    * tripletsLsh): every labeled row an anchor, both legs from band
    * collisions, the q237 rank/fold — the oracle composes the q238
    * candidate front with the q237 fold verbatim (shared
    * fragments). */
  private def q251(s: SparkSession, dir: String): DataFrame =
    ContrastiveMining.tripletsLsh(
      t(s, dir, "embeddings"), "vec_id", "embedding", "label", 64)

  /** In-batch-negative batch composition (ContrastiveMining.
    * inBatchNegativeBatches, B = 8 over the 10-label corpus): wave =
    * in-label rank, chunk = wave-partitioned rank / B — no batch
    * carries a label twice, by construction at any B. The oracle
    * replays both windows verbatim. */
  private def q250(s: SparkSession, dir: String): DataFrame =
    ContrastiveMining.inBatchNegativeBatches(
      t(s, dir, "embeddings"), "vec_id", "label", 8)

  /** Continuous-ingest mining (ContrastiveMining.
    * hardNegativesAgainstSnapshot, r19 verdict item 4): the anchor
    * batch mines against the snapshot's PERSISTED band-bucket index
    * (CorpusArtifacts.embeddingBuckets — built once per corpus at
    * ingest, the nearDupAgainstSnapshot artifact pattern). With
    * batch = corpus and the index over the labeled corpus at the
    * q238 geometry, the output equals the fixed face, so the q238
    * oracle serves verbatim; the streaming posture is pinned by
    * StreamingSpec. */
  private def q248(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val lab = emb.where(col("label").isNotNull &&
      size(col("embedding")) === 64)
    val buckets = CorpusArtifacts.embeddingBuckets(
      s"${corpusKey(s, dir)}#hn:64-3-12",
      Dedup.bandedBuckets(lab.select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", 64, 3, 12))
    ContrastiveMining.hardNegativesAgainstSnapshot(
      emb, emb, "vec_id", "embedding", "label", buckets, "vec_id", 64, 3)
  }

  /** The per-user event_type SCD2 history — ONE construction for its
    * four gate consumers (q239 one-shot, q240's one-shot twin law,
    * q241 asOf, q243 diff), so the key/ts/payload/tie arguments can
    * never drift between them. */
  private def eventsHistory(s: SparkSession, dir: String): DataFrame =
    History.scd2(t(s, dir, "events"), "user_id", "ts",
      Seq("event_type"), Seq("event_id"))

  /** Gate boundary shared by q239/q240/q241: timestamps as epoch
    * micros (the q68 parity convention — raw TIMESTAMP columns don't
    * hash cross-engine; events.ts is TIMESTAMP_NTZ in the parquet,
    * unix_micros needs LTZ, session tz is UTC so the cast is the
    * identity instant). */
  private def scd2GateBoundary(h: DataFrame): DataFrame =
    h.select(col("user_id"), col("version"),
      unix_micros(col("valid_from").cast("timestamp")).as("valid_from_us"),
      unix_micros(col("valid_to").cast("timestamp")).as("valid_to_us"),
      col("is_current"), col("event_type"))

  /** Contrastive-release capstone (q246): the new tier composed
    * end-to-end the way a release job runs it — embedding near-dups
    * (q72 law) → connected components (q176 law) → component
    * representatives as the anchor pool (every 25th) → triplets over
    * the full labeled corpus → ONE release-report row
    * (n_vectors, n_components, n_singletons, n_anchors, n_triplets,
    * mean_margin). The margin mean goes through DECIMAL (the q01
    * float-parity rule); every cross join is a broadcast 1-row
    * frame. */
  private def q246(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val pairs = Dedup.embeddingNearDupLsh(
        emb, "vec_id", "embedding", 64, 0.4, 3, 12)
      .select(col("id_a"), col("id_b"))
    val comps = Dedup.connectedComponents(
      emb.select(col("vec_id")), "vec_id", pairs, "id_a", "id_b")
    val anchors = emb
      .join(comps.where(col("is_representative"))
        .select(col("id").as("vec_id")), Seq("vec_id"))
      // label law applied HERE, not just inside triplets: the report's
      // n_anchors must count the MINABLE pool (the oracle's anchors
      // CTE filters identically; a null-label representative would
      // otherwise inflate the Spark count only — r19 continuation
      // review pass 5)
      .where(pmod(col("vec_id"), lit(25)) === 0 &&
        col("label").isNotNull && size(col("embedding")) === 64)
    val tri = ContrastiveMining.triplets(
      emb, "vec_id", "embedding", "label", anchors, 64)
    val nVectors = emb.agg(count(lit(1L)).as("n_vectors"))
    val compStats = comps.groupBy(col("component"))
      .agg(count(lit(1L)).as("m"))
      .agg(count(lit(1L)).as("n_components"),
        // count(when(...)) not sum(when(...)): sum over an empty
        // frame is NULL where the oracle's count(*) is 0
        count(when(col("m") === 1, true)).as("n_singletons"))
    val nAnchors = anchors.agg(count(lit(1L)).as("n_anchors"))
    val triStats = tri.agg(count(lit(1L)).as("n_triplets"),
      round(expr("CAST(SUM(CAST(margin AS DECIMAL(20,6))) AS DOUBLE)")
        / count(lit(1L)), 6).as("mean_margin"))
    nVectors.crossJoin(compStats).crossJoin(nAnchors).crossJoin(triStats)
  }

  /** SCD2 validity-interval history (History.scd2) over the events
    * change log: per user, one row per event_type CHANGE with
    * [valid_from, valid_to) intervals, version numbers and the
    * is_current flag — unchanged-payload rows compact away. */
  private def q239(s: SparkSession, dir: String): DataFrame =
    scd2GateBoundary(eventsHistory(s, dir))

  /** Incremental SCD2 (History.scd2Append): the events log folded in
    * THREE append-only batches (event_id terciles — ts is globally
    * monotone in event_id in this corpus, so the split preserves
    * every key's (ts, tie) order), gated against the ONE-SHOT q239
    * oracle verbatim — the gate IS merge-equals-one-shot. The
    * max-id read is setup-time split harness, not operator cost. */
  private def q240(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    // r19 ADVICE: max() over an empty table is NULL (getLong would
    // throw), and a NULL event_id fails every tercile predicate (the
    // row would fall out of all three batches while the one-shot
    // oracle keeps it) — coalesce the max and route null ids into the
    // FIRST batch explicitly.
    val n = ev.agg(coalesce(max(col("event_id")), lit(-1L)))
      .head.getLong(0) + 1
    val Seq(b1, b2, b3) = Seq(
      ev.where(col("event_id").isNull || col("event_id") < lit(n / 3)),
      ev.where(col("event_id") >= lit(n / 3) && col("event_id") < lit(2 * n / 3)),
      ev.where(col("event_id") >= lit(2 * n / 3)))
    val h1 = History.scd2(b1, "user_id", "ts", Seq("event_type"), Seq("event_id"))
    val h3 = Seq(b2, b3).foldLeft(h1)((h, b) =>
      History.scd2Append(h, b, "user_id", "ts", Seq("event_type"), Seq("event_id")))
    scd2GateBoundary(h3)
  }

  /** Point-in-time snapshot (History.asOf over the q239 history):
    * the per-user event_type state live at noon of day one — the
    * "corpus at cut time T" read of a release. Pure interval filter
    * over the history; the oracle filters the shared SCD2 body the
    * same way on the micros columns (epoch_us is monotone, so the
    * two boundary forms are the same law). */
  private def q241(s: SparkSession, dir: String): DataFrame =
    scd2GateBoundary(History.asOf(eventsHistory(s, dir),
      lit("2024-01-01 12:00:00").cast("timestamp_ntz")))

  /** Snapshot diff (History.diffSnapshots): which users' live
    * event_type changed between noon day 1 and noon day 2 — the
    * release-notes read over the SCD2 history (added = first seen
    * between the cuts; changed = live at both with different
    * payload; a key never leaves an SCD2 history going forward, so
    * no removed rows here). The oracle filters the shared SCD2 body
    * at both cuts and full-outer-joins. */
  private def q243(s: SparkSession, dir: String): DataFrame =
    History.diffSnapshots(eventsHistory(s, dir),
      lit("2024-01-01 12:00:00").cast("timestamp_ntz"),
      lit("2024-01-02 12:00:00").cast("timestamp_ntz"),
      "user_id", Seq("event_type"))

  /** BPE tokenizer training (operators.Bpe, Sennrich et al. 2016):
    * 12 merges learned over the corpus word-frequency table with the
    * pinned deterministic tie-break — the oracle unrolls the same 12
    * rounds as recursive CTEs, so every rank/pair/count must agree,
    * including merges of previously-merged symbols. */
  private def q201(s: SparkSession, dir: String): DataFrame = {
    val (merges, symtab) =
      Bpe.learnMerges(Bpe.wordFreqs(t(s, dir, "documents"), "text"), 12)
    symtab.unpersist()
    Bpe.mergeTable(s, merges)
  }

  /** BPE encoding via the trained dictionary join (Bpe.encode): the
    * word-memoization deployment path — per-doc word and subword
    * totals against the 12-merge symbol table q201 learns. */
  private def q202(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val (_, symtab) = Bpe.learnMerges(Bpe.wordFreqs(docs, "text"), 12)
    val out = Bpe.encode(docs, "doc_id", "text", symtab)
    // materialized by the caller's action; the symtab cache is tiny
    // (vocabulary-sized) and dies with the session either way
    out
  }

  /** Cross-snapshot NEAR-dup (Dedup.nearDupAgainstSnapshot): q197's
    * continuous-ingest posture with MinHash-LSH candidates — batch
    * (doc_id ≥ 250) against the prior snapshot's persisted bucket +
    * shingle indexes. The oracle replays the identical md5 banding
    * (q18's law), so the deterministic LSH misses are REPRODUCED. */
  private def q203(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val prior = Search.tokenBase(
      docs.where(col("doc_id") < 250 || col("doc_id") % 5 === 0),
      "doc_id", "text")
    Dedup.nearDupAgainstSnapshot(
      docs.where(col("doc_id") >= 250), "doc_id", "text",
      Dedup.lshBucketsFromTokens(prior, "doc_id"), "doc_id",
      Dedup.shingleIndexFromTokens(prior, "doc_id"), minSim = 0.5)
  }

  /** The tokenize-then-pack tail of a data release (Bpe.encode →
    * Packing.concatChop): training sequences budgeted by the TRAINED
    * tokenizer's subword counts, not whitespace words — 4 shards,
    * 512-subword sequences over the q201 vocabulary. All-integer
    * law; the oracle chains the BPE CTEs into the packing window. */
  private def q204(s: SparkSession, dir: String): DataFrame = {
    import operators.Packing
    val docs = t(s, dir, "documents")
    val (_, symtab) = Bpe.learnMerges(Bpe.wordFreqs(docs, "text"), 12)
    Packing.concatChop(
      Bpe.encode(docs, "doc_id", "text", symtab),
      "doc_id", "n_subwords", pmod(col("doc_id"), lit(4)), 512L)
  }

  /** Count-Min Sketch point estimates (Sketch.cmsCounters /
    * cmsEstimate, d=3 w=1024) over the corpus BM25 token stream,
    * probed with the shared query terms plus two absent terms —
    * estimates never under-count (est ≥ n_true pinned by the oracle
    * replaying the identical counters, collisions and all). */
  private def q205(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = t(s, dir, "documents")
      .select(explode(TextFunctions.bm25Tokens(col("text"))).as("tok"))
    val counters = toks.agg(
      graft.functions.Sketch.cmsCounters(col("tok"), 3, 1024).as("cms"))
    val probes = (bm25QueryTerms ++ Seq("zzzabsent", "qqqmissing"))
      .toDF("term")
    val exact = toks.groupBy(col("tok").as("term"))
      .agg(count(lit(1)).as("n_true"))
    probes.crossJoin(broadcast(counters))
      .select(col("term"), graft.functions.Sketch
        .cmsEstimate(col("cms"), col("term"), 3, 1024).cast("long").as("est"))
      .join(exact, Seq("term"), "left")
      .select(col("term"), col("est"),
        coalesce(col("n_true"), lit(0L)).as("n_true"))
  }

  /** Per-shard release manifest (Packing.shardManifest) over the
    * q185 packing: doc/token/sequence totals + the order-insensitive
    * bit_xor checksum — both engines fold the identical 48-bit md5
    * values, so the checksum must agree to the bit. */
  private def q206(s: SparkSession, dir: String): DataFrame = {
    import operators.Packing
    Packing.shardManifest(
      Packing.packDocuments(t(s, dir, "documents"), "doc_id", "text",
        nShards = 8, budget = 256L),
      "shard", "doc_id", "n_tokens", budget = 256L)
  }

  /** Leakage-safe group-aware splits (Sampling.assignSplitByGroup):
    * near-dup groups from the exact Jaccard pairs (≥ 0.5) via
    * connected components; the split draw runs on each group's
    * representative, so no near-dup pair straddles splits. The
    * oracle replays the recursive closure + the threshold-hex law. */
  private def q207(s: SparkSession, dir: String): DataFrame = {
    import operators.Sampling
    val docs = t(s, dir, "documents").select(col("doc_id"))
    val pairs = Dedup.jaccardPairsFromIndex(docsShingles(s, dir),
      "doc_id", 0.5)
    val comps = Dedup.connectedComponents(docs, "doc_id",
      pairs, "id_a", "id_b")
    Sampling.assignSplitByGroup(docs, "doc_id", comps, "gsplit",
      0.7, 0.15)
  }

  /** The release capstone: per-(split, shard) integrity manifests
    * over the FULL q187 pipeline output (quality → dedup → mix →
    * split → pack) — the artifact set a data release actually ships.
    * Same bit_xor checksum law as q206, grouped by the named subset. */
  private def q208(s: SparkSession, dir: String): DataFrame = {
    import operators.Packing
    Packing.shardManifest(q187(s, dir), Seq("split", "shard"),
      "doc_id", "n_tokens", budget = 256L)
  }

  /** The dataloader's random-access index (Packing.sequenceIndex):
    * per-(sequence, document) composition rows with in-sequence
    * offsets, inverted from the q185 packing — all-integer window
    * math the oracle replays via generate_series. */
  private def q209(s: SparkSession, dir: String): DataFrame = {
    import operators.Packing
    Packing.sequenceIndex(
      Packing.packDocuments(t(s, dir, "documents"), "doc_id", "text",
        nShards = 8, budget = 256L),
      "doc_id", budget = 256L)
  }

  /** Tokenizer fertility QA (Bpe.encode → per-language roll-up):
    * subwords-per-word by language — the table a tokenizer release
    * ships to show which languages it over-fragments. One exact
    * integer division per language, rounded at the boundary. */
  private def q210(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val (_, symtab) = Bpe.learnMerges(Bpe.wordFreqs(docs, "text"), 12)
    Bpe.encode(docs, "doc_id", "text", symtab)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).cast("long").as("total_words"),
        sum(col("n_subwords")).cast("long").as("total_subwords"))
      .withColumn("fertility",
        round(col("total_subwords").cast("double") /
          col("total_words").cast("double"), 6))
  }

  /** Boilerplate-line removal (Dedup.removeBoilerplateLines): the
    * corpus has single-line docs, so the gate synthesizes the layout
    * a crawl delivers — a global cookie banner (df = corpus), a
    * whitespace-only line (must never convict), the unique body, a
    * quarter-frequency newsletter plea, and a 30-variant footer
    * whose df sits BELOW the threshold at sf0.01 (threshold arm). */
  private def q211(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"),
      concat_ws("\n",
        lit("cookie notice: we use cookies to improve your experience."),
        lit("   "),
        col("text"),
        when(col("doc_id") % 4 === 0,
          lit("subscribe to our newsletter today.")),
        concat(lit("footer variant "),
          (col("doc_id") % 30).cast("string"))).as("text"))
    Dedup.removeBoilerplateLines(docs, "doc_id", "text", 20L)
  }

  /** Eval-set decontamination (Dedup.removeContaminatedSpans): the
    * q178 split (doc_id % 5 == 0 is the benchmark side), 6-gram
    * windows — 14 train docs lose spans at sf0.01. */
  private def q212(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Dedup.removeContaminatedSpans(
      docs.where(col("doc_id") % 5 =!= 0), "doc_id", "text",
      docs.where(col("doc_id") % 5 === 0), "text", 6)
  }

  /** Domain-blocklist verdicts (UrlOps.domainBlockVerdicts): hosts
    * synthesized q186-style with a cdn. subdomain arm; the blocklist
    * carries a bare domain, a subdomain entry, and BOTH for one
    * domain (longest-match arm: cdn.example3.com beats example3.com). */
  private def q213(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import operators.UrlOps
    val hosts = t(s, dir, "events").select(col("event_id"),
      concat(
        when(col("event_id") % 3 === 0, lit("cdn.")).otherwise(lit("")),
        lit("example"), (col("user_id") % 50).cast("string"),
        lit(".com")).as("host"))
    val bl = Seq("example3.com", "cdn.example3.com", "example7.com",
      "cdn.example5.com").toDF("dom")
    UrlOps.domainBlockVerdicts(hosts, "event_id", "host", bl, "dom")
  }

  /** Token-budget selection (Sampling.budgetSelect): 10 quality
    * bands (doc_id % 10, higher is better), 25k-token budget — the
    * top bands fit whole, exactly one band splits on its id-ordered
    * prefix, the rest drop. */
  private def q214(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"),
      (col("doc_id") % 10).as("band"),
      size(coalesce(TextFunctions.allTokens(col("text")),
        array().cast("array<string>"))).cast("long").as("n_tokens"))
    operators.Sampling.budgetSelect(
      docs, "doc_id", "n_tokens", "band", 25000L)
  }

  /** NB quality classifier (LmQuality.nbQualityScore): en docs as
    * the trusted positive seed, zh docs as the negative seed, the
    * whole corpus scored — the deterministic GPT-3-appendix-A form.
    * Served from the persisted CorpusArtifacts.nbScores frame (the
    * ingest-written artifact in production; q221 reads the SAME
    * frame — the r16-verdict "persist the scored frame once"
    * posture, now a code face). */
  private def q215(s: SparkSession, dir: String): DataFrame =
    nbScoresEnZh(s, dir)

  /** The shared NB-scored artifact (en-positive / zh-negative seeds
    * over the raw corpus) q215 and q221 both read. */
  private def nbScoresEnZh(s: SparkSession, dir: String): DataFrame =
    CorpusArtifacts.nbScores(
      s"${corpusKey(s, dir)}#nb:en-zh",
      t(s, dir, "documents"), "doc_id", "text",
      t(s, dir, "documents").where(col("lang") === "en"), "text",
      t(s, dir, "documents").where(col("lang") === "zh"), "text")

  /** The decontaminated-text artifact of the q219 capstone (train =
    * doc_id % 5 ≠ 0 scrubbed against the % 5 = 0 benchmark slice,
    * 6-gram windows) — ONE accessor for prepareArtifacts and the
    * gate, so ingest and query can never drift on key or slicing. */
  private def decontaminatedMod5(s: SparkSession, dir: String): DataFrame =
    CorpusArtifacts.decontaminated(
      s"${corpusKey(s, dir)}#decon:mod5",
      t(s, dir, "documents").where(col("doc_id") % 5 =!= 0),
      "doc_id", "text",
      t(s, dir, "documents").where(col("doc_id") % 5 === 0), "text", 6)

  /** The clean-side NB-scored artifact: the en/zh seed classifier
    * over [[decontaminatedMod5]]'s clean_text (q219's scoring
    * input). */
  private def nbScoresClean(s: SparkSession, dir: String): DataFrame =
    CorpusArtifacts.nbScores(
      s"${corpusKey(s, dir)}#nb:en-zh-clean",
      decontaminatedMod5(s, dir).select(col("doc_id"), col("clean_text")),
      "doc_id", "clean_text",
      t(s, dir, "documents").where(col("lang") === "en"), "text",
      t(s, dir, "documents").where(col("lang") === "zh"), "text")

  /** SimHash hamming candidates (Dedup.simhashHammingCandidates,
    * Manku et al. 2007): C(8,5) = 56 five-block combination tables
    * over distinct fingerprints, exact recall at hamming <= 3 —
    * 21 pairs at sf0.01. */
  private def q216(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashHammingCandidates(
      t(s, dir, "documents"), "doc_id", "text", 8, 3)

  /** Within-doc line trimming (Dedup.dedupLinesWithinDoc): the
    * q211-style synthesized layout but with WITHIN-document repeats —
    * even docs echo their body line, every doc repeats its signature;
    * blank separators stay. */
  private def q217(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"),
      concat_ws("\n",
        col("text"),
        lit("   "),
        when(col("doc_id") % 2 === 0, col("text")),
        concat(lit("sig "), (col("doc_id") % 5).cast("string")),
        concat(lit("sig "), (col("doc_id") % 5).cast("string")),
        lit("   ")).as("text"))
    Dedup.dedupLinesWithinDoc(docs, "doc_id", "text")
  }

  /** The q232/q233/q234 synthesized paragraph layout over `documents`
    * — ONE definition (r19: q233/q234 replay the same layout; an
    * inline copy is the drift class the `...Over` fragments exist to
    * eliminate): every doc leads with its mod-7-class boilerplate
    * paragraph (shared across ~1/7th of the corpus), keeps its own
    * text as the middle paragraph, every third doc trails a second
    * shared notice, and a whitespace-only paragraph separates. The
    * layout is a function of the ORIGINAL doc_id, so q233 can null
    * the id after synthesis. */
  private def paragraphLayout: org.apache.spark.sql.Column =
    concat(
      lit("Shared header "), (col("doc_id") % 7).cast("string"),
      lit(" about the corpus.\n\n"),
      col("text"),
      lit("\n\n   \n\n"),
      when(col("doc_id") % 3 === 0,
        lit("Legal notice: all rights reserved."))
        .otherwise(concat(lit("unique tail "),
          col("doc_id").cast("string")))).as("text")

  /** The laid-out (doc_id, text) corpus shared by q232/q234. */
  private def paragraphDocs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"), paragraphLayout)

  /** Cross-document paragraph dedup (Dedup.dedupParagraphsAcrossDocs,
    * the paragraph granularity of the Lee et al. 2022 matrix) over
    * the synthesized layout: shared headers kept only by each class's
    * min doc id, blanks never convict. */
  private def q232(s: SparkSession, dir: String): DataFrame =
    Dedup.dedupParagraphsAcrossDocs(paragraphDocs(s, dir), "doc_id", "text")

  /** The paragraph law under NULL doc ids (r19 advice: the q232 twin's
    * `doc_id <= owner` alone yields NULL keep on a null-id doc — its
    * shared paragraphs vanish from clean_text AND stay uncounted in
    * n_removed, the exact class the Spark face's explicit isNull arm
    * closes; the gate corpus has non-null ids, so the law was latent).
    * Every 11th doc's id is nulled AFTER layout synthesis: null-id
    * docs keep ALL their paragraphs (unadjudicable occurrences never
    * convict) while still counting as non-owners, and all null-id
    * rows share one output group on both engines (GROUP BY NULL). */
  private def q233(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents")
    val docs = base.select(
      when(col("doc_id") % 11 === 0, lit(null).cast("long"))
        .otherwise(col("doc_id")).as("doc_id"),
      paragraphLayout)
    Dedup.dedupParagraphsAcrossDocs(docs, "doc_id", "text")
  }

  /** Incremental paragraph-owner law (r19 — the q232 TRAIN face run
    * as three snapshots, doc_id % 3): per-snapshot owners merge by
    * per-paragraph MIN, applied to the whole corpus — the oracle
    * replays the ONE-SHOT law, so the gate IS the merge-equals-
    * one-shot equality (exact, because min distributes over any
    * split — the q222 pattern without its append-only assumption). */
  private def q234(s: SparkSession, dir: String): DataFrame = {
    val docs = paragraphDocs(s, dir)
    // pmod, not % (r19 review pass 8): Spark % returns NEGATIVE
    // remainders for negative ids, so a negative doc_id would match
    // no snapshot and silently drop from the merged owners — the
    // merge-equals-one-shot law must hold over ANY corpus, and the
    // split must therefore PARTITION it (latent: the gate corpus has
    // non-negative ids — the q233 null-id class, one column over)
    val owners = (0 to 2).map(i =>
        Dedup.paragraphOwners(
          docs.where(pmod(col("doc_id"), lit(3)) === i), "doc_id", "text"))
      .reduce(Dedup.mergeParagraphOwners)
    Dedup.dedupParagraphsWithOwners(docs, "doc_id", "text", owners)
  }

  /** Release diff (Dedup.releaseDiff): synthetic churn over the
    * corpus — every 7th doc removed, every 5th rewritten ('changed'),
    * every 5th+1 case/whitespace-churned (fingerprint-UNCHANGED by
    * the exact-dedup law), every 11th re-added under a new id. */
  private def q218(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val newDf = docs.where(col("doc_id") % 7 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 5 === 0, concat(col("text"), lit(" rev2")))
          .when(col("doc_id") % 5 === 1, concat(upper(col("text")), lit("  ")))
          .otherwise(col("text")))
      .unionByName(docs.where(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
    Dedup.releaseDiff(docs, newDf, "doc_id", "text")
  }

  /** Curation capstone v2 (the round-16 tier end to end):
    * decontaminate train docs against the benchmark slice (q212 law)
    * -> NB-classifier keep on the CLEANED text (q215 law, seeds from
    * the original corpus) -> pack survivors (q185 law) -> per-shard
    * release manifests (q206 law). Proves the new operators compose
    * — every stage's output feeds the next's documented input. */
  private def q219(s: SparkSession, dir: String): DataFrame = {
    import operators.Packing
    // both capstone artifacts are ingest-persisted in production and
    // memoized here (r16-verdict item 2: the uncached NB chain crossed
    // the plan 10x) — the decontaminated frame feeds BOTH the scoring
    // and the keep join, the scored frame every downstream branch
    val clean = decontaminatedMod5(s, dir)
    val kept = nbScoresClean(s, dir)
      .where(col("keep"))
      .join(clean.select(col("doc_id"), col("clean_text")), Seq("doc_id"))
    Packing.shardManifest(
      Packing.packDocuments(kept, "doc_id", "clean_text", 8, 256L),
      "shard", "doc_id", "n_tokens", 256L)
  }

  /** Length-bucketed batching (Packing.lengthBucketBatches): width-32
    * buckets, batches of 16 — the padded-batch dataloader index. */
  private def q220(s: SparkSession, dir: String): DataFrame = {
    import operators.Packing
    val docs = t(s, dir, "documents").select(col("doc_id"),
      size(coalesce(TextFunctions.allTokens(col("text")),
        array().cast("array<string>"))).cast("long").as("n_tokens"))
    Packing.lengthBucketBatches(docs, "doc_id", "n_tokens", 32L, 16)
  }

  /** NB-banded budget selection (q215 -> q214 composed with REAL
    * quality bands): per-language decile of the NB score via
    * percent_rank (floor(pr*10), nulls-first so tokenless docs rank
    * worst), then the 20k-token budget draw. The per-lang window is
    * the q194 posture (swap for approx quantile boundaries at scale —
    * monotone law). */
  private def q221(s: SparkSession, dir: String): DataFrame = {
    import operators.Sampling
    val docs = t(s, dir, "documents")
    // reads the SAME persisted artifact as q215 (nbScoresEnZh) — the
    // downstream window/budget branches re-read one InMemoryRelation
    // instead of re-evaluating the NB chain per branch
    val scored = nbScoresEnZh(s, dir)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"))
      .orderBy(col("avg_llr").asc_nulls_first, col("doc_id").asc)
    val banded = scored.withColumn("band",
      floor(percent_rank().over(w) * 10).cast("long"))
    Sampling.budgetSelect(banded, "doc_id", "n_tokens", "band", 20000L)
  }

  /** Incremental line-conviction law (q211's TRAIN face run as three
    * append-only snapshots, doc_id % 3): per-snapshot counts merge by
    * per-line sum, conviction at the merged threshold, applied to the
    * whole corpus — the oracle replays the ONE-SHOT law, so the gate
    * IS the merge-equals-one-shot equality. */
  private def q222(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"),
      concat_ws("\n",
        lit("cookie notice: we use cookies to improve your experience."),
        lit("   "),
        col("text"),
        when(col("doc_id") % 4 === 0,
          lit("subscribe to our newsletter today.")),
        concat(lit("footer variant "),
          (col("doc_id") % 30).cast("string"))).as("text"))
    val counts = (0 to 2).map(i =>
        Dedup.boilerplateLineCounts(
          docs.where(col("doc_id") % 3 === i), "doc_id", "text"))
      .reduce(Dedup.mergeBoilerplateLineCounts)
    Dedup.removeBoilerplateLinesWithConvicted(docs, "doc_id", "text",
      Dedup.convictedFromCounts(counts, 20L))
  }

  // ------------------------------------------------------------------

  /** Flagship: hybrid BM25+vector RRF search on sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    q24(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_summary" -> q01 _,
    "q02_top_orders" -> q02 _,
    "q03_revenue_by_nation" -> q03 _,
    "q04_window_top_orders" -> q04 _,
    "q05_events_by_type" -> q05 _,
    "q06_hourly_events" -> q06 _,
    "q07_percentiles" -> q07 _,
    "q08_sessionize" -> q08 _,
    "q09_bm25_tokens" -> q09 _,
    "q10_chunk_fixed" -> q10 _,
    "q11_chunk_sentence" -> q11 _,
    "q12_token_stats" -> q12 _,
    "q13_quality_score" -> q13 _,
    "q14_langid" -> q14 _,
    "q15_dedup_exact" -> q15 _,
    "q16_shingle_stats" -> q16 _,
    "q17_jaccard_pairs" -> q17 _,
    "q18_minhash_lsh" -> q18 _,
    "q19_simhash" -> q19 _,
    "q20_embed_near_dup" -> q20 _,
    "q21_ann_topk" -> q21 _,
    "q22_knn_join" -> q22 _,
    "q23_bm25_search" -> q23 _,
    "q24_hybrid_rrf" -> q24 _,
    "q25_graph_2hop" -> q25 _,
    "q26_lsh_buckets" -> q26 _,
    "q27_entity_normalize" -> q27 _,
    "q28_canonicalize" -> q28 _,
    "q29_fuzzy_pairs" -> q29 _,
    "q30_cooccurrence" -> q30 _,
    "q31_entity_2hop" -> q31 _,
    "q32_validate_rels" -> q32 _,
    "q33_stateful_sessions" -> q33 _,
    "q34_two_tier_chunks" -> q34 _,
    "q35_contextualized" -> q35 _,
    "q36_multimodal_features" -> q36 _,
    "q37_json_extract" -> q37 _,
    "q38_metadata_tags" -> q38 _,
    "q39_weighted_merge" -> q39 _,
    "q40_multivector_fusion" -> q40 _,
    "q41_suggestions" -> q41 _,
    "q42_rerank_boost" -> q42 _,
    "q43_embed_stub" -> q43 _,
    "q44_semantic_chunks" -> q44 _,
    "q45_fanout" -> q45 _,
    "q46_dedup_groups" -> q46 _,
    "q47_recursive_split" -> q47 _,
    "q48_ivf_ann" -> q48 _,
    "q49_rerank_client" -> q49 _,
    "q50_graph_stats" -> q50 _,
    "q51_maxsim" -> q51 _,
    "q52_semantic_search" -> q52 _,
    "q53_extract_typed" -> q53 _,
    "q54_notion_markdown" -> q54 _,
    "q55_semantic_focus" -> q55 _,
    "q56_canonical_desc" -> q56 _,
    "q57_graph_search" -> q57 _,
    "q58_rag_context" -> q58 _,
    "q59_filtered_vector" -> q59 _,
    "q60_graph_export" -> q60 _,
    "q61_winnow_fingerprints" -> q61 _,
    "q62_ingest_pipeline" -> q62 _,
    "q63_incremental_diff" -> q63 _,
    "q64_state_machine" -> q64 _,
    "q65_entity_suggest" -> q65 _,
    "q66_subword_stats" -> q66 _,
    "q67_frame_sample" -> q67 _,
    "q68_asof_join" -> q68 _,
    "q69_range_join" -> q69 _,
    "q70_kmv_sketch" -> q70 _,
    "q71_parse_confidence" -> q71 _,
    "q72_embed_dedup_lsh" -> q72 _,
    "q73_fuzzy_tiers" -> q73 _,
    "q74_gdrive_listing" -> q74 _,
    "q75_notion_changes" -> q75 _,
    "q76_security_filter" -> q76 _,
    "q77_heading_blocks" -> q77 _,
    "q78_audio_segments" -> q78 _,
    "q79_dedup_merge" -> q79 _,
    "q80_bloom_prefilter" -> q80 _,
    "q81_s3_events" -> q81 _,
    "q82_chunk_review" -> q82 _,
    "q83_version_chains" -> q83 _,
    "q84_llm_select" -> q84 _,
    "q85_tag_merge" -> q85 _,
    "q86_doc_category" -> q86 _,
    "q87_entity_quality" -> q87 _,
    "q88_hybrid_graph" -> q88 _,
    "q89_incremental_bm25" -> q89 _,
    "q90_llm_response" -> q90 _,
    "q91_md_sections" -> q91 _,
    "q92_status_events" -> q92 _,
    "q93_rag_prompt" -> q93 _,
    "q94_code_split" -> q94 _,
    "q95_chat_requests" -> q95 _,
    "q96_extraction_runs" -> q96 _,
    "q97_bridge_chunks" -> q97 _,
    "q98_bridge_entities" -> q98 _,
    "q99_bridge_relationships" -> q99 _,
    "q100_query_stream" -> q100 _,
    "q101_entity_dup_groups" -> q101 _,
    "q102_entity_auto_merge" -> q102 _,
    "q103_chunk_split" -> q103 _,
    "q104_chunk_merge" -> q104 _,
    "q105_rel_proposals" -> q105 _,
    "q106_entity_dedup_census" -> q106 _,
    "q107_document_listing" -> q107 _,
    "q108_rel_curation" -> q108 _,
    "q109_doc_detail_entities" -> q109 _,
    "q110_vision_requests" -> q110 _,
    "q111_review_status" -> q111 _,
    "q112_jobs_census" -> q112 _,
    "q113_jobs_listing" -> q113 _,
    "q114_metadata_transitions" -> q114 _,
    "q115_reset_census" -> q115 _,
    "q116_canonical_metrics" -> q116 _,
    "q117_chunk_context" -> q117 _,
    "q118_chunk_update" -> q118 _,
    "q119_chunk_delete" -> q119 _,
    "q120_batch_update_census" -> q120 _,
    "q121_entity_listing" -> q121 _,
    "q122_entity_create" -> q122 _,
    "q123_entity_update" -> q123 _,
    "q124_entity_resolve" -> q124 _,
    "q125_entity_report" -> q125 _,
    "q126_quick_search" -> q126 _,
    "q127_suggested_metadata" -> q127 _,
    "q128_process_admission" -> q128 _,
    "q129_rechunk" -> q129 _,
    "q130_progress_stream" -> q130 _,
    "q131_connector_scans" -> q131 _,
    "q132_bridge_graph_search" -> q132 _,
    "q133_bridge_hybrid" -> q133 _,
    "q134_entity_delete" -> q134 _,
    "q135_pipeline_progress" -> q135 _,
    "q136_metadata_update" -> q136 _,
    "q137_supabase_chunks" -> q137 _,
    "q138_sources_scan" -> q138 _,
    "q139_celery_status" -> q139 _,
    "q140_tracker_status" -> q140 _,
    "q141_search_health" -> q141 _,
    "q142_service_init" -> q142 _,
    "q143_llamaparse_wire" -> q143 _,
    "q144_rel_canonicalize" -> q144 _,
    "q145_app_health" -> q145 _,
    "q146_compat_scan" -> q146 _,
    "q147_rel_cleanup" -> q147 _,
    "q148_backfill_canonical" -> q148 _,
    "q149_rel_type_migrate" -> q149 _,
    "q150_reset_stuck" -> q150 _,
    "q151_lsh_auto_sizing" -> q151 _,
    "q152_jaccard_capped" -> q152 _,
    "q153_embed_dedup_auto" -> q153 _,
    "q154_minhash_auto" -> q154 _,
    "q155_minimal_api" -> q155 _,
    "q156_txn_manager" -> q156 _,
    "q157_fix_entity_types" -> q157 _,
    "q158_provider_requests" -> q158 _,
    "q159_duration_parse" -> q159 _,
    "q160_evaluate_dump" -> q160 _,
    "q161_indexing_status" -> q161 _,
    "q162_schema_build" -> q162 _,
    "q163_gemini_engine" -> q163 _,
    "q164_openai_engine" -> q164 _,
    "q165_tracking_setup" -> q165 _,
    "q166_table_setup" -> q166 _,
    "q167_setup_metadata" -> q167 _,
    "q168_target_ids" -> q168 _,
    "q169_value_decode" -> q169 _,
    "q170_legacy_ingest" -> q170 _,
    "q171_legacy_points" -> q171 _,
    "q172_cli_ls_eval" -> q172 _,
    "q173_cli_stats_line" -> q173 _,
    "q174_ivf_assign" -> q174 _,
    "q175_ivf_drift" -> q175 _,
    "q176_neardup_groups" -> q176 _,
    "q177_training_mix" -> q177 _,
    "q178_contamination" -> q178 _,
    "q179_quality_signals" -> q179 _,
    "q180_c4_clean" -> q180 _,
    "q181_pii_redact" -> q181 _,
    "q182_temperature_mix" -> q182 _,
    "q183_temperature_sample" -> q183 _,
    "q184_source_census" -> q184 _,
    "q185_sequence_packing" -> q185 _,
    "q186_url_normalize" -> q186 _,
    "q187_training_pipeline" -> q187 _,
    "q188_winnow_span_pairs" -> q188 _,
    "q189_mix_report" -> q189 _,
    "q190_vocab_topk" -> q190 _,
    "q191_ngram_topk" -> q191 _,
    "q192_semdedup" -> q192 _,
    "q193_lm_nll" -> q193 _,
    "q194_ppl_buckets" -> q194 _,
    "q195_dsir_weights" -> q195 _,
    "q196_dsir_resample" -> q196 _,
    "q197_snapshot_dedup" -> q197 _,
    "q198_balance_cap" -> q198 _,
    "q199_semdedup_lsh" -> q199 _,
    "q200_remove_spans" -> q200 _,
    "q201_bpe_merges" -> q201 _,
    "q202_bpe_encode" -> q202 _,
    "q203_snapshot_neardup" -> q203 _,
    "q204_bpe_packing" -> q204 _,
    "q205_cms_counts" -> q205 _,
    "q206_shard_manifest" -> q206 _,
    "q207_group_split" -> q207 _,
    "q208_release_manifest" -> q208 _,
    "q209_sequence_index" -> q209 _,
    "q210_bpe_fertility" -> q210 _,
    "q211_boilerplate_lines" -> q211 _,
    "q212_decontaminate" -> q212 _,
    "q213_domain_blocklist" -> q213 _,
    "q214_budget_select" -> q214 _,
    "q215_nb_quality" -> q215 _,
    "q216_simhash_hamming" -> q216 _,
    "q217_within_doc_lines" -> q217 _,
    "q218_release_diff" -> q218 _,
    "q219_curation_capstone" -> q219 _,
    "q220_length_buckets" -> q220 _,
    "q221_nb_budget_select" -> q221 _,
    "q222_incremental_lines" -> q222 _,
    "q223_cc_star" -> q223 _,
    "q224_keep_best" -> q224 _,
    "q225_split_leakage" -> q225 _,
    "q226_group_sizes" -> q226 _,
    "q227_nulltext_groups" -> q227 _,
    "q228_nulltext_keep_best" -> q228 _,
    "q229_nulltext_rank" -> q229 _,
    "q230_unimax_alloc" -> q230 _,
    "q231_multilingual_draw" -> q231 _,
    "q232_paragraph_dedup" -> q232 _,
    "q233_paragraph_dedup_nullid" -> q233 _,
    "q234_paragraph_owners_merge" -> q234 _,
    "q235_span_owners_merge" -> q235 _,
    "q236_hard_negatives" -> q236 _,
    "q237_triplets" -> q237 _,
    "q238_hard_negatives_lsh" -> q238 _,
    "q239_scd2_history" -> q239 _,
    "q240_scd2_append" -> q240 _,
    "q241_asof_snapshot" -> q241 _,
    "q242_hard_negatives_lsh_auto" -> q242 _,
    "q243_snapshot_diff" -> q243 _,
    "q244_sampled_negatives" -> q244 _,
    "q245_lsh_recall_audit" -> q245 _,
    "q246_contrastive_capstone" -> q246 _,
    "q247_lsh_recall_face" -> q247 _,
    "q248_mining_snapshot" -> q248 _,
    "q249_recall_audit_sampled" -> q249 _,
    "q250_inbatch_batches" -> q250 _,
    "q251_triplets_lsh" -> q251 _)

  /** Headline subset for Bench. The final block is the round-16
    * LLM-training-data tier (r16-verdict item 1: the tier had zero
    * card coverage — a regression would surface only in hand-run
    * SCALING cells); BenchGuardSpec pins the full set so a cell
    * can't silently drop off the card. */
  def benchQueries: Seq[String] = Seq(
    "q01_pricing_summary", "q03_revenue_by_nation", "q08_sessionize",
    "q09_bm25_tokens", "q15_dedup_exact", "q17_jaccard_pairs",
    "q18_minhash_lsh", "q72_embed_dedup_lsh", "q21_ann_topk", "q23_bm25_search",
    "q24_hybrid_rrf", "q33_stateful_sessions", "q34_two_tier_chunks",
    "q48_ivf_ann", "q51_maxsim", "q52_semantic_search",
    "q61_winnow_fingerprints", "q62_ingest_pipeline",
    "q68_asof_join", "q69_range_join", "q70_kmv_sketch",
    "q187_training_pipeline", "q192_semdedup", "q200_remove_spans",
    "q215_nb_quality", "q219_curation_capstone",
    "q226_group_sizes",
    // r19 continuation: the new tier's two scale representatives —
    // the events-scale SCD2 window op and the self-sizing LSH miner
    "q239_scd2_history", "q242_hard_negatives_lsh_auto")

  /** DuckDB twin of the q179 Gopher signal battery (raw whitespace
    * words, 6-place rounding, gaps-and-islands max run; see the
    * q179 scaladoc) - shared by the q184 per-source census.
    *
    * NOTE for editors: this string is interpolated into OUTER
    * stripMargin templates (q184, trainingPipelineOracleSql) and so
    * gets stripped twice — never lay out a line here to BEGIN with
    * whitespace + '|' (e.g. a '|| ' concat continuation), or the
    * second strip corrupts only the composed copies. */
  private def qualitySignalsOracleSql: String =
    s"""WITH w AS (SELECT doc_id, $rawWordsSql AS ws FROM documents),
         |u AS (SELECT doc_id, generate_subscripts(ws, 1) AS ord,
         |      unnest(ws) AS word FROM w),
         |wc AS (SELECT doc_id, word, count(*) AS c FROM u
         |       GROUP BY doc_id, word),
         |tw AS (SELECT doc_id, max(c) AS topw FROM wc GROUP BY doc_id),
         |isl AS (SELECT doc_id, word, ord, ord - row_number()
         |        OVER (PARTITION BY doc_id, word ORDER BY ord) AS g
         |        FROM u),
         |runs AS (SELECT doc_id, count(*) AS run FROM isl
         |         GROUP BY doc_id, word, g),
         |mr AS (SELECT doc_id, max(run) AS maxrun FROM runs
         |       GROUP BY doc_id),
         |sig0 AS (SELECT doc_id, ws,
         |  list_filter(list_transform(
         |    generate_series(1, greatest(len(ws)-1, 1)),
         |    i -> concat_ws(' ', ws[i], ws[i+1])),
         |    g -> len(string_split(g, ' ')) = 2) AS g2,
         |  list_filter(list_transform(
         |    generate_series(1, greatest(len(ws)-2, 1)),
         |    i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2])),
         |    g -> len(string_split(g, ' ')) = 3) AS g3
         |  FROM w),
         |sig AS (SELECT s.doc_id,
         |  CAST(len(ws) AS BIGINT) AS word_count,
         |  CASE WHEN len(ws) > 0 THEN
         |    round(CAST(list_sum(list_transform(ws, x -> len(x)))
         |      AS DOUBLE) / CAST(len(ws) AS DOUBLE), 6)
         |    ELSE 0.0 END AS mean_word_len,
         |  CASE WHEN len(ws) > 0 THEN
         |    round(CAST(len(list_filter(ws,
         |      x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
         |      / CAST(len(ws) AS DOUBLE), 6)
         |    ELSE 0.0 END AS alpha_word_frac,
         |  CASE WHEN len(ws) > 0 THEN
         |    round(CAST(len(ws) - len(list_distinct(ws)) AS DOUBLE)
         |      / CAST(len(ws) AS DOUBLE), 6)
         |    ELSE 0.0 END AS dup_word_frac,
         |  CASE WHEN len(g2) > 0 THEN
         |    round(CAST(len(g2) - len(list_distinct(g2)) AS DOUBLE)
         |      / CAST(len(g2) AS DOUBLE), 6)
         |    ELSE 0.0 END AS dup_2gram_frac,
         |  CASE WHEN len(g3) > 0 THEN
         |    round(CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE)
         |      / CAST(len(g3) AS DOUBLE), 6)
         |    ELSE 0.0 END AS dup_3gram_frac,
         |  CASE WHEN len(ws) > 0 THEN
         |    round(CAST(coalesce(tw.topw, 0) AS DOUBLE)
         |      / CAST(len(ws) AS DOUBLE), 6)
         |    ELSE 0.0 END AS top_word_frac,
         |  CAST(coalesce(mr.maxrun, 0) AS BIGINT) AS max_word_run
         |  FROM sig0 s LEFT JOIN tw USING (doc_id)
         |  LEFT JOIN mr USING (doc_id))
         |SELECT *,
         |  word_count >= 50 AND word_count <= 100000
         |  AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
         |  AND alpha_word_frac >= 0.8
         |  AND dup_2gram_frac <= 0.6
         |  AND top_word_frac <= 0.2
         |  AND max_word_run <= 4 AS keep
         |FROM sig""".stripMargin

  /** DuckDB twin of the whole q187 pipeline chain (quality keep ->
    * min-id dedup -> temperature thresholds -> split bands -> packing
    * window) - shared by the q189 mix report. */
  private def trainingPipelineOracleSql: String = {
    import operators.Sampling.thresholdHex
    s"""WITH sig AS ($qualitySignalsOracleSql),
         |k AS (SELECT d.doc_id, d.lang, d.text FROM documents d
         |  JOIN sig USING (doc_id) WHERE sig.keep),
         |fp AS (SELECT doc_id, lang, text,
         |  md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
         |    AS f FROM k),
         |sv AS (SELECT doc_id, lang, text FROM fp
         |  WHERE doc_id IN (SELECT min(doc_id) FROM fp GROUP BY f)),
         |c AS (SELECT lang, count(*) AS n FROM sv GROUP BY lang),
         |m AS (SELECT min(n) AS n_min FROM c),
         |fr AS (SELECT lang, round(sqrt(CAST(n_min AS DOUBLE)
         |  / CAST(n AS DOUBLE)), 6) AS fr FROM c, m),
         |th AS (SELECT lang,
         |  CASE WHEN round(fr * 4294967296.0) >= 4294967296 THEN 'g'
         |  ELSE lpad(lower(to_hex(CAST(round(fr * 4294967296.0)
         |    AS BIGINT))), 8, '0') END AS th FROM fr),
         |mx AS (SELECT sv.* FROM sv JOIN th USING (lang)
         |  WHERE substr(md5('pipe:' || sv.doc_id), 1, 8) < th.th),
         |sp AS (SELECT doc_id, lang, text,
         |  CASE WHEN substr(md5('pipesplit:' || doc_id), 1, 8) <
         |    '${thresholdHex(0.8)}' THEN 'train'
         |  WHEN substr(md5('pipesplit:' || doc_id), 1, 8) <
         |    '${thresholdHex(0.8 + 0.1)}' THEN 'validation'
         |  ELSE 'test' END AS split FROM mx),
         |tk AS (SELECT doc_id, lang, split,
         |  CAST(len($allToksSql) AS BIGINT) AS n_tokens,
         |  doc_id % 4 AS shard FROM sp),
         |cm AS (SELECT *, sum(n_tokens) OVER (PARTITION BY shard
         |  ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum FROM tk)
         |SELECT doc_id, lang, split, CAST(shard AS BIGINT) AS shard,
         |n_tokens, CAST(cum - n_tokens AS BIGINT) AS start,
         |CAST((cum - n_tokens) // 256 AS BIGINT) AS seq_first,
         |CAST(CASE WHEN n_tokens > 0 THEN (cum - 1) // 256
         |  ELSE (cum - n_tokens) // 256 END AS BIGINT) AS seq_last
         |FROM cm""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(20,2))) AS DOUBLE) AS sum_qty,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,2))) AS DOUBLE) AS sum_base_price,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,2)) * (1 - CAST(l_discount AS DECIMAL(8,2)))) AS DOUBLE) AS sum_disc_price,
        |CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE) / COUNT(*) AS DOUBLE) AS avg_qty,
        |COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q02_top_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,
    "q03_revenue_by_nation" ->
      """SELECT n_name, COUNT(DISTINCT o_custkey) AS n_customers, COUNT(*) AS n_orders,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(20,2))) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin,
    "q04_window_top_orders" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |SELECT o_custkey, o_orderkey, o_totalprice,
        |ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |FROM orders) WHERE rn <= 3""".stripMargin,
    "q05_events_by_type" ->
      """SELECT event_type, COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users,
        |CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_value,
        |MIN(value) AS min_value, MAX(value) AS max_value
        |FROM events GROUP BY event_type""".stripMargin,
    "q06_hourly_events" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
        |event_type, COUNT(*) AS n,
        |CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q07_percentiles" ->
      """SELECT event_type,
        |round(quantile_cont(value, 0.5), 6) AS p50,
        |round(quantile_cont(value, 0.9), 6) AS p90,
        |round(quantile_cont(value, 0.99), 6) AS p99,
        |CAST(round(quantile_cont(value, 0.99), 6) < 200 AS INT) AS meets_target
        |FROM events GROUP BY event_type""".stripMargin,
    "q08_sessionize" -> sessionizeOracleSql,
    "q33_stateful_sessions" -> sessionizeOracleSql,
    // DuckDB's native ASOF JOIN is the oracle for our union-and-carry
    // formulation — two entirely different algorithms, one contract.
    "q68_asof_join" ->
      """WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, value
        |  FROM events),
        |c AS (SELECT event_id, user_id, ts_us FROM ev WHERE event_type = 'click'),
        |v0 AS (SELECT user_id, ts_us, event_id AS view_event_id, value AS view_value,
        |  ROW_NUMBER() OVER (PARTITION BY user_id, ts_us ORDER BY event_id DESC) AS rn
        |  FROM ev WHERE event_type = 'view'),
        |v AS (SELECT user_id, ts_us, view_event_id, view_value FROM v0 WHERE rn = 1)
        |SELECT c.event_id, c.user_id, c.ts_us,
        |v.ts_us AS view_ts_us, v.view_event_id, v.view_value
        |FROM c ASOF LEFT JOIN v ON c.user_id = v.user_id AND c.ts_us >= v.ts_us""".stripMargin,
    "q70_kmv_sketch" ->
      s"""WITH h AS (SELECT DISTINCT event_type,
         |  ${md5HexValSql("CAST(user_id AS VARCHAR)", 12)} AS h FROM events),
         |r AS (SELECT event_type, h,
         |  ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn,
         |  COUNT(*) OVER (PARTITION BY event_type) AS nd FROM h),
         |k AS (SELECT event_type,
         |  CASE WHEN MAX(nd) < 64 THEN CAST(MAX(nd) AS DOUBLE)
         |  ELSE 63.0 / (CAST(MAX(CASE WHEN rn = 64 THEN h END) AS DOUBLE) / 281474976710656.0)
         |  END AS kmv_estimate
         |  FROM r WHERE rn <= 64 GROUP BY event_type),
         |x AS (SELECT event_type, COUNT(DISTINCT user_id) AS n_exact FROM events GROUP BY event_type)
         |SELECT x.event_type, x.n_exact, k.kmv_estimate
         |FROM x JOIN k ON x.event_type = k.event_type""".stripMargin,
    "q75_notion_changes" -> {
      // access CASE generated from NotionConnector.accessLevels
      val levelsSql = "['" + q75Levels.mkString("','") + "']"
      val accCase = sources.NotionConnector.accessLevels
        .map { case (n, l) => s"WHEN security_level = '$n' THEN $l" }
        .mkString(" ")
      s"""WITH cur AS (SELECT doc_id AS page_id,
         |  $levelsSql[CAST(doc_id % 6 + 1 AS INT)] AS security_level,
         |  md5(text) AS content_hash FROM documents),
         |acc AS (SELECT *, CASE $accCase
         |  ELSE ${sources.NotionConnector.DefaultAccessLevel} END AS access_level FROM cur),
         |stored AS (SELECT doc_id AS page_id,
         |  CASE WHEN doc_id % 2 = 0 THEN md5(text) ELSE 'stale' END AS stored_hash
         |  FROM documents WHERE doc_id % 3 <> 0),
         |ch AS (SELECT a.security_level, COUNT(*) AS n_changed
         |  FROM acc a LEFT JOIN stored s USING (page_id)
         |  WHERE s.stored_hash IS NULL OR a.content_hash <> s.stored_hash
         |  GROUP BY a.security_level),
         |base AS (SELECT security_level, access_level, COUNT(*) AS n_pages
         |  FROM acc GROUP BY security_level, access_level)
         |SELECT base.security_level, base.access_level, base.n_pages,
         |coalesce(ch.n_changed, 0) AS n_changed
         |FROM base LEFT JOIN ch ON base.security_level = ch.security_level""".stripMargin
    },
    "q76_security_filter" -> {
      // access CASE generated from Security.accessLevels so the sides
      // cannot drift
      val levelsSql = "['" + q75Levels.mkString("','") + "']"
      val accCase = operators.Security.accessLevels
        .map { case (n, l) => s"WHEN security_level = '$n' THEN $l" }
        .mkString(" ")
      s"""WITH tagged AS (SELECT doc_id, n_chars,
         |  $levelsSql[CAST(doc_id % 6 + 1 AS INT)] AS security_level
         |  FROM documents),
         |acc AS (SELECT *, CASE $accCase
         |  ELSE ${operators.Security.DefaultAccessLevel} END AS access_level FROM tagged),
         |u AS (SELECT * FROM (VALUES (1),(2),(3),(4),(5)) AS t(user_level))
         |SELECT u.user_level, COUNT(*) AS n_visible,
         |CAST(SUM(a.n_chars) AS BIGINT) AS n_visible_chars,
         |COUNT(DISTINCT a.security_level) AS n_levels
         |FROM u JOIN acc a ON a.access_level <= u.user_level
         |GROUP BY u.user_level""".stripMargin
    },
    "q77_heading_blocks" ->
      // the three markdown shapes are constructed per doc_id%3, so the
      // expected blocks are stated analytically (corpus texts are
      // single-line and never start with '#'): trim mirrors the
      // operator's whitespace strip
      """WITH t AS (SELECT doc_id,
        |  trim(text, ' ' || chr(9) || chr(10) || chr(13)) AS tx FROM documents)
        |SELECT doc_id,
        |CASE WHEN doc_id % 3 = 0 THEN (CASE WHEN tx = '' THEN 0 ELSE 1 END)
        |     WHEN doc_id % 3 = 1 THEN 2 ELSE 1 END AS n_blocks,
        |CASE WHEN doc_id % 3 = 0 THEN 0
        |     WHEN doc_id % 3 = 1 THEN 2 ELSE 1 END AS n_headed,
        |CASE WHEN doc_id % 3 = 0 THEN
        |       (CASE WHEN tx = '' THEN md5('') ELSE md5('>' || tx) END)
        |     WHEN doc_id % 3 = 1 THEN
        |       md5('# Title>' || tx || '|## More>details here')
        |     ELSE md5('# Top>preamble intro' ||
        |       (CASE WHEN tx = '' THEN '' ELSE chr(10) || chr(10) || tx END))
        |END AS digest
        |FROM t""".stripMargin,
    "q81_s3_events" ->
      // the oracle recomputes the census from the synthesis arithmetic
      // (no JSON round-trip): Spark must parse + filter the generated
      // notifications back to exactly this truth
      """WITH src AS (SELECT doc_id,
        |  ['ObjectCreated:Put','ObjectRemoved:Delete','ObjectCreated:Copy',
        |   'ObjectAccessed:Get'][CAST(doc_id % 4 + 1 AS INT)] AS event_name,
        |  CASE WHEN doc_id % 5 = 0 THEN 'other-bucket' ELSE 'corpus' END AS bucket,
        |  (CASE WHEN doc_id % 7 = 2 THEN 'tmp/' ELSE 'inbox/' END)
        |    || 'doc' || CAST(doc_id AS VARCHAR) || '.txt' AS key
        |  FROM documents)
        |SELECT event_name, COUNT(*) AS n_events,
        |CAST(COUNT(DISTINCT key) AS BIGINT) AS n_keys, MIN(key) AS first_key
        |FROM src
        |WHERE (event_name LIKE 'ObjectCreated:%' OR event_name LIKE 'ObjectRemoved:%')
        |  AND bucket = 'corpus' AND key LIKE 'inbox/%'
        |GROUP BY event_name""".stripMargin,
    "q74_gdrive_listing" -> {
      // export routing generated from GoogleDrive.exportMimeTypes so
      // the sides cannot drift
      val mimesSql = "['" + q74Mimes.mkString("','") + "']"
      val exportCase = sources.GoogleDrive.exportMimeTypes
        .map { case (g, (t, _)) => s"WHEN mime_type = '$g' THEN '$t'" }
        .mkString(" ")
      s"""WITH l AS (SELECT doc_id,
         |  $mimesSql[CAST(doc_id % 6 + 1 AS INT)] AS mime_type,
         |  n_chars * 1000000 AS ordinal FROM documents),
         |r AS (SELECT mime_type, ordinal,
         |  CASE $exportCase ELSE mime_type END AS export_mime FROM l),
         |c AS (SELECT least(coalesce(max(ordinal), 9223372036854775807),
         |  600000000 - 1000000) AS new_cutoff FROM r)
         |SELECT export_mime, COUNT(*) AS n_files,
         |CAST(COUNT(*) FILTER (ordinal > 300000000) AS BIGINT) AS n_changed,
         |(SELECT new_cutoff FROM c) AS new_cutoff
         |FROM r GROUP BY export_mime""".stripMargin
    },
    "q71_parse_confidence" ->
      """WITH src AS (SELECT doc_id,
        |  ['.txt','.md','.pdf','.docx','.html'][CAST(doc_id % 5 + 1 AS INT)] AS ext,
        |  (doc_id % 7 = 3) AS no_url,
        |  repeat(text, CAST(doc_id % 16 + 1 AS INT)) AS content,
        |  ['balanced','agentic','agentic_plus'][CAST(doc_id % 3 + 1 AS INT)] AS tier
        |  FROM documents),
        |r AS (SELECT doc_id,
        |  CASE WHEN no_url THEN 'inline_content'
        |       WHEN ext IN ('.txt', '.md') THEN 'simple'
        |       ELSE 'llamaparse' END AS parser,
        |  content, tier FROM src)
        |SELECT doc_id, parser,
        |  CASE WHEN parser = 'llamaparse' THEN tier ELSE '' END AS parse_tier,
        |  CASE WHEN parser = 'inline_content' THEN CAST(0.9 AS DOUBLE)
        |       WHEN parser = 'simple' THEN CAST(1.0 AS DOUBLE)
        |       ELSE least(
        |         (CASE WHEN tier = 'agentic_plus' THEN CAST(0.95 AS DOUBLE)
        |               WHEN tier = 'agentic' THEN CAST(0.85 AS DOUBLE)
        |               ELSE CAST(0.7 AS DOUBLE) END)
        |         + (CASE WHEN length(content) > 1000 THEN CAST(0.05 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END)
        |         + (CASE WHEN length(content) > 5000 THEN CAST(0.05 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END),
        |         CAST(1.0 AS DOUBLE)) END AS parse_confidence,
        |  CAST(length(content) AS BIGINT) AS parsed_text_length
        |FROM r""".stripMargin,
    "q69_range_join" ->
      """WITH b AS (SELECT n_nationkey AS band,
        |  CAST(n_nationkey AS DOUBLE) * 18.0 AS lo,
        |  CAST(n_nationkey AS DOUBLE) * 18.0 + 25.0 AS hi FROM nation)
        |SELECT band, COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users
        |FROM events JOIN b ON value >= lo AND value < hi
        |GROUP BY band""".stripMargin,

    "q09_bm25_tokens" ->
      s"""SELECT doc_id, token, COUNT(*) AS tf FROM (
         |SELECT doc_id, unnest($toksSql) AS token FROM documents)
         |GROUP BY doc_id, token""".stripMargin,
    "q10_chunk_fixed" ->
      """SELECT doc_id, i AS chunk_index,
        |md5(concat_ws('_', CAST(doc_id AS VARCHAR), 'fixed', CAST(i AS VARCHAR))) AS chunk_id,
        |substr(text, CAST(i * 150 + 1 AS INT), 200) AS chunk_text
        |FROM (SELECT doc_id, text,
        |unnest(range(0, CAST(floor((greatest(length(text), 1) - 1) / 150) AS BIGINT) + 1)) AS i
        |FROM documents)""".stripMargin,
    "q12_token_stats" ->
      s"""SELECT doc_id, len($allToksSql) AS n_tokens,
         |len(list_distinct($allToksSql)) AS n_distinct,
         |CASE WHEN len($allToksSql) > 0 THEN
         |CAST(list_sum(list_transform($allToksSql, t -> len(t))) AS DOUBLE)
         |  / CAST(len($allToksSql) AS DOUBLE)
         |ELSE 0.0 END AS mean_token_len
         |FROM documents""".stripMargin,
    "q13_quality_score" ->
      s"""SELECT doc_id,
         |0.5 * least(CAST(len($allToksSql) AS DOUBLE) / 100.0, 1.0)
         |+ 0.3 * (1.0 - (CASE WHEN len($allToksSql) > 0 THEN
         |    CAST(len(list_filter($allToksSql, t -> t IN ($stopSql))) AS DOUBLE)
         |    / CAST(len($allToksSql) AS DOUBLE) ELSE 0.0 END))
         |+ 0.2 * least((CASE WHEN len($allToksSql) > 0 THEN
         |    CAST(list_sum(list_transform($allToksSql, t -> len(t))) AS DOUBLE)
         |    / CAST(len($allToksSql) AS DOUBLE) ELSE 0.0 END) / 8.0, 1.0) AS quality
         |FROM documents""".stripMargin,
    "q14_langid" -> langIdOracleSql,
    "q19_simhash" -> simhashOracleSql,
    "q22_knn_join" ->
      """WITH q AS (SELECT vec_id AS probe_id, embedding AS pv FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT probe_id, e.vec_id AS neighbor_id,
        |list_sum(list_transform(generate_series(1, len(e.embedding)),
        |  i -> CAST(e.embedding[i] AS DOUBLE) * CAST(pv[i] AS DOUBLE)))
        |/ (sqrt(list_sum(list_transform(pv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        | * sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
        |FROM embeddings e CROSS JOIN q WHERE probe_id <> e.vec_id),
        |r AS (SELECT probe_id, neighbor_id, cos,
        |ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos DESC, neighbor_id) AS rnk FROM c)
        |SELECT probe_id, neighbor_id, round(cos, 6) AS score, rnk FROM r WHERE rnk <= 3""".stripMargin,
    "q15_dedup_exact" ->
      """SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint,
        |MIN(doc_id) AS kept_id, COUNT(*) AS n_dups
        |FROM documents GROUP BY 1""".stripMargin,
    "q16_shingle_stats" ->
      s"""SELECT doc_id, len($shinglesSql) AS n_shingles FROM documents""".stripMargin,
    "q17_jaccard_pairs" ->
      s"""WITH s AS (SELECT doc_id, unnest($shinglesSql) AS shingle FROM documents),
         |c AS (SELECT doc_id, COUNT(*) AS n FROM s GROUP BY doc_id),
         |i AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
         |      FROM s a JOIN s b USING (shingle) WHERE a.doc_id < b.doc_id
         |      GROUP BY a.doc_id, b.doc_id)
         |SELECT id_a, id_b, n_common,
         |round(CAST(n_common AS DOUBLE) / CAST(ca.n + cb.n - n_common AS DOUBLE), 6) AS jaccard
         |FROM i JOIN c ca ON ca.doc_id = id_a JOIN c cb ON cb.doc_id = id_b
         |WHERE CAST(n_common AS DOUBLE) / CAST(ca.n + cb.n - n_common AS DOUBLE) >= 0.2""".stripMargin,
    "q18_minhash_lsh" -> minhashLshOracleSql,
    "q20_embed_near_dup" ->
      """WITH c AS (
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |list_sum(list_transform(generate_series(1, len(a.embedding)),
        |  i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
        |/ (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        | * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
        |SELECT id_a, id_b, round(cos, 6) AS cosine FROM c WHERE cos >= 0.4""".stripMargin,
    "q21_ann_topk" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |c AS (SELECT vec_id,
        |list_sum(list_transform(generate_series(1, len(embedding)),
        |  i -> CAST(embedding[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)))
        |/ (sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        | * sqrt(list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
        |FROM embeddings, q WHERE vec_id <> 0)
        |SELECT vec_id, round(cos, 6) AS score FROM c
        |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin,
    "q23_bm25_search" -> bm25OracleSql(20),
    "q24_hybrid_rrf" -> rrfOracleSql,
    "q25_graph_2hop" ->
      """SELECT r_name, COUNT(DISTINCT n_nationkey) AS n_nations, COUNT(*) AS n_customers,
        |CAST(SUM(CAST(c_acctbal AS DECIMAL(20,2))) AS DOUBLE) AS sum_acctbal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin,
    "q26_lsh_buckets" ->
      """WITH proj AS (SELECT vec_id, b,
        |  list_sum(list_transform(generate_series(1, 64),
        |   d -> CAST(embedding[d] AS DOUBLE) *
        |        CAST((1103515245 * (b * 64 + (d - 1)) + 12345) % 2147483648 % 2001 - 1000 AS DOUBLE)
        |        / 1024.0)) AS s
        |  FROM embeddings CROSS JOIN generate_series(0, 5) t(b)),
        |sig AS (SELECT vec_id,
        |  string_agg(CASE WHEN s >= 0 THEN '1' ELSE '0' END, '' ORDER BY b) AS sig
        |  FROM proj GROUP BY vec_id)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |FROM sig a JOIN sig b USING (sig) WHERE a.vec_id < b.vec_id""".stripMargin,
    "q72_embed_dedup_lsh" -> embedDedupLshOracleSql,
    "q51_maxsim" -> maxSimOracleSql,
    "q52_semantic_search" -> semanticSearchOracleSql,
    "q53_extract_typed" ->
      """SELECT doc_id,
        |coalesce(list_filter(string_split_regex(text, '\s+'), w -> w <> '')[1], '') AS headword,
        |coalesce(TRY_CAST(substr(regexp_extract(text, '[0-9]+'), 1, 18) AS BIGINT), -1) AS first_num,
        |CAST(len(list_filter(string_split_regex(text, '\s+'), w -> w <> '')) AS INT) AS n_words
        |FROM documents""".stripMargin,
    "q61_winnow_fingerprints" -> winnowOracleSql,
    // The recursive splitter's regex tiers degenerate on this corpus's
    // single-line single-space texts to: whole-doc atom when <= 200
    // chars, else word atoms (offsets = running sums) — and the greedy
    // pack + whole-atom overlap is a recursive CTE like q11's. Layered
    // separator descent with arbitrary whitespace stays spec-tested
    // (RecursiveSplitSpec); this oracle pins the packing, offsets, and
    // overlap math end-to-end.
    "q47_recursive_split" ->
      """WITH RECURSIVE d AS (SELECT doc_id, text, length(text) AS n FROM documents),
        |wrd AS (SELECT doc_id, i, parts[i] AS w
        |  FROM (SELECT doc_id, string_split(text, ' ') AS parts,
        |        unnest(range(1, len(string_split(text, ' ')) + 1)) AS i
        |        FROM d WHERE n > 200)),
        |watoms AS (SELECT doc_id, i,
        |  CAST(coalesce(SUM(length(w) + 1) OVER (PARTITION BY doc_id ORDER BY i
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS s,
        |  CAST(coalesce(SUM(length(w) + 1) OVER (PARTITION BY doc_id ORDER BY i
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + length(w) AS BIGINT) AS e
        |  FROM wrd),
        |atoms AS (
        |  SELECT doc_id, 1 AS i, CAST(0 AS BIGINT) AS s, CAST(n AS BIGINT) AS e
        |  FROM d WHERE n <= 200
        |  UNION ALL SELECT doc_id, i, s, e FROM watoms),
        |pack AS (
        |  SELECT doc_id, 1 AS i, 0 AS ci, s AS cs, e AS ce FROM atoms WHERE i = 1
        |  UNION ALL
        |  SELECT p.doc_id, p.i + 1,
        |    CASE WHEN a.e - p.cs <= 200 THEN p.ci ELSE p.ci + 1 END,
        |    CASE WHEN a.e - p.cs <= 200 THEN p.cs ELSE coalesce(
        |      (SELECT MIN(a2.s) FROM atoms a2 WHERE a2.doc_id = p.doc_id
        |         AND a2.s >= p.cs AND p.ce - a2.s <= 20), a.s) END,
        |    a.e
        |  FROM pack p JOIN atoms a ON a.doc_id = p.doc_id AND a.i = p.i + 1)
        |SELECT doc_id, CAST(ci AS INT) AS chunk_index, CAST(cs AS INT) AS start,
        |  CAST(ce AS INT) AS "end", 1 AS start_line, CAST(cs + 1 AS INT) AS start_column,
        |  substr(text, CAST(cs + 1 AS INT), CAST(ce - cs AS INT)) AS chunk_text
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id, ci ORDER BY i DESC) AS rn
        |      FROM pack)
        |JOIN d USING (doc_id) WHERE rn = 1""".stripMargin,
    "q66_subword_stats" ->
      """WITH u AS (SELECT doc_id,
        |  regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]+', 0) AS units
        |  FROM documents)
        |SELECT doc_id, CAST(len(units) AS INT) AS n_units,
        |CAST(list_sum(list_transform(units, x -> CAST(ceil(CAST(length(x) AS DOUBLE) / 4.0) AS BIGINT))) AS BIGINT) AS n_subwords,
        |CASE WHEN len(units) > 0 THEN
        |  CAST(list_sum(list_transform(units, x -> length(x))) AS DOUBLE)
        |  / CAST(len(units) AS DOUBLE) ELSE 0.0 END AS mean_unit_len
        |FROM u""".stripMargin,
    "q63_incremental_diff" ->
      """SELECT
        |CAST(COUNT(*) FILTER (WHERE doc_id % 4 = 3 OR doc_id % 8 = 6) AS BIGINT) AS n_evaluate,
        |CAST(COUNT(*) FILTER (WHERE doc_id % 4 = 1) AS BIGINT) AS n_ordinal_only,
        |CAST(5 AS BIGINT) AS n_delete
        |FROM documents""".stripMargin,
    // Greedy sequential packing IS expressible in set-based SQL — as a
    // recursive CTE stepping one sentence at a time per doc; the final
    // text of each chunk is the accumulator at its last step. RE2 has
    // no lookbehind, so the Spark side's `(?<=[.!?])\s+` split becomes
    // marker-replace + split.
    "q11_chunk_sentence" ->
      """WITH RECURSIVE sarr AS (
        |  SELECT doc_id, list_filter(list_transform(
        |    string_split(regexp_replace(text, '([.!?])\s+', '\1' || chr(30), 'g'), chr(30)),
        |    x -> trim(x)), x -> len(x) > 0) AS arr FROM documents),
        |sents AS (SELECT doc_id, i, arr[i] AS s
        |  FROM (SELECT doc_id, arr, unnest(range(1, len(arr) + 1)) AS i FROM sarr)),
        |pack AS (
        |  SELECT doc_id, 1 AS i, 0 AS chunk_idx, s AS cur FROM sents WHERE i = 1
        |  UNION ALL
        |  SELECT p.doc_id, p.i + 1,
        |    CASE WHEN len(p.cur || ' ' || s.s) <= 400 THEN p.chunk_idx ELSE p.chunk_idx + 1 END,
        |    CASE WHEN len(p.cur || ' ' || s.s) <= 400 THEN p.cur || ' ' || s.s ELSE s.s END
        |  FROM pack p JOIN sents s ON s.doc_id = p.doc_id AND s.i = p.i + 1)
        |SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_index, cur AS chunk_text
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id, chunk_idx ORDER BY i DESC) AS rn
        |      FROM pack)
        |WHERE rn = 1""".stripMargin,
    "q54_notion_markdown" ->
      """WITH b AS (SELECT doc_id,
        |  array_to_string(list_slice(string_split_regex(text, '\s+'), 1, 3), ' ') AS f3,
        |  string_split_regex(text, '\s+')[1] AS fw, text FROM documents),
        |m AS (SELECT doc_id,
        |  '## ' || f3 || chr(10) || chr(10) ||
        |  text || chr(10) || chr(10) ||
        |  '- ' || f3 || chr(10) || chr(10) ||
        |  '> ' || fw || chr(10) || chr(10) ||
        |  '| doc | ' || CAST(doc_id AS VARCHAR) || ' |' || chr(10) ||
        |  '| chars | ' || CAST(length(text) AS VARCHAR) || ' |' AS markdown
        |  FROM b)
        |SELECT doc_id, markdown, md5(markdown) AS content_hash FROM m""".stripMargin) ++ entityOracles ++ twoTierOracles ++ searchOracles ++ semanticOracles ++ reviewOracles

  /** Review/versioning tier oracles (q82-q84). */
  private def reviewOracles: Map[String, String] = Map(
    "q82_chunk_review" ->
      """WITH c AS (SELECT doc_id, i AS chunk_index,
        |  substr(text, CAST(i * 150 + 1 AS INT), 200) AS chunk_text
        |  FROM (SELECT doc_id, text,
        |        unnest(range(0, CAST(floor((greatest(length(text), 1) - 1) / 150) AS BIGINT) + 1)) AS i
        |        FROM documents)),
        |e AS (SELECT doc_id, chunk_index,
        |  'EDITED: ' || upper(substr(chunk_text, 1, 40)) AS edited_text
        |  FROM c WHERE chunk_index = 0 AND doc_id % 4 = 1),
        |r AS (SELECT c.doc_id,
        |  CASE WHEN e.edited_text IS NOT NULL THEN e.edited_text ELSE c.chunk_text END AS chunk_text,
        |  CASE WHEN e.edited_text IS NOT NULL THEN c.chunk_text END AS original_text,
        |  (e.edited_text IS NOT NULL) AS is_edited
        |  FROM c LEFT JOIN e USING (doc_id, chunk_index))
        |SELECT is_edited, COUNT(*) AS n_chunks,
        |CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |CAST(SUM(length(chunk_text)) AS BIGINT) AS n_chars,
        |CAST(SUM(CASE WHEN original_text IS NULL THEN 0 ELSE length(original_text) END) AS BIGINT) AS n_original_chars
        |FROM r GROUP BY is_edited""".stripMargin,
    "q83_version_chains" ->
      // closed-form truth of the synthesized chains: version =
      // doc_id%4 + 1, root = doc_id - doc_id%4, latest = end of chain
      // or end of corpus
      """WITH v AS (SELECT doc_id,
        |  CAST(doc_id % 4 + 1 AS INT) AS version,
        |  doc_id - doc_id % 4 AS root_document_id,
        |  (doc_id % 4 = 3 OR doc_id = (SELECT max(doc_id) FROM documents)) AS is_latest
        |  FROM documents)
        |SELECT version, is_latest, COUNT(*) AS n_docs,
        |CAST(COUNT(DISTINCT root_document_id) AS BIGINT) AS n_roots,
        |MIN(doc_id) AS min_doc
        |FROM v GROUP BY version, is_latest""".stripMargin,
    "q84_llm_select" -> {
      val models = Seq("claude", "gemini", "gpt4")
      val branches = models.map { m =>
        s"""SELECT doc_id, '$m' AS model,
           |CAST(${md5HexValSql(s"text || '$m'", 6)} AS DOUBLE) / 16777216.0 AS confidence
           |FROM documents""".stripMargin
      }.mkString("\n UNION ALL\n")
      s"""WITH confs AS ($branches),
         |ranked AS (SELECT doc_id, model, confidence,
         |  ROW_NUMBER() OVER (PARTITION BY doc_id
         |    ORDER BY confidence DESC, model) AS rnk FROM confs),
         |sel AS (SELECT d.doc_id,
         |  ['metadata','entities','summary','keywords'][CAST(d.doc_id % 4 + 1 AS INT)] AS comparison_type,
         |  r.model AS selected_model, r.confidence AS selected_confidence
         |  FROM documents d JOIN ranked r ON d.doc_id = r.doc_id AND r.rnk = 1)
         |SELECT comparison_type, selected_model, COUNT(*) AS n,
         |MIN(round(selected_confidence, 6)) AS min_conf,
         |MAX(round(selected_confidence, 6)) AS max_conf
         |FROM sel GROUP BY comparison_type, selected_model""".stripMargin
    },
    "q85_tag_merge" -> {
      import operators.Metadata
      val compList = Metadata.components.map(c => s"'$c'").mkString(", ")
      val issList = Metadata.issues.map(i => s"'$i'").mkString(", ")
      s"""WITH base AS (SELECT p_partkey,
         |  p_name || ' NC' || lpad(CAST(p_partkey % 100 AS VARCHAR), 4, '0') ||
         |  CASE WHEN p_size > 25 THEN ' screen flickering on the display panel'
         |       ELSE ' battery drain after a charging issue' END AS content,
         |  [' Troubleshooting ', upper(substr(p_type, 1, 5)), 'Battery'] AS llm
         |  FROM part),
         |ext AS (SELECT p_partkey, list_concat(list_concat(list_concat(llm,
         |  list_distinct(regexp_extract_all(content,
         |    '\\bNC\\d{4}\\b|\\bPC\\d{4}\\b|\\bSM\\d{3}\\b'))),
         |  list_filter([$compList],
         |    c -> regexp_matches(lower(content), '\\b' || c || '\\b'))),
         |  list_filter([$issList],
         |    i -> regexp_matches(lower(content), '\\b(' || i || '|' ||
         |      replace(i, '-', ' ') || '|' || replace(i, '-', '') || ')\\b'))) AS tags
         |  FROM base),
         |normed AS (SELECT p_partkey,
         |  list_distinct(list_filter(list_transform(tags,
         |    t -> CASE WHEN regexp_matches(t, '^[A-Z]+[0-9]') THEN t
         |              ELSE lower(trim(t)) END),
         |    t -> len(t) > 0)) AS tags FROM ext)
         |SELECT p_partkey, array_to_string(list_transform(list_slice(list_sort(
         |  list_transform(tags, t -> CASE
         |    WHEN regexp_matches(t, '^[A-Z]+[0-9]') THEN '0|'
         |    WHEN list_contains([$compList], t) THEN '1|'
         |    WHEN list_contains([$issList], t) THEN '2|'
         |    ELSE '3|' END || t)), 1, 15), x -> substr(x, 3)), ',') AS tags
         |FROM normed""".stripMargin
    },
    "q86_doc_category" -> {
      import operators.Metadata
      val rows = Metadata.documentCategories.zipWithIndex
        .map { case ((c, d), i) => s"($i, '$c', '$d')" }.mkString(",\n|  ")
      s"""WITH cats(idx, category, display_name) AS (VALUES
         |  $rows),
         |assigned AS (SELECT CASE WHEN doc_id % 97 = 0 THEN 'legacy_spec'
         |  ELSE (SELECT category FROM cats WHERE idx = doc_id % 20) END AS category
         |  FROM documents)
         |SELECT a.category, coalesce(c.display_name, 'Legacy Spec') AS display_name,
         |  (c.category IS NOT NULL) AS is_valid, COUNT(*) AS n_docs
         |FROM assigned a LEFT JOIN cats c ON a.category = c.category
         |GROUP BY 1, 2, 3""".stripMargin
    },
    "q87_entity_quality" ->
      // closed-form truth of the ten fixture names: validity reason by
      // residue, score = per-name factor chain (same multiplication
      // order as the Scala expression chain) x rel-bonus x type factor
      """WITH base AS (SELECT p_partkey,
        |  p_partkey % 10 AS ni,
        |  CAST(p_partkey % 100 AS DOUBLE) / 100.0 AS conf,
        |  p_partkey % 7 AS rel,
        |  ['component','concept','person','other'][CAST(p_partkey % 4 AS INT) + 1] AS etype
        |  FROM part),
        |f AS (SELECT *,
        |  CASE WHEN ni = 2 THEN 'verb_phrase' WHEN ni = 5 THEN 'question_phrase'
        |       WHEN ni = 6 THEN 'generic_term' WHEN ni = 8 THEN 'pure_number' END AS invalid,
        |  (CASE WHEN rel > 0 THEN 1 + least(rel * 0.1, 0.5) ELSE 1.0 END) AS relf,
        |  (CASE WHEN etype IN ('component', 'person') THEN 1.2 ELSE 0.8 END) AS typef
        |  FROM base),
        |scored AS (SELECT *,
        |  greatest(0.0, least(1.0,
        |    (CASE WHEN ni = 0 THEN ((conf * 1.5) * 0.7)
        |          WHEN ni = 4 THEN (((conf * 1.5) * 0.7) * 0.3)
        |          WHEN ni = 7 THEN (conf * 0.3)
        |          ELSE (conf * 1.2) END * relf) * typef)) AS score
        |  FROM f),
        |sel AS (SELECT *,
        |  CASE WHEN invalid IS NOT NULL THEN rel >= 5
        |       ELSE score >= 0.4 OR rel >= 3 END AS keep,
        |  CASE WHEN invalid IS NOT NULL THEN
        |    CASE WHEN rel >= 5 THEN 'kept_despite_' || invalid || '_due_to_relationships'
        |         ELSE invalid END
        |  ELSE CASE WHEN score >= 0.4 THEN 'good_quality'
        |            WHEN rel >= 3 THEN 'kept_for_relationships'
        |            ELSE 'low_quality' END END AS reason,
        |  CASE WHEN invalid IS NOT NULL THEN
        |    CASE WHEN rel >= 5 THEN 0.5 ELSE 0.0 END ELSE score END AS qscore
        |  FROM scored)
        |SELECT reason, keep, COUNT(*) AS n,
        |CAST(SUM(CAST(floor(qscore * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
        |  AS sum_score_micro
        |FROM sel GROUP BY 1, 2""".stripMargin,
    "q88_hybrid_graph" -> hybridGraphOracleSql,
    "q89_incremental_bm25" -> {
      // BM25 over the FINAL corpus state (edits applied, deletions
      // gone) — the closed-form truth the incremental index must match
      val terms = bm25QueryTerms.map(q => s"'$q'").mkString(", ")
      s"""WITH docs AS (SELECT doc_id,
         |  CASE WHEN doc_id % 10 = 0 THEN text || ' spark filter appended'
         |       ELSE text END AS text
         |  FROM documents WHERE doc_id % 13 <> 0),
         |idx AS (SELECT doc_id, token, COUNT(*) AS tf FROM (
         |  SELECT doc_id, unnest($toksSql) AS token FROM docs) GROUP BY doc_id, token),
         |dls AS (SELECT doc_id, len($toksSql) AS dl FROM docs),
         |stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM dls),
         |m AS (SELECT * FROM idx WHERE token IN ($terms)),
         |dfreq AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM m GROUP BY token),
         |lex AS (SELECT m.doc_id, SUM(
         |  ln(1.0 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
         |    * (m.tf * (1.2 + 1)) / (m.tf + 1.2 * (1.0 - 0.75 + 0.75 * dls.dl / stats.avgdl))) AS score
         |  FROM m JOIN dfreq USING (token) JOIN dls USING (doc_id) CROSS JOIN stats GROUP BY m.doc_id)
         |SELECT doc_id, round(score, 6) AS score FROM lex
         |ORDER BY lex.score DESC, doc_id LIMIT 20""".stripMargin
    },
    "q90_llm_response" ->
      """WITH c AS (SELECT doc_id, n_chars, text,
        |  CASE WHEN doc_id % 4 = 0 THEN '```json' || chr(10) ||
        |         '{"title": "T' || doc_id || '", "confidence": 0.9}' || chr(10) || '```'
        |       WHEN doc_id % 4 = 1 THEN '```' || chr(10) ||
        |         '{"summary": "S' || doc_id || '"}' || chr(10) || '```'
        |       WHEN doc_id % 4 = 2 THEN '{"title": "plain", "tags": ["a", "b"]}'
        |       ELSE 'model said: ' || substr(text, 1, 40) END AS content
        |  FROM documents),
        |s AS (SELECT *, trim(content, ' ' || chr(9) || chr(10) || chr(13)) AS t FROM c),
        |f AS (SELECT *, CASE
        |  WHEN t LIKE '```json%' THEN trim(CASE
        |    WHEN substr(t, 8) LIKE '%```' AND len(substr(t, 8)) >= 3
        |      THEN substr(substr(t, 8), 1, len(substr(t, 8)) - 3)
        |    ELSE substr(t, 8) END, ' ' || chr(9) || chr(10) || chr(13))
        |  WHEN t LIKE '```%' THEN trim(CASE
        |    WHEN substr(t, 4) LIKE '%```' AND len(substr(t, 4)) >= 3
        |      THEN substr(substr(t, 4), 1, len(substr(t, 4)) - 3)
        |    ELSE substr(t, 4) END, ' ' || chr(9) || chr(10) || chr(13))
        |  ELSE t END AS cleaned FROM s),
        |p AS (SELECT *, json_valid(cleaned) AS ok FROM f),
        |parsed AS (SELECT doc_id, n_chars,
        |  CASE WHEN ok AND cleaned LIKE '{%'
        |       THEN json_extract_string(cleaned, '$.title') END AS title,
        |  CASE WHEN ok AND cleaned LIKE '{%'
        |       THEN json_extract_string(cleaned, '$.summary')
        |       WHEN NOT ok THEN substr(content, 1, 200) END AS summary,
        |  CASE WHEN ok AND cleaned LIKE '{%' THEN
        |    coalesce(TRY_CAST(json_extract(cleaned, '$.confidence') AS DOUBLE), 0.5)
        |       WHEN NOT ok THEN 0.3 ELSE 0.0 END AS confidence,
        |  CAST(CASE WHEN ok AND cleaned LIKE '{%'
        |       THEN coalesce(json_array_length(cleaned, '$.tags'), 0)
        |       ELSE 0 END AS INT) AS n_tags
        |  FROM p)
        |SELECT doc_id, title, summary, confidence, n_tags,
        |  CAST(floor(CASE WHEN doc_id % 11 = 0 THEN 0.0
        |       WHEN doc_id % 2 = 0 THEN
        |         (n_chars / 1000.0) * 0.00015 + ((doc_id % 500) / 1000.0) * 0.0006
        |       ELSE
        |         (n_chars / 1000.0) * 0.00035 + ((doc_id % 500) / 1000.0) * 0.00105
        |  END * 1000000.0 + 0.5) AS BIGINT) AS cost_micro
        |FROM parsed""".stripMargin,
    "q91_md_sections" ->
      """WITH md AS (SELECT doc_id,
        |  (CASE WHEN doc_id % 2 = 0 THEN 'preamble dropped' || chr(10) ELSE '' END) ||
        |  '# Doc ' || doc_id || chr(10) ||
        |  'alpha ' || substr(text, 1, 20) || chr(10) ||
        |  'beta line' || chr(10) ||
        |  (CASE WHEN doc_id % 3 = 0
        |        THEN '## Sub ' || (doc_id % 7) || '  ' || chr(10) || 'sub body' || chr(10)
        |        ELSE '' END) ||
        |  (CASE WHEN doc_id % 5 = 0 THEN '######' || ' Deep' || chr(10) || 'tail line'
        |        ELSE 'closing' END) AS t
        |  FROM documents),
        |parts AS (SELECT doc_id, string_split(t, chr(10)) AS ls FROM md),
        |lines AS (SELECT doc_id, generate_subscripts(ls, 1) AS pos,
        |  unnest(ls) AS line FROM parts),
        |hdr AS (SELECT *,
        |  regexp_extract(line, '^(#{1,6})\s+(.+)$', 1) AS hashes,
        |  regexp_extract(line, '^(#{1,6})\s+(.+)$', 2) AS htitle FROM lines),
        |sec AS (SELECT *, SUM(CASE WHEN len(hashes) > 0 THEN 1 ELSE 0 END)
        |  OVER (PARTITION BY doc_id ORDER BY pos) AS section_index FROM hdr),
        |grouped AS (SELECT doc_id, CAST(section_index AS INT) AS section_index,
        |  max(CASE WHEN len(hashes) > 0 THEN htitle END) AS title,
        |  CAST(max(CASE WHEN len(hashes) > 0 THEN len(hashes) END) AS INT) AS level,
        |  coalesce(trim(string_agg(CASE WHEN len(hashes) = 0 THEN line END,
        |      chr(10) ORDER BY pos),
        |    ' ' || chr(9) || chr(10) || chr(13) || chr(12) || chr(11)), '') AS content
        |  FROM sec WHERE section_index > 0 GROUP BY doc_id, section_index)
        |SELECT doc_id, section_index, title, level, content,
        |  trim(regexp_replace(regexp_replace(
        |    '[' || title || '] ** ' || content, '\s+', ' ', 'g'),
        |    '[^\w\s.,;:!?\-()"''/]', '', 'g')) AS clean
        |FROM grouped""".stripMargin,
    "q92_status_events" ->
      // closed-form diff: emit when first-sighted (%13) or moved
      // (%3 != 0 shifts the status index); event type from the final
      // status
      """WITH sts AS (SELECT ['processing', 'complete', 'failed',
        |  'pending_review', 'uploaded', 'chunking', 'embedding'] AS a),
        |cur AS (SELECT doc_id,
        |  a[CAST((doc_id % 7 + doc_id % 3) % 7 AS INT) + 1] AS status
        |  FROM documents, sts
        |  WHERE doc_id % 13 = 0 OR doc_id % 3 <> 0),
        |typed AS (SELECT doc_id, status,
        |  CASE status WHEN 'processing' THEN 'processing_started'
        |              WHEN 'complete' THEN 'processing_complete'
        |              WHEN 'failed' THEN 'processing_failed'
        |              WHEN 'pending_review' THEN 'review_required'
        |              ELSE 'status_update' END AS event_type
        |  FROM cur)
        |SELECT event_type, COUNT(*) AS n, MIN(doc_id) AS min_doc,
        |COUNT(DISTINCT status) AS n_statuses
        |FROM typed GROUP BY event_type""".stripMargin,
    "q93_rag_prompt" ->
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |sc AS (SELECT doc_id, substr(text, 1, 80) AS content,
         |  ${cosSql("embedding", "qv")} AS s
         |  FROM documents JOIN embeddings ON doc_id = vec_id CROSS JOIN q
         |  WHERE lang = 'en'),
         |top AS (SELECT * FROM sc ORDER BY sc.s DESC, doc_id LIMIT 5),
         |numbered AS (SELECT *, ROW_NUMBER() OVER (ORDER BY s DESC, doc_id) AS rn
         |  FROM top),
         |ctx AS (SELECT COUNT(*) AS n_docs,
         |  string_agg('[' || rn || '] (doc:' || CAST(doc_id AS VARCHAR) || ') ' ||
         |    content, chr(10) ORDER BY rn) AS lines
         |  FROM numbered)
         |SELECT n_docs,
         |'You are a helpful assistant answering using the provided context.' || chr(10) ||
         |'If the answer is not in the context, say you don''t have enough information.' || chr(10) ||
         |'Cite the document ids inline like [doc:ID] where relevant.' || chr(10) ||
         |chr(10) || 'Context:' || chr(10) || lines || chr(10) ||
         |chr(10) || 'User question:' || chr(10) ||
         |'what is spark data processing' || chr(10) ||
         |chr(10) || 'Answer:' AS prompt
         |FROM ctx""".stripMargin,
    "q94_code_split" ->
      // every module shares the same geometry (the id is zero-padded
      // to 6), so the expected chunk offsets are constants verified
      // against the syntax-tier semantics: comment+import pack,
      // alpha keeps its docstring trap whole, the decorator attaches
      // to beta (the class header then packs in), and the oversized
      // class opens at its methods
      """WITH d AS (SELECT doc_id,
        |  lpad(CAST(doc_id AS VARCHAR), 6, '0') AS p FROM documents),
        |code AS (SELECT doc_id,
        |  '# module ' || p || chr(10) || chr(10) ||
        |  'import os' || chr(10) || chr(10) ||
        |  'def alpha_' || p || '(x):' || chr(10) ||
        |  '    ""' || '"doc' || chr(10) ||
        |  'def trap(y):' || chr(10) ||
        |  '    ""' || '"' || chr(10) ||
        |  '    s = "alpha ' || p || '"' || chr(10) ||
        |  '    return len(s) + x' || chr(10) || chr(10) ||
        |  '@wrap' || chr(10) ||
        |  'def beta_' || p || '(x):' || chr(10) ||
        |  '    return x * 2' || chr(10) || chr(10) ||
        |  'class Gamma_' || p || ':' || chr(10) ||
        |  '    def m1(self):' || chr(10) ||
        |  '        return "' || p || '"' || chr(10) ||
        |  '    def m2(self):' || chr(10) ||
        |  '        return ''def ''' || chr(10) AS c
        |  FROM d),
        |exp(chunk_index, c_start, c_end, c_line, c_col) AS (VALUES
        |  (0, 0, 26, 1, 1), (1, 28, 125, 5, 1),
        |  (2, 127, 190, 12, 1), (3, 195, 272, 17, 5))
        |SELECT doc_id, CAST(chunk_index AS INT) AS chunk_index,
        |  CAST(c_start AS INT) AS c_start, CAST(c_end AS INT) AS c_end,
        |  CAST(c_line AS INT) AS c_line, CAST(c_col AS INT) AS c_col,
        |  substr(c, c_start + 1, c_end - c_start) AS chunk_text
        |FROM code CROSS JOIN exp""".stripMargin,
    "q95_chat_requests" ->
      // bodies reconstruct by concatenation: prompts are sanitized to
      // [A-Za-z0-9 ] so no JSON escaping can fire; the gpt-5 residue
      // renders the responses-API shape
      """WITH base AS (SELECT doc_id,
        |  'Extract metadata: ' ||
        |    regexp_replace(substr(text, 1, 40), '[^A-Za-z0-9 ]', '', 'g') AS p,
        |  doc_id % 7 AS r,
        |  CAST(1000 + (doc_id % 5) * 100 AS BIGINT) AS mt,
        |  doc_id % 2 = 0 AS has_sys
        |  FROM documents),
        |m AS (SELECT *,
        |  CASE WHEN r = 0 THEN 'gpt-5'
        |       WHEN r % 2 = 0 THEN 'gpt-4o' ELSE 'gpt-4o-mini' END AS model
        |  FROM base)
        |SELECT doc_id,
        |  CASE WHEN r = 0 THEN '/v1/responses'
        |       ELSE '/v1/chat/completions' END AS path,
        |  CASE WHEN r = 0 THEN
        |    '{"model":"gpt-5","input":[' ||
        |    CASE WHEN has_sys THEN '{"role":"system","content":[{"type":"input_text","text":"extract metadata as json"}]},'
        |         ELSE '' END ||
        |    '{"role":"user","content":[{"type":"input_text","text":"' || p ||
        |    '"}]}],"max_output_tokens":' || mt || ',"reasoning":{"effort":"minimal"}}'
        |  ELSE
        |    '{"model":"' || model || '","messages":[' ||
        |    CASE WHEN has_sys THEN '{"role":"system","content":"extract metadata as json"},'
        |         ELSE '' END ||
        |    '{"role":"user","content":"' || p || '"}],"max_tokens":' || mt ||
        |    CASE WHEN r = 3 THEN '' ELSE ',"temperature":0.7' END ||
        |    CASE WHEN r = 5 THEN ',"reasoning_effort":"low"' ELSE '' END || '}'
        |  END AS body
        |FROM m""".stripMargin,
    "q96_extraction_runs" ->
      // closed-form counters by residue; the %13 residue fails with
      // zeroed counters
      """WITH per AS (SELECT doc_id, doc_id % 13 = 0 AS failed,
        |  CASE WHEN doc_id % 13 = 0 THEN 0 ELSE doc_id % 5 END AS m,
        |  CASE WHEN doc_id % 13 = 0 THEN 0
        |       WHEN doc_id % 3 <> 0 THEN 1 ELSE 0 END AS e,
        |  CASE WHEN doc_id % 13 = 0 THEN 0 ELSE doc_id % 7 END AS r
        |  FROM documents)
        |SELECT CASE WHEN failed THEN 'failed' ELSE 'completed' END AS status,
        |  'v2' AS pipeline_version, 'gpt-4o-mini' AS model,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(m) AS BIGINT) AS sum_mentions,
        |  CAST(SUM(e) AS BIGINT) AS sum_canonical,
        |  CAST(SUM(r) AS BIGINT) AS sum_rels,
        |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_runs
        |FROM per GROUP BY 1, 2, 3""".stripMargin,
    "q97_bridge_chunks" ->
      // q82's fixed-200/50 chunk mirror, plus the endpoint's derived
      // chunk_size and offset columns
      """WITH c AS (SELECT doc_id, i AS chunk_number,
        |  substr(text, CAST(i * 150 + 1 AS INT), 200) AS chunk_text
        |  FROM (SELECT doc_id, text,
        |        unnest(range(0, CAST(floor((greatest(length(text), 1) - 1) / 150) AS BIGINT) + 1)) AS i
        |        FROM documents WHERE doc_id % 5 = 2))
        |SELECT doc_id AS document_id, chunk_number, chunk_text,
        |  CAST(length(chunk_text) AS INT) AS chunk_size,
        |  chunk_number * 150 AS start_position,
        |  chunk_number * 150 + length(chunk_text) AS end_position
        |FROM c""".stripMargin,
    "q98_bridge_entities" ->
      s"""WITH e AS (SELECT DISTINCT l_orderkey, p_partkey, p_name,
         |  CASE WHEN p_partkey % 11 = 0 THEN NULL
         |       ELSE ${normTypeSql(rawPartTypeSql)} END AS etype,
         |  CASE WHEN p_partkey % 7 = 0 THEN NULL
         |       ELSE CAST(p_partkey % 16 AS DOUBLE) / 16.0 + 0.5 END AS conf,
         |  list_extract(['MENTIONS', 'HAS_ENTITY', 'REFERENCES'],
         |    CAST((l_orderkey + p_partkey) % 3 AS INT) + 1) AS rel_type,
         |  CASE WHEN (l_orderkey + p_partkey) % 13 = 0 THEN NULL
         |       ELSE CAST((l_orderkey + p_partkey) % 8 AS DOUBLE) / 8.0 END AS rel_conf
         |  FROM lineitem JOIN part ON l_partkey = p_partkey
         |  WHERE l_orderkey % 37 = 3)
         |SELECT p_partkey AS id, COALESCE(p_name, '') AS entity_name,
         |  COALESCE(etype, 'Unknown') AS entity_type,
         |  l_orderkey AS document_id, COALESCE(conf, 0.0) AS confidence,
         |  COALESCE(rel_type, 'MENTIONS') AS relationship_type,
         |  COALESCE(rel_conf, 0.0) AS relationship_confidence
         |FROM e""".stripMargin,
    "q99_bridge_relationships" ->
      // either-end membership as one OR-join (the oracle can afford
      // it); DISTINCT mirrors the seen_ids dedup
      """WITH m AS (SELECT DISTINCT l_orderkey AS document_id, l_partkey AS cid
        |  FROM lineitem
        |  WHERE l_orderkey % 41 = 5 AND (l_orderkey + l_partkey) % 17 <> 0),
        |r AS (SELECT 'rel_' || CAST(p_partkey AS VARCHAR) AS id,
        |  p_partkey AS source_entity_id, p_partkey + 3 AS target_entity_id,
        |  list_extract(['PART_OF', 'CONNECTS_TO', 'USES', 'CAUSES', 'RELATED_TO'],
        |    CAST(p_partkey % 5 AS INT) + 1) AS relationship_type,
        |  CASE WHEN p_partkey % 13 = 0 THEN NULL
        |       ELSE CAST(p_partkey % 32 AS DOUBLE) / 32.0 END AS confidence_score,
        |  '2024-' || lpad(CAST(p_partkey % 12 + 1 AS VARCHAR), 2, '0')
        |    || '-' || lpad(CAST(p_partkey % 28 + 1 AS VARCHAR), 2, '0') AS created_at
        |  FROM part)
        |SELECT DISTINCT m.document_id, r.id, r.source_entity_id,
        |  r.target_entity_id, r.relationship_type,
        |  COALESCE(r.confidence_score, 0.0) AS confidence, r.created_at
        |FROM r JOIN m ON r.source_entity_id = m.cid OR r.target_entity_id = m.cid""".stripMargin,
    "q100_query_stream" ->
      // filters resolve with Python-or truthiness (empty multi falls
      // back to the deprecated single); a request with no filters
      // keeps one null-keyed row (the LEFT JOIN / explode_outer twin)
      """WITH req AS (SELECT doc_id AS request_id, text,
        |  list_extract(['gpt-4o-mini', 'GPT-5', 'gemini-2.5-pro', 'claude-3'],
        |    CAST(doc_id % 4 AS INT) + 1) AS model,
        |  CASE WHEN doc_id % 3 = 0 THEN [source]
        |       WHEN doc_id % 3 = 1 THEN CAST([] AS VARCHAR[]) END AS departments,
        |  CASE WHEN doc_id % 4 = 1 THEN lang END AS department,
        |  CASE WHEN doc_id % 5 = 0 THEN ['internal', 'public'] END AS security_tiers,
        |  CASE WHEN doc_id % 5 = 2 THEN 'confidential' END AS security_tier
        |  FROM documents),
        |res AS (SELECT request_id,
        |  CASE WHEN lower(model) LIKE 'gpt%' THEN 'OPENAI'
        |       WHEN lower(model) LIKE 'gemini%' THEN 'GEMINI'
        |       ELSE 'OPENAI' END AS provider,
        |  CASE WHEN departments IS NOT NULL AND len(departments) > 0 THEN departments
        |       WHEN department IS NOT NULL THEN [department]
        |       ELSE CAST([] AS VARCHAR[]) END AS deps,
        |  CASE WHEN security_tiers IS NOT NULL AND len(security_tiers) > 0 THEN security_tiers
        |       WHEN security_tier IS NOT NULL THEN [security_tier]
        |       ELSE CAST([] AS VARCHAR[]) END AS trs,
        |  CAST(ceil(CAST(length(text) AS DOUBLE) / 200.0) AS BIGINT) AS n_frames,
        |  CAST(CASE WHEN length(text) = 0 THEN NULL
        |            WHEN length(text) % 200 = 0 THEN 200
        |            ELSE length(text) % 200 END AS BIGINT) AS last_frame_len
        |  FROM req),
        |ents AS (
        |  SELECT request_id, 'metadata.department' AS filter_key,
        |         unnest(deps) AS filter_value FROM res
        |  UNION ALL
        |  SELECT request_id, 'metadata.security_level' AS filter_key,
        |         unnest(trs) AS filter_value FROM res)
        |SELECT res.request_id, res.provider, e.filter_key, e.filter_value,
        |  res.n_frames, res.last_frame_len
        |FROM res LEFT JOIN ents e USING (request_id)""".stripMargin,
    "q101_entity_dup_groups" ->
      // the roster's names are constant per document, so the greedy
      // groups and their mean pairwise similarities are constants —
      // generated by running the reference's entity_deduplication.py
      // under CPython 3 (difflib is the similarity); singleton ord 9
      // never appears
      """SELECT d.doc_id, v.group_id, v.member_pos, v.entity_ord,
        |  v.entity_name, v.entity_type,
        |  CAST(v.avg_sim_r AS DOUBLE) AS avg_sim_r, v.is_auto
        |FROM documents d CROSS JOIN (VALUES
        |  (0, 0, 0, 'Pressure Sensor', 'component', 0.98, true),
        |  (0, 1, 1, 'pressure sensors', 'concept', 0.98, true),
        |  (1, 0, 2, 'PCB', 'component', 0.9667, true),
        |  (1, 1, 3, 'printed circuit board', 'other', 0.9667, true),
        |  (1, 2, 4, 'The Printed Circuit Board!', 'component', 0.9667, true),
        |  (2, 0, 5, 'unit calibration', 'procedure', 0.6667, false),
        |  (2, 1, 6, 'sensor calibration unit', 'system', 0.6667, false),
        |  (3, 0, 7, 'NC-2056', 'product', 0.9231, false),
        |  (3, 1, 8, 'nc2056', 'component', 0.9231, false)
        |) v(group_id, member_pos, entity_ord, entity_name, entity_type,
        |    avg_sim_r, is_auto)""".stripMargin,
    "q102_entity_auto_merge" ->
      // only the two avg>=0.95 groups merge; the canonical slot goes
      // to the best (type priority, -confidence) member — ord 0 and
      // ord 2 — and the merged confidence is the group max, which for
      // group 0 depends on the doc_id%3-varied ord-1 confidence
      """SELECT d.doc_id, v.group_id, v.canonical_ord, v.entity_id,
        |  v.entity_name, v.entity_type,
        |  CASE WHEN v.group_id = 0 THEN greatest(
        |    CAST(85 AS DOUBLE) / 100.0,
        |    CAST(70 + 10 * (d.doc_id % 3) AS DOUBLE) / 100.0)
        |  ELSE CAST(80 AS DOUBLE) / 100.0 END AS confidence,
        |  v.merge_count, v.original_names, v.all_contexts, v.chunk_ids,
        |  v.normalized_name
        |FROM documents d CROSS JOIN (VALUES
        |  (0, 0, '0', 'Pressure Sensor', 'component', 2,
        |   'Pressure Sensor|pressure sensors', 'ctx0', '',
        |   'pressure sensor'),
        |  (1, 2, '2', 'PCB', 'component', 3,
        |   'PCB|The Printed Circuit Board!|printed circuit board', 'ctx4',
        |   'ch0|ch1', 'pcb')
        |) v(group_id, canonical_ord, entity_id, entity_name, entity_type,
        |    merge_count, original_names, all_contexts, chunk_ids,
        |    normalized_name)""".stripMargin,
    "q103_chunk_split" ->
      // even docs: c1 splits at 6, both halves recompute offsets and
      // the tail renumbers; odd docs: position 6 of 4-char c2 is the
      // endpoint's 400 — untouched passthrough
      """WITH ve(cid, num, txt, sz, st, en, sf) AS (VALUES
        |  ('c0', 0, 'alpha beta', 10, 0, 10, NULL),
        |  ('c1', 1, 'gamma ', 6, 10, 16, NULL),
        |  ('c1:s', 2, 'delta epsilon', 13, 16, 29, 'c1'),
        |  ('c2', 3, 'zeta', 4, 29, 33, NULL),
        |  ('c3', 4, 'eta theta', 9, 33, 42, NULL)),
        |vo(cid, num, txt, sz, st, en, sf) AS (VALUES
        |  ('c0', 0, 'alpha beta', 10, 0, 10, NULL),
        |  ('c1', 1, 'gamma delta epsilon', 19, 10, 29, NULL),
        |  ('c2', 2, 'zeta', 4, 29, 33, NULL),
        |  ('c3', 3, 'eta theta', 9, 33, 42, NULL))
        |SELECT d.doc_id, 'd' || d.doc_id || ':' || v.cid AS chunk_id,
        |  v.num AS chunk_number, v.txt AS chunk_text, v.sz AS chunk_size,
        |  CAST(v.st AS BIGINT) AS start_position,
        |  CAST(v.en AS BIGINT) AS end_position,
        |  CASE WHEN v.sf IS NULL THEN NULL
        |       ELSE 'd' || d.doc_id || ':' || v.sf END AS split_from
        |FROM documents d JOIN ve v ON d.doc_id % 2 = 0
        |UNION ALL
        |SELECT d.doc_id, 'd' || d.doc_id || ':' || v.cid,
        |  v.num, v.txt, v.sz, CAST(v.st AS BIGINT), CAST(v.en AS BIGINT),
        |  CAST(NULL AS VARCHAR)
        |FROM documents d JOIN vo v ON d.doc_id % 2 = 1""".stripMargin,
    "q104_chunk_merge" ->
      // even docs merge contiguous (c0,c1): tail shifts down; odd docs
      // merge non-contiguous (c1,c3): c2 keeps its number, merged text
      // jumps the gap with one space, end = c3's end
      """WITH ve(cid, num, txt, sz, st, en, mf) AS (VALUES
        |  ('c0', 0, 'alpha beta gamma delta epsilon', 30, 0, 29, 'c1'),
        |  ('c2', 1, 'zeta', 4, 29, 33, NULL),
        |  ('c3', 2, 'eta theta', 9, 33, 42, NULL)),
        |vo(cid, num, txt, sz, st, en, mf) AS (VALUES
        |  ('c0', 0, 'alpha beta', 10, 0, 10, NULL),
        |  ('c1', 1, 'gamma delta epsilon eta theta', 29, 10, 42, 'c3'),
        |  ('c2', 2, 'zeta', 4, 29, 33, NULL))
        |SELECT d.doc_id, 'd' || d.doc_id || ':' || v.cid AS chunk_id,
        |  v.num AS chunk_number, v.txt AS chunk_text, v.sz AS chunk_size,
        |  CAST(v.st AS BIGINT) AS start_position,
        |  CAST(v.en AS BIGINT) AS end_position,
        |  CASE WHEN v.mf IS NULL THEN NULL
        |       ELSE 'd' || d.doc_id || ':' || v.mf END AS merged_from
        |FROM documents d JOIN ve v ON d.doc_id % 2 = 0
        |UNION ALL
        |SELECT d.doc_id, 'd' || d.doc_id || ':' || v.cid,
        |  v.num, v.txt, v.sz, CAST(v.st AS BIGINT), CAST(v.en AS BIGINT),
        |  CASE WHEN v.mf IS NULL THEN NULL
        |       ELSE 'd' || d.doc_id || ':' || v.mf END
        |FROM documents d JOIN vo v ON d.doc_id % 2 = 1""".stripMargin,
    "q105_rel_proposals" ->
      // 'all' keeps the null-typed, null-scored r2 (min_conf=0.0 is
      // falsy -> no filter) and r1 only where entity 3 is mentioned
      // (even docs); 'uses07' keeps just r0 (r1 is 0.6 < 0.7, r2 is
      // not USES); r3 (validated) and r4 (unmentioned end) never show
      """WITH va(id, src, dst, rtype, score, evenonly) AS (VALUES
        |  ('r0', 1, 2, 'USES', 0.8, FALSE),
        |  ('r1', 1, 3, 'USES', 0.6, TRUE),
        |  ('r2', 2, 1, NULL, NULL, FALSE))
        |SELECT d.doc_id, 'all' AS cfg, v.id,
        |  CAST(v.src AS BIGINT) AS source_entity_id,
        |  CAST(v.dst AS BIGINT) AS target_entity_id,
        |  v.rtype AS relationship_type,
        |  CAST(v.score AS DOUBLE) AS confidence_score
        |FROM documents d JOIN va v ON (NOT v.evenonly) OR d.doc_id % 2 = 0
        |UNION ALL
        |SELECT d.doc_id, 'uses07', 'r0', CAST(1 AS BIGINT),
        |  CAST(2 AS BIGINT), 'USES', CAST(0.8 AS DOUBLE)
        |FROM documents d""".stripMargin,
    "q106_entity_dedup_census" ->
      // three arms per document: the singleton keeps, the two
      // avg>=0.95 groups merge (canonical ids 0 and 2, group-max
      // confidence — residue-dependent for group 0), the two
      // sub-threshold groups flag for review at their group mean
      """SELECT d.doc_id, v.arm, v.entity_id, v.entity_name,
        |  v.entity_type,
        |  CASE WHEN v.arm = 'merged' AND v.entity_id = '0' THEN greatest(
        |    CAST(85 AS DOUBLE) / 100.0,
        |    CAST(70 + 10 * (d.doc_id % 3) AS DOUBLE) / 100.0)
        |  ELSE CAST(v.conf100 AS DOUBLE) / 100.0 END AS confidence,
        |  v.merge_count, CAST(v.avg_sim_r AS DOUBLE) AS avg_sim_r
        |FROM documents d CROSS JOIN (VALUES
        |  ('kept', '9', 'hydraulic pump', 'component', 95, 1, 0.0),
        |  ('merged', '0', 'Pressure Sensor', 'component', -1, 2, 0.98),
        |  ('merged', '2', 'PCB', 'component', 80, 3, 0.9667),
        |  ('review', '5', 'unit calibration', 'procedure', 75, 1, 0.6667),
        |  ('review', '6', 'sensor calibration unit', 'system', 65, 1, 0.6667),
        |  ('review', '7', 'NC-2056', 'product', 85, 1, 0.9231),
        |  ('review', '8', 'nc2056', 'component', 55, 1, 0.9231)
        |) v(arm, entity_id, entity_name, entity_type, conf100,
        |    merge_count, avg_sim_r)""".stripMargin,
    "q107_document_listing" ->
      // the endpoint's quirky op ORDER: status filter, top-100 by
      // created_at desc, THEN the source filter (post-limit), then
      // offset 7; counts are the fanout cardinalities (doc_id%7,
      // doc_id%5 -> 0 for the zero-count LEFT-join arm), and
      // metadata_complete ANDs the three incompleteness arms (empty
      // title %5, whitespace author %7, NULL summary %11)
      """WITH docs AS (
        |  SELECT doc_id AS id, 'doc-' || doc_id AS name,
        |         'st' || (doc_id % 4) AS source_type,
        |         doc_id AS created_at
        |  FROM documents WHERE doc_id % 3 = 0),
        |top AS (SELECT * FROM docs ORDER BY created_at DESC LIMIT 100),
        |sourced AS (SELECT *, row_number() OVER (ORDER BY created_at DESC) AS rn
        |            FROM top WHERE source_type = 'st1')
        |SELECT id, name AS title, name, source_type,
        |  'approved' AS status,
        |  CAST(id % 5 <> 0 AND id % 7 <> 0 AND id % 11 <> 0 AS INT)
        |    AS metadata_complete,
        |  CAST(id % 7 AS BIGINT) AS chunk_count,
        |  CAST(id % 5 AS BIGINT) AS entity_count
        |FROM sourced WHERE rn > 7""".stripMargin,
    "q108_rel_curation" ->
      // closed-form final state: k=0..4 are the base rows (doc 3's r0
      // deleted), k=5 the created manual row; residues code the
      // approve/reject/update arms. Doubles go through ::DOUBLE so
      // DuckDB never produces DECIMAL.
      """WITH ks AS (SELECT unnest(range(0, 6)) AS k),
        |base AS (SELECT d.doc_id, ks.k FROM documents d CROSS JOIN ks
        |         WHERE NOT (d.doc_id = 3 AND ks.k = 0))
        |SELECT doc_id,
        |  'd' || doc_id || (CASE WHEN k = 5 THEN '-n' ELSE '-r' || k END) AS rid,
        |  CASE WHEN k = 5 THEN 'RELATES_TO'
        |       WHEN k = 3 AND doc_id = 2 THEN 'CONNECTS_TO'
        |       WHEN k % 2 = 0 THEN 'USES' ELSE 'PART_OF' END
        |    AS relationship_type,
        |  CASE WHEN k = 5 THEN
        |         (CASE WHEN doc_id % 2 = 0 THEN 1.0::DOUBLE ELSE 0.4::DOUBLE END)
        |       ELSE 0.5::DOUBLE + 0.1::DOUBLE * k END AS confidence_score,
        |  CASE WHEN k = 0 THEN 1
        |       WHEN k = 1 THEN (CASE WHEN doc_id % 3 = 0 THEN 0 ELSE 1 END)
        |       WHEN k = 3 THEN (CASE WHEN doc_id = 2 THEN 0 ELSE 1 END)
        |       WHEN k = 5 THEN 1 ELSE 0 END AS is_verified,
        |  CASE WHEN k IN (0, 1) THEN 'T1' WHEN k = 3 THEN 'T0'
        |       WHEN k = 5 THEN 'T2' END AS verified_at,
        |  CASE WHEN k = 5 THEN 'T2' ELSE 'T0' END AS created_at,
        |  CASE WHEN k = 5 THEN 'true' END AS m_manual,
        |  CASE WHEN k = 5 THEN 'api' END AS m_created_via,
        |  CASE WHEN k = 5 AND doc_id % 4 <> 2 THEN 'doc' || doc_id END
        |    AS m_document_context,
        |  CASE WHEN k IN (0, 1) THEN 'ok' END AS m_review_rationale,
        |  CASE WHEN k = 2 OR (k = 1 AND doc_id % 3 = 0) THEN 'true' END
        |    AS m_proposal_rejected,
        |  CASE WHEN k = 1 THEN '1' END AS m_x,
        |  CASE WHEN k = 5 AND doc_id % 5 = 0 THEN 'k' END AS m_note
        |FROM base""".stripMargin,
    "q109_doc_detail_entities" ->
      // closed-form per k: each mention arm's precedence outcome is
      // constant except k=2's entity_name (doc parity)
      """WITH ks AS (SELECT unnest(range(0, 5)) AS k)
        |SELECT d.doc_id,
        |  'd' || d.doc_id || '-m' || k AS mid,
        |  CASE WHEN k = 0 THEN 'N0'
        |       WHEN k = 2 THEN
        |         (CASE WHEN d.doc_id % 2 = 0 THEN 'EN2' ELSE 'N2' END)
        |       WHEN k = 4 THEN 'N4'
        |       ELSE 'EN' || k END AS entity_name,
        |  CASE WHEN k = 0 THEN 'COMPONENT' WHEN k = 1 THEN 'legacy'
        |       WHEN k = 2 THEN 'mtype' WHEN k = 3 THEN 'ltype' END
        |    AS entity_type,
        |  CASE WHEN k = 1 THEN 0.4::DOUBLE WHEN k = 2 THEN 0.9::DOUBLE
        |       ELSE 1.0::DOUBLE END AS confidence_score,
        |  CASE WHEN k = 0 THEN 'c1' WHEN k = 1 THEN 'c2'
        |       WHEN k = 3 THEN 'cX' END AS canonical_entity_id,
        |  CASE WHEN k = 0 THEN 'Pump Alpha' WHEN k = 1 THEN 'Valve Canon' END
        |    AS canonical_name,
        |  CASE WHEN k = 0 THEN 'COMPONENT' WHEN k = 1 THEN '' END
        |    AS canonical_type,
        |  CASE WHEN k = 0 THEN '1' WHEN k = 1 THEN '2' END AS m_z,
        |  CASE WHEN k = 0 THEN 'kept' WHEN k = 1 THEN 'attr1' END
        |    AS m_attributes,
        |  CASE WHEN k = 0 THEN '1' END AS cm_cm
        |FROM documents d CROSS JOIN ks""".stripMargin,
    "q110_vision_requests" ->
      // bodies reconstruct by concatenation (q95 precedent): the
      // sanitized context can't need JSON escaping, '\n' in a DuckDB
      // plain literal IS backslash-n (the JSON escape), and base64 of
      // 'img'||doc_id matches java.util.Base64
      """WITH base AS (SELECT doc_id,
        |  regexp_replace(substr(text, 1, 60), '[^A-Za-z0-9 ]', '', 'g') AS c,
        |  base64(encode('img' || doc_id)) AS b64,
        |  doc_id % 4 AS r
        |  FROM documents),
        |m AS (SELECT *,
        |  CASE WHEN r = 0 THEN 'gpt-5' WHEN r = 1 THEN 'gpt-5-mini'
        |       WHEN r = 2 THEN 'gpt-5-nano' ELSE 'gpt-4o' END AS model,
        |  'Analyze this image and provide a detailed, searchable description.' ||
        |  CASE WHEN doc_id % 2 = 0 AND c <> ''
        |       THEN '\nDocument context: ' || c ELSE '' END ||
        |  CASE WHEN doc_id % 3 = 0
        |       THEN '\nOCR detected text: scan ' || doc_id ELSE '' END ||
        |  '\nFocus on:' ||
        |  '\n1. What the image shows (diagrams, charts, photos, illustrations)' ||
        |  '\n2. Key information conveyed' ||
        |  '\n3. Relevant technical details' ||
        |  '\n4. How it relates to the document context' ||
        |  '\nKeep the description concise but comprehensive for search purposes.'
        |    AS p
        |  FROM base)
        |SELECT doc_id, '/v1/chat/completions' AS path,
        |  '{"model":"' || model ||
        |  '","messages":[{"role":"user","content":[{"type":"text","text":"' ||
        |  p || '"},{"type":"image_url","image_url":{"url":"data:image/jpeg;base64,' ||
        |  b64 || '","detail":"high"}}]}],' ||
        |  CASE WHEN r = 3 THEN '"max_tokens":2000}'
        |       ELSE '"max_completion_tokens":' ||
        |            (CASE WHEN r = 2 THEN 300 ELSE 2000 END) ||
        |            ',"temperature":1.0,"reasoning_effort":"minimal"}' END AS body
        |FROM m""".stripMargin,
    "q111_review_status" ->
      // closed-form gates/counts by residue: fanout m yields doc_id%m
      // rows; the entity parity pattern verifies exactly one entity
      // when total >= 2 (i=2; i=3 is the NULL arm, unverified)
      """WITH base AS (SELECT doc_id,
        |  (['discovered','processing','pending_review','approved',
        |    'published','rejected','failed'])[CAST(doc_id % 7 AS INT) + 1]
        |    AS status
        |  FROM documents)
        |SELECT doc_id AS document_id, status,
        |  CASE WHEN status = 'pending_review' THEN 1 ELSE 0 END AS can_approve,
        |  CASE WHEN status = 'pending_review' THEN 1 ELSE 0 END AS can_reject,
        |  CASE WHEN status IN ('rejected', 'failed') THEN 1 ELSE 0 END
        |    AS can_reprocess,
        |  CAST(doc_id % 6 AS BIGINT) AS chunks_count,
        |  CAST(doc_id % 4 AS BIGINT) AS entities_total,
        |  CAST(CASE WHEN doc_id % 4 >= 2 THEN 1 ELSE 0 END AS BIGINT)
        |    AS entities_verified,
        |  CAST(doc_id % 4 - CASE WHEN doc_id % 4 >= 2 THEN 1 ELSE 0 END
        |    AS BIGINT) AS entities_unverified,
        |  CASE WHEN doc_id % 3 = 0 THEN 'T' || doc_id END AS reviewed_at,
        |  CASE WHEN doc_id % 3 = 0 THEN
        |    CASE WHEN doc_id % 2 = 0 THEN 'approved' ELSE 'rejected' END END
        |    AS review_action,
        |  CASE WHEN doc_id % 5 = 0 THEN 'low quality' END AS rejection_reason
        |FROM base""".stripMargin,
    "q112_jobs_census" ->
      // closed form per doc: %5 residue is the status ladder (3 was
      // failed, then requeued by retry), %3 the type (2 = unknown,
      // 400-but-queued), clamp arms on %3 docs; the missing retry id
      // appends the not_found row with null job columns
      """WITH per AS (SELECT doc_id, doc_id % 3 AS r3, doc_id % 5 AS r5
        |  FROM documents)
        |SELECT 'j' || doc_id AS id,
        |  CASE r3 WHEN 0 THEN 'notion_scan' WHEN 1 THEN 'gdrive_scan'
        |       ELSE 'embed_rebuild' END AS type,
        |  CASE WHEN r5 IN (0, 3) THEN 'queued' WHEN r5 = 1 THEN 'running'
        |       WHEN r5 = 2 THEN 'completed' ELSE 'cancelled' END AS status,
        |  CASE WHEN r5 = 2 THEN 100
        |       WHEN r5 <> 0 AND doc_id % 3 = 0
        |       THEN LEAST(100, GREATEST(0, CAST(doc_id % 11 AS INT) * 15 - 10))
        |       ELSE 0 END AS progress,
        |  CASE WHEN r5 = 3 THEN 'Retrying job'
        |       WHEN r5 <> 0 AND doc_id % 2 = 0 THEN 'm' || doc_id
        |       ELSE 'Job queued' END AS message,
        |  CASE WHEN r5 = 3 THEN 'boom' END AS error,
        |  CASE WHEN r5 IN (2, 3, 4) THEN 'T1' END AS completed_at,
        |  CASE WHEN r5 = 3 THEN 'T2'
        |       WHEN r5 = 0 THEN 'T' || lpad(CAST(doc_id AS VARCHAR), 12, '0')
        |       ELSE 'T1' END AS updated_at,
        |  CASE WHEN r5 = 3 THEN
        |         (CASE WHEN r3 = 2 THEN 'unknown_type' ELSE 'queued' END)
        |       WHEN r5 = 2 THEN 'not_failed' END AS outcome,
        |  CASE WHEN r5 = 3 THEN (CASE WHEN r3 = 2 THEN 400 ELSE 200 END)
        |       WHEN r5 = 2 THEN 400 END AS http_status
        |FROM per
        |UNION ALL
        |SELECT 'missing-1', NULL, NULL, NULL, NULL, NULL, NULL, NULL,
        |  'not_found', 404""".stripMargin,
    "q113_jobs_listing" ->
      // the running+gdrive stripe is doc_id ≡ 1 (mod 15); its %3
      // residue is 1 so the progress-update arm never fires (0)
      """SELECT 'j' || doc_id AS id, 'gdrive_scan' AS type,
        |  'running' AS status, 0 AS progress,
        |  CASE WHEN doc_id % 2 = 0 THEN 'm' || doc_id
        |       ELSE 'Job queued' END AS message,
        |  'T' || lpad(CAST(doc_id AS VARCHAR), 12, '0') AS created_at
        |FROM documents
        |WHERE doc_id % 5 = 1 AND doc_id % 3 = 1
        |ORDER BY doc_id DESC LIMIT 20 OFFSET 5""".stripMargin,
    "q114_metadata_transitions" ->
      // validity is closed-form from document_state.py's map: batch-1
      // approve only from pending_review (r7=2, even docs),
      // processing only from discovered/failed (r7 0/5, odd docs —
      // NOT rejected, which re-enters via discovered); batch-2 ingest
      // only from approved, fail from everything but ingested/rejected
      """WITH per AS (SELECT doc_id, doc_id % 7 AS r7, doc_id % 2 = 0 AS ev
        |  FROM documents),
        |v AS (SELECT doc_id, r7, ev,
        |  (ev AND r7 = 2) OR (NOT ev AND r7 IN (0, 5)) AS v1,
        |  (ev AND r7 IN (2, 3)) OR (NOT ev AND r7 IN (0, 1, 2, 3, 5)) AS v2
        |  FROM per)
        |SELECT doc_id,
        |  CASE WHEN v2 THEN (CASE WHEN ev THEN 'ingested' ELSE 'failed' END)
        |       WHEN v1 THEN (CASE WHEN ev THEN 'approved' ELSE 'processing' END)
        |       ELSE (['discovered','processing','pending_review','approved',
        |             'ingested','failed','rejected'])[CAST(r7 AS INT) + 1]
        |       END AS status,
        |  CASE WHEN v2 THEN 'T2' WHEN v1 THEN 'T1' END AS updated_at,
        |  CASE WHEN v1 AND NOT ev THEN 'T1' END AS processed_at,
        |  CASE WHEN v1 AND ev THEN 'T1' END AS approved_at,
        |  CAST(CASE WHEN v1 THEN 1 ELSE 0 END +
        |       CASE WHEN v2 THEN 1 ELSE 0 END AS INT) AS n_transitions,
        |  CASE WHEN v2 THEN (CASE WHEN ev THEN 'ingested' ELSE 'failed' END)
        |       WHEN v1 THEN (CASE WHEN ev THEN 'approved' ELSE 'processing' END)
        |       END AS last_to,
        |  CASE WHEN v1 AND ev AND doc_id % 3 = 0 THEN 'u' || doc_id END
        |    AS approved_by_user,
        |  CASE WHEN NOT ev AND v2 THEN '1' ELSE '0' END AS error_count,
        |  'f' || doc_id AS filename
        |FROM v""".stripMargin,
    "q115_reset_census" ->
      // closed form: error states are residues 5 (failed) and 6
      // (rejected); only requested error-state docs reset
      """WITH per AS (SELECT doc_id, doc_id % 7 AS r7, doc_id % 3 <> 2 AS req
        |  FROM documents),
        |s AS (SELECT doc_id, r7, req,
        |  (['discovered','processing','pending_review','approved',
        |    'ingested','failed','rejected'])[CAST(r7 AS INT) + 1] AS st,
        |  req AND r7 IN (5, 6) AS ok
        |  FROM per)
        |SELECT 'd' || doc_id AS id,
        |  CASE WHEN ok THEN 'discovered' ELSE st END AS status,
        |  CAST(CASE WHEN ok THEN 1 ELSE 0 END AS INT) AS n_transitions,
        |  CASE WHEN ok THEN st END AS previous_state,
        |  CASE WHEN req THEN (CASE WHEN ok THEN 1 ELSE 0 END) END AS ok,
        |  CASE WHEN req AND NOT ok
        |       THEN 'Document is not in error state (current: ' || st || ')'
        |       END AS error
        |FROM s
        |UNION ALL
        |SELECT 'missing-9', NULL, NULL, NULL, 0, 'not found'""".stripMargin,
    "q116_canonical_metrics" ->
      // closed form per arm k (4 = bystander 'B'): counts/score/
      // metadata keys are constant per arm except the doc-parity
      // description and bystander-keep cells; the requested-but-
      // missing 'X' id produces no row
      """WITH ks AS (SELECT unnest(range(0, 5)) AS k)
        |SELECT d.doc_id,
        |  'c' || d.doc_id || '-' ||
        |    (CASE WHEN k = 4 THEN 'B' ELSE CAST(k AS VARCHAR) END) AS cid,
        |  CAST(CASE WHEN k = 0 THEN 3 WHEN k IN (1, 2) THEN 1
        |       WHEN k = 3 THEN 0 ELSE 7 END AS BIGINT) AS mention_count,
        |  CAST(CASE WHEN k = 0 THEN 2 WHEN k = 1 THEN 1
        |       WHEN k IN (2, 3) THEN 0 ELSE 7 END AS BIGINT)
        |    AS document_count,
        |  CAST(CASE WHEN k IN (0, 1) THEN 3 WHEN k = 2 THEN 4
        |       WHEN k = 3 THEN 0 ELSE 7 END AS BIGINT) AS relationship_count,
        |  CASE WHEN k = 0 THEN 1.0::DOUBLE WHEN k = 1 THEN 0.0::DOUBLE
        |       WHEN k = 2 THEN 0.5::DOUBLE WHEN k = 3 THEN 0.75::DOUBLE
        |       ELSE 0.7::DOUBLE END AS quality_score,
        |  CASE WHEN k = 0 THEN 'v'
        |       WHEN k = 4 AND d.doc_id % 2 = 0 THEN 'b' END AS m_keep,
        |  CASE WHEN k = 0 THEN '0.25' WHEN k = 3 THEN '0.75' END
        |    AS m_quality_score,
        |  CASE WHEN k = 0 THEN 'A' || d.doc_id || ',D' || d.doc_id
        |       WHEN k = 1 THEN 'E' || d.doc_id END AS m_document_ids,
        |  CASE WHEN k IN (0, 1) THEN 'R' || d.doc_id
        |       WHEN k = 2 THEN 'S' || d.doc_id END AS m_rel_document_ids,
        |  CASE WHEN k < 4 THEN 'TS' END AS m_last_refreshed_at,
        |  CASE WHEN k = 0 AND d.doc_id % 2 = 0 THEN 'desc' || d.doc_id END
        |    AS m_description
        |FROM documents d CROSS JOIN ks""".stripMargin,
    "q117_chunk_context" ->
      // independent re-derivation: thirds-chunks + Python-slice
      // context windows clamped at the document bounds
      """WITH d AS (SELECT doc_id, text,
        |  CAST(floor(length(text) / 3) AS BIGINT) AS t3 FROM documents),
        |c AS (SELECT doc_id, text, t3, p
        |  FROM d CROSS JOIN (SELECT unnest([0, 1]) AS p) u)
        |SELECT doc_id, 'd' || doc_id || ':c' || p AS chunk_id,
        |  p AS chunk_number,
        |  substr(text, CAST(p * t3 + 1 AS INT), CAST(t3 AS INT))
        |    AS chunk_text,
        |  CAST(p * t3 AS BIGINT) AS start_position,
        |  CAST((p + 1) * t3 AS BIGINT) AS end_position,
        |  substr(text, CAST(greatest(0, p * t3 - 15) + 1 AS INT),
        |    CAST(p * t3 - greatest(0, p * t3 - 15) AS INT))
        |    AS context_before,
        |  substr(text, CAST((p + 1) * t3 + 1 AS INT),
        |    CAST(least(length(text), (p + 1) * t3 + 15) - (p + 1) * t3
        |      AS INT)) AS context_after
        |FROM c""".stripMargin,
    "q118_chunk_update" ->
      // even docs edit c1: text/size replaced, offsets kept, edit
      // lengths surfaced, whole doc pending_review
      """WITH base(cid, num, txt, sz, st, en) AS (VALUES
        |  ('c0', 0, 'alpha beta', 10, 0, 10),
        |  ('c1', 1, 'gamma delta epsilon', 19, 10, 29),
        |  ('c2', 2, 'zeta', 4, 29, 33),
        |  ('c3', 3, 'eta theta', 9, 33, 42))
        |SELECT d.doc_id, 'd' || d.doc_id || ':' || b.cid AS chunk_id,
        |  b.num AS chunk_number,
        |  CASE WHEN d.doc_id % 2 = 0 AND b.cid = 'c1'
        |       THEN 'edited:' || d.doc_id ELSE b.txt END AS chunk_text,
        |  CASE WHEN d.doc_id % 2 = 0 AND b.cid = 'c1'
        |       THEN length('edited:' || d.doc_id) ELSE b.sz END
        |    AS chunk_size,
        |  CAST(b.st AS BIGINT) AS start_position,
        |  CAST(b.en AS BIGINT) AS end_position,
        |  CASE WHEN d.doc_id % 2 = 0 AND b.cid = 'c1' THEN b.sz END
        |    AS old_length,
        |  CASE WHEN d.doc_id % 2 = 0 AND b.cid = 'c1'
        |       THEN length('edited:' || d.doc_id) END AS new_length,
        |  CASE WHEN d.doc_id % 2 = 0 AND b.cid = 'c1' THEN TRUE END
        |    AS manually_edited,
        |  CASE WHEN d.doc_id % 2 = 0 THEN 'pending_review' END
        |    AS doc_status
        |FROM documents d CROSS JOIN base b""".stripMargin,
    "q119_chunk_delete" ->
      // even docs delete c1 (survivors c0,c2,c3 renumber; affected=2),
      // odd delete c2 (survivors c0,c1,c3; affected=1)
      """WITH le(cid, num) AS (VALUES ('c0', 0), ('c2', 1), ('c3', 2)),
        |lo(cid, num) AS (VALUES ('c0', 0), ('c1', 1), ('c3', 2))
        |SELECT d.doc_id, 'live' AS arm,
        |  'd' || d.doc_id || ':' || v.cid AS chunk_id,
        |  v.num AS chunk_number, CAST(NULL AS INT) AS affected_chunks,
        |  'pending_review' AS doc_status
        |FROM documents d JOIN le v ON d.doc_id % 2 = 0
        |UNION ALL
        |SELECT d.doc_id, 'live', 'd' || d.doc_id || ':' || v.cid,
        |  v.num, CAST(NULL AS INT), 'pending_review'
        |FROM documents d JOIN lo v ON d.doc_id % 2 = 1
        |UNION ALL
        |SELECT d.doc_id, 'deleted',
        |  'd' || d.doc_id || ':c' ||
        |    (CASE WHEN d.doc_id % 2 = 0 THEN 1 ELSE 2 END),
        |  CASE WHEN d.doc_id % 2 = 0 THEN 1 ELSE 2 END,
        |  CASE WHEN d.doc_id % 2 = 0 THEN 2 ELSE 1 END,
        |  CAST(NULL AS VARCHAR)
        |FROM documents d""".stripMargin,
    "q120_batch_update_census" ->
      // one valid + one empty-text skip + one unknown-chunk miss per
      // document: only the valid one counts as updated
      """SELECT CAST((SELECT count(*) FROM documents) AS INT)
        |    AS updated_count,
        |  CAST(3 * (SELECT count(*) FROM documents) AS INT)
        |    AS total_requested""".stripMargin,
    "q121_entity_listing" ->
      // 'all' = endpoint defaults (min_quality=0.0 skips the quality
      // predicate → NULL-quality e3 survives); 'q03' = >=0.3 drops it
      """WITH va(cfg, ek, nm, ty, qs, iv, mc) AS (VALUES
        |  ('all', 'e1', 'Pump', 'COMPONENT', 0.9, TRUE, 2),
        |  ('all', 'e2', 'Seal', 'COMPONENT', 0.4, FALSE, 2),
        |  ('all', 'e3', 'Acme', 'ORGANIZATION', NULL, FALSE, 1),
        |  ('q03', 'e1', 'Pump', 'COMPONENT', 0.9, TRUE, 2),
        |  ('q03', 'e2', 'Seal', 'COMPONENT', 0.4, FALSE, 2))
        |SELECT d.doc_id, v.cfg, 'c' || d.doc_id || ':' || v.ek AS id,
        |  v.nm AS name, v.ty AS type,
        |  CAST(v.qs AS DOUBLE) AS quality_score, v.iv AS is_validated,
        |  CAST(v.mc AS BIGINT) AS mentions_in_document
        |FROM documents d CROSS JOIN va v""".stripMargin,
    "q122_entity_create" ->
      // r1 exact duplicate → 400; r2 differs by case → created; r3's
      // document is missing → 404; r4 manual create
      """WITH vr(r, arm, nm, cf, mc, ds) AS (VALUES
        |  (1, 'duplicate', 'Pump', 0.9, NULL, NULL),
        |  (2, 'created', 'pump', 0.9, NULL, 'pending_review'),
        |  (3, 'no_document', 'Valve', 0.8, NULL, NULL),
        |  (4, 'created', 'Valve', 0.8, TRUE, 'pending_review'))
        |SELECT d.doc_id, 'D' || d.doc_id || ':r' || v.r AS request_id,
        |  v.arm, v.nm AS entity_name, CAST(v.cf AS DOUBLE) AS confidence,
        |  CAST(v.mc AS BOOLEAN) AS manually_created, v.ds AS doc_status
        |FROM documents d CROSS JOIN vr v""".stripMargin,
    "q123_entity_update" ->
      // m1: merge (new wins on b, a kept) + rename; m2: merge requested
      // but existing {} is falsy → replace; m3: untouched other doc
      """WITH vm(m, nm, ty, cf, kv, onm, ocf, me, ds) AS (VALUES
        |  (1, 'Pump X', 'COMPONENT', 0.5, 'a=1,b=3,c=4', 'Pump', 0.5,
        |   TRUE, 'pending_review'),
        |  (2, 'Seal', 'COMPONENT', 0.9, 'k=v', 'Seal', 0.6,
        |   TRUE, 'pending_review'),
        |  (3, 'Acme', 'ORGANIZATION', 0.7, 'x=9', NULL, NULL,
        |   NULL, NULL))
        |SELECT 'm' || d.doc_id || ':' || v.m AS entity_id,
        |  (CASE WHEN v.m = 3 THEN 'E' ELSE 'D' END) || d.doc_id
        |    AS document_id,
        |  v.nm AS entity_name, v.ty AS entity_type,
        |  CAST(v.cf AS DOUBLE) AS confidence, v.kv AS metadata_kv,
        |  v.onm AS old_name, CAST(v.ocf AS DOUBLE) AS old_confidence,
        |  CAST(v.me AS BOOLEAN) AS manually_edited, v.ds AS doc_status
        |FROM documents d CROSS JOIN vm v""".stripMargin,
    "q124_entity_resolve" ->
      // 'D<doc>' resolves as a document (its three mentioned
      // entities); 'c<doc>:e2' as an entity with its mention count;
      // 'zz<doc>' yields nothing
      """WITH vd(ek, nm, ty, qs, iv) AS (VALUES
        |  ('e1', 'Pump', 'COMPONENT', 0.9, TRUE),
        |  ('e2', 'Seal', 'COMPONENT', 0.4, FALSE),
        |  ('e3', 'Acme', 'ORGANIZATION', NULL, FALSE))
        |SELECT 'D' || d.doc_id AS request_id, 'document' AS arm,
        |  'c' || d.doc_id || ':' || v.ek AS id, v.nm AS name,
        |  v.ty AS type, CAST(v.qs AS DOUBLE) AS quality_score,
        |  v.iv AS is_validated, CAST(NULL AS BIGINT) AS n_mentions
        |FROM documents d CROSS JOIN vd v
        |UNION ALL
        |SELECT 'c' || d.doc_id || ':e2', 'entity',
        |  'c' || d.doc_id || ':e2', 'Seal', 'COMPONENT',
        |  CAST(0.4 AS DOUBLE), FALSE, CAST(2 AS BIGINT)
        |FROM documents d""".stripMargin,
    "q125_entity_report" ->
      """WITH vt(ty, n, tot) AS (VALUES
        |  ('COMPONENT', 2, 3), ('ORGANIZATION', 1, 3))
        |SELECT d.doc_id, v.ty AS type, CAST(v.n AS BIGINT) AS n_of_type,
        |  CAST(v.tot AS BIGINT) AS total_entities
        |FROM documents d CROSS JOIN vt v""".stripMargin,
    "q126_quick_search" -> quickSearchOracleSql,
    "q127_suggested_metadata" ->
      // %3==0: truthy marker → suggestion frame (missing keys null,
      // tags default ''); %3==1: JSON-false marker and %3==2: absent
      // marker → the null arm with the message
      """SELECT doc_id, (doc_id % 3 = 0) AS has_suggestions,
        |  CASE WHEN doc_id % 3 = 0 THEN 'manual' END AS category,
        |  CASE WHEN doc_id % 3 = 0 THEN 'pump,tag' || doc_id END AS tags,
        |  CASE WHEN doc_id % 3 = 0 THEN 'ai' END AS author,
        |  CAST(NULL AS VARCHAR) AS department,
        |  CAST(NULL AS VARCHAR) AS version,
        |  CASE WHEN doc_id % 3 = 0 THEN 'T1' END AS extraction_timestamp,
        |  CASE WHEN doc_id % 3 <> 0 THEN
        |    'No AI-extracted metadata available. ' ||
        |    'Use /extract-metadata endpoint first.' END AS message
        |FROM documents""".stripMargin,
    "q128_process_admission" ->
      // arms by (status = doc_id%5, force = doc_id%2): force skips the
      // state gate except processing (busy); normal admits only
      // discovered/failed; cleanup counts only on forced admissions
      """SELECT doc_id, (doc_id % 2 = 0) AS force_reprocess,
        |  CASE WHEN doc_id % 5 = 1 AND doc_id % 2 = 0 THEN 'busy'
        |       WHEN doc_id % 2 = 0 THEN 'queued'
        |       WHEN doc_id % 5 IN (2, 3) THEN 'queued'
        |       ELSE 'bad_state' END AS arm,
        |  CASE WHEN doc_id % 5 = 1 THEN 'processing'
        |       WHEN doc_id % 2 = 0 THEN 'processing'
        |       WHEN doc_id % 5 IN (2, 3) THEN 'processing'
        |       WHEN doc_id % 5 = 0 THEN 'approved'
        |       ELSE 'pending_review' END AS new_status,
        |  CAST(CASE WHEN doc_id % 2 = 0 AND doc_id % 5 <> 1
        |       THEN 2 ELSE 0 END AS BIGINT) AS chunks_deleted,
        |  CAST(CASE WHEN doc_id % 2 = 0 AND doc_id % 5 <> 1
        |       THEN 1 ELSE 0 END AS BIGINT) AS mentions_deleted,
        |  CAST(CASE WHEN doc_id % 2 = 0 AND doc_id % 5 <> 1
        |       THEN 1 ELSE 0 END AS BIGINT) AS relationships_deleted
        |FROM documents""".stripMargin,
    "q129_rechunk" ->
      // independent re-derivation of the fixed windows the "semantic"
      // method actually routes to: step 350, end clamped, md5[:8] ids
      """WITH d AS (SELECT doc_id, text, length(text) AS n
        |  FROM documents WHERE length(text) > 0),
        |w AS (SELECT doc_id, text, n,
        |  unnest(range(0, CAST(ceil(CAST(n AS DOUBLE) / 350) AS BIGINT)))
        |    AS i FROM d)
        |SELECT doc_id, 'chunk' AS arm, CAST(i AS INT) AS chunk_number,
        |  substr(text, CAST(i * 350 + 1 AS INT), 400) AS chunk_text,
        |  CAST(length(substr(text, CAST(i * 350 + 1 AS INT), 400)) AS INT)
        |    AS chunk_size,
        |  CAST(i * 350 AS BIGINT) AS start_position,
        |  CAST(least(i * 350 + 400, n) AS BIGINT) AS end_position,
        |  substr(md5(substr(text, CAST(i * 350 + 1 AS INT), 400)), 1, 8)
        |    AS chunk_id,
        |  'semantic' AS method, 'pending_review' AS doc_status,
        |  CAST(ceil(CAST(n AS DOUBLE) / 350) AS INT) AS total_chunks
        |FROM w""".stripMargin,
    "q130_progress_stream" ->
      // the poll-only schedule rebuilt as strings: connected, 30
      // job_updates, heartbeats at 5k+1, timeout at 302 — no complete
      """WITH d AS (SELECT doc_id, 'D' || doc_id AS did,
        |  'j' || doc_id AS jid, doc_id % 100 AS prog,
        |  'step' || doc_id AS step FROM documents),
        |nl AS (SELECT chr(10) || chr(10) AS e)
        |SELECT doc_id, CAST(0 AS INT) AS seq,
        |  'data: {"event":"connected","document_id":"' || did || '"}'
        |    || e AS frame
        |FROM d, nl
        |UNION ALL
        |SELECT doc_id, CAST(tick * 10 AS INT),
        |  'data: {"event":"job_update","document_id":"' || did ||
        |  '","job_id":"' || jid ||
        |  '","status":"running","progress":' || prog ||
        |  ',"current_step":"' || step || '"}' || e
        |FROM (SELECT *, unnest(range(1, 31)) AS tick FROM d), nl
        |UNION ALL
        |SELECT doc_id, CAST(hb * 50 + 1 AS INT),
        |  'data: {"event":"heartbeat","document_id":"' || did || '"}'
        |    || e
        |FROM (SELECT doc_id, did, unnest(range(1, 7)) AS hb FROM d), nl
        |UNION ALL
        |SELECT doc_id, CAST(302 AS INT),
        |  'data: {"event":"timeout","message":' ||
        |  '"No updates received for 30 seconds"}' || e
        |FROM d, nl""".stripMargin,
    "q131_connector_scans" ->
      // notion admits the five levels + 'all'; gdrive omits 'all' from
      // its valid list so its own documented default is a 400
      """WITH vn(m, lvl, arm, task, det) AS (VALUES
        |  (0, 'all', 'queued', 'scan_notion_all', NULL),
        |  (1, 'client', 'queued', 'scan_notion_workspace', NULL),
        |  (2, 'bogus', 'invalid_level', NULL,
        |   'Invalid security level. Must be one of: ' ||
        |   '[''public'', ''client'', ''partner'', ''employee'', ' ||
        |   '''management'', ''all'']')),
        |vg(m, lvl, arm, task, ftp, det) AS (VALUES
        |  (0, 'all', 'invalid_level', NULL, NULL,
        |   'Invalid security level. Must be one of: ' ||
        |   '[''public'', ''client'', ''partner'', ''employee'', ' ||
        |   '''management'']'),
        |  (1, 'public', 'queued', 'scan_google_drive', '.pdf|.md', NULL),
        |  (2, 'employee', 'queued', 'scan_google_drive', '', NULL))
        |SELECT 'n' || d.doc_id AS request_id, 'notion' AS src,
        |  v.lvl AS security_level, v.arm, v.task,
        |  CAST(NULL AS VARCHAR) AS file_types_parsed, v.det AS detail
        |FROM documents d JOIN vn v ON d.doc_id % 3 = v.m
        |UNION ALL
        |SELECT 'g' || d.doc_id, 'gdrive', v.lvl, v.arm, v.task,
        |  v.ftp, v.det
        |FROM documents d JOIN vg v ON d.doc_id % 3 = v.m""".stripMargin,
    "q132_bridge_graph_search" ->
      // root = lowest matching id e<doc>:1; e4 keeps min distance 1;
      // e3's null type stays NULL (the reference's .get default is
      // dead code); e2/e5 never traversed
      """WITH vr(k, nm, ty, dist) AS (VALUES
        |  (1, 'x big', 'COMPONENT', 0),
        |  (3, NULL, CAST(NULL AS VARCHAR), 1),
        |  (4, NULL, 'COMPONENT', 1))
        |SELECT d.doc_id, 'e' || d.doc_id || ':' || v.k AS id,
        |  CASE WHEN v.k = 1 THEN 'Pump' || d.doc_id || v.nm
        |       WHEN v.k = 3 THEN 'Motor' ELSE 'Valve' END AS name,
        |  v.ty AS type, CAST(v.dist AS INT) AS distance
        |FROM documents d CROSS JOIN vr v""".stripMargin,
    "q133_bridge_hybrid" ->
      // weighted blend: d1 max-dedup 0.9*0.7, d2 0.6*0.7, doc_e7 at
      // 1/(1+0)*0.3; doc_e8 (0.15) falls past limit 3
      """WITH vh(did, sc, vs, gs, tx) AS (VALUES
        |  ('d1:', round(0.9 * 0.7, 6), 0.9, 0.0, 'best text'),
        |  ('d2:', round(0.6 * 0.7, 6), 0.6, 0.0, 't2'),
        |  ('doc_e7:', round(1.0 * 0.3, 6), 0.0, 1.0, 'Entity: Pump'))
        |SELECT d.doc_id, v.did || d.doc_id AS document_id,
        |  CAST(v.sc AS DOUBLE) AS score,
        |  CAST(v.vs AS DOUBLE) AS vector_score,
        |  CAST(v.gs AS DOUBLE) AS graph_score, v.tx AS text
        |FROM documents d CROSS JOIN vh v""".stripMargin,
    "q134_entity_delete" ->
      // even docs delete m1: survivors m2/m3 flagged pending_review;
      // odd docs keep all three rows unflagged
      """WITH vm(m) AS (VALUES (1), (2), (3))
        |SELECT d.doc_id, 'm' || d.doc_id || ':' || v.m AS entity_id,
        |  'N' || v.m AS entity_name,
        |  CAST(round(v.m * 0.1 + 0.5, 2) AS DOUBLE) AS confidence,
        |  CASE WHEN d.doc_id % 2 = 0 THEN 'pending_review' END
        |    AS doc_status
        |FROM documents d CROSS JOIN vm v
        |WHERE NOT (d.doc_id % 2 = 0 AND v.m = 1)""".stripMargin,
    "q135_pipeline_progress" ->
      // the 14-frame ladder with count-parameterized messages; the
      // 100% frame repeats the 95 message with status completed
      """WITH o AS (SELECT doc_id, doc_id % 2 = 0 AS inline,
        |  doc_id % 7 + 1 AS cc, doc_id % 11 AS mc, doc_id % 5 AS can,
        |  doc_id % 3 AS ri FROM documents),
        |f AS (SELECT doc_id, s.seq, s.progress,
        |  CASE s.seq
        |    WHEN 0 THEN 'Queued for processing'
        |    WHEN 1 THEN 'Parsing document with LlamaParse'
        |    WHEN 2 THEN CASE WHEN inline
        |      THEN 'Document parsed using inline content'
        |      ELSE 'Document parsed successfully' END
        |    WHEN 3 THEN 'Chunking document (two-tier)'
        |    WHEN 4 THEN 'Created ' || cc || ' two-tier chunks'
        |    WHEN 5 THEN 'Generating embeddings'
        |    WHEN 6 THEN 'Generated ' || cc || ' embeddings'
        |    WHEN 7 THEN 'Extracting entities'
        |    WHEN 8 THEN 'Extracting entity mentions (v2 pipeline)'
        |    WHEN 9 THEN 'Persisting ' || mc || ' mentions / ' || can ||
        |      ' canonical entities'
        |    WHEN 10 THEN 'Canonicalized ' || can ||
        |      ' entities; inferring relationships'
        |    WHEN 11 THEN 'Finalising entity metrics (' || can ||
        |      ' canonical / ' || ri || ' relationships)'
        |    ELSE 'Entities ready for review (' || can ||
        |      ' canonical / ' || ri || ' relationships)' END
        |    AS current_step,
        |  CASE WHEN s.seq = 13 THEN 'completed' ELSE 'running' END
        |    AS job_status
        |  FROM o CROSS JOIN (SELECT unnest(range(0, 14)) AS seq,
        |    unnest([1, 10, 25, 35, 50, 60, 75, 85, 88, 90, 92, 94, 95,
        |      100]) AS progress) s)
        |SELECT doc_id, CAST(seq AS INT) AS seq,
        |  CAST(progress AS INT) AS progress, current_step, job_status
        |FROM f""".stripMargin,
    "q136_metadata_update" ->
      // seven arms: merge overwrite, empty-string author pop (presence
      // not truthiness), ladder clobbers same-dict access_level,
      // unknown level -> 1, bare access_level, dead merge=false param
      // still merges, and the 404
      """WITH vm(k, mrg, arm, au, mt, sl, al, mk, mo, me, ua) AS (VALUES
        |  ('0', true, 'updated', 'a0', 'text/plain', 'public', 1,
        |    'v0', 'y', 'z', 'T1'),
        |  ('1', true, 'updated', '', 'app/pdf', 'public', 1,
        |    'v0', 'x', NULL, 'T1'),
        |  ('2', true, 'updated', 'a0', 'text/plain', 'partner', 3,
        |    'v0', 'x', NULL, 'T1'),
        |  ('3', true, 'updated', 'a0', 'text/plain', 'weird', 1,
        |    'v0', 'x', NULL, 'T1'),
        |  ('4', true, 'updated', 'a0', 'text/plain', 'public', 7,
        |    'v0', 'x', NULL, 'T1'),
        |  ('5', false, 'updated', 'a0', 'text/plain', 'public', 1,
        |    'v0', 'x', 'm', 'T1'),
        |  ('miss', true, 'not_found', NULL, NULL, NULL, NULL,
        |    NULL, NULL, NULL, NULL))
        |SELECT d.doc_id, v.k, v.mrg AS "merge", v.arm, v.au AS author,
        |  v.mt AS mime_type, v.sl AS security_level,
        |  CAST(v.al AS INT) AS access_level, v.mk AS m_keep,
        |  v.mo AS m_old, v.me AS m_extra, v.ua AS updated_at,
        |  CASE WHEN v.arm = 'updated' THEN 'Document D' || d.doc_id ||
        |    ':' || v.k || ' updated successfully' END AS message,
        |  CASE WHEN v.arm = 'not_found' THEN 'not_found'
        |       ELSE 'error_500' END AS route_arm,
        |  CASE WHEN v.arm = 'not_found' THEN 'Document D' || d.doc_id
        |         || ':' || v.k || ' not found'
        |       ELSE '''dict'' object has no attribute ''dict''' END
        |    AS route_detail
        |FROM documents d CROSS JOIN vm v""".stripMargin,
    "q137_supabase_chunks" ->
      // supabase twins: empty text = missing_text 400, stale
      // chunk_size 6 after update, survivor keeps number 3 (no
      // renumber after deleting the middle chunk)
      """WITH vr(ck, section, op, arm, succ, msg, det, cn, ct, cs, ua)
        |AS (VALUES
        |  ('1', 'resp', 'update', 'updated', true,
        |    'updated successfully', NULL, NULL, NULL, NULL, NULL),
        |  ('3', 'resp', 'update', 'missing_text', false, NULL,
        |    'Text field is required', NULL, NULL, NULL, NULL),
        |  ('x', 'resp', 'update', 'not_found', false, NULL,
        |    'not found or update failed', NULL, NULL, NULL, NULL),
        |  ('2', 'resp', 'delete', 'deleted', true,
        |    'deleted successfully', NULL, NULL, NULL, NULL, NULL),
        |  ('y', 'resp', 'delete', 'not_found', false, NULL,
        |    'not found', NULL, NULL, NULL, NULL),
        |  ('1', 'state', NULL, NULL, NULL, NULL, NULL, 1,
        |    'replacement one', 6, 'T1'),
        |  ('3', 'state', NULL, NULL, NULL, NULL, NULL, 3,
        |    'text 3', 6, NULL))
        |SELECT d.doc_id, v.ck, v.section, v.op, v.arm,
        |  CAST(v.succ AS BOOLEAN) AS success,
        |  CASE WHEN v.msg IS NOT NULL THEN 'Chunk c' || d.doc_id ||
        |    ':' || v.ck || ' ' || v.msg END AS message,
        |  CASE WHEN v.det = 'Text field is required' THEN v.det
        |       WHEN v.det IS NOT NULL THEN 'Chunk c' || d.doc_id ||
        |         ':' || v.ck || ' ' || v.det END AS detail,
        |  CAST(v.cn AS INT) AS chunk_number, v.ct AS chunk_text,
        |  CAST(v.cs AS INT) AS chunk_size, v.ua AS updated_at
        |FROM documents d CROSS JOIN vr v""".stripMargin,
    "q138_sources_scan" ->
      // dispatcher arms: default source=all queues both, DRIVE alias
      // folds, the all/all DEFAULT 400s on the gdrive arm, unknown
      // source is its own 400
      """WITH vs(k, sn, arm, st, g, n, gt, ftp, nt, det) AS (VALUES
        |  (0, 'all', 'queued', 'queued', true, true,
        |    'scan_google_drive',
        |    '.pdf|.docx|.txt|.md|.gdoc|.gsheet|.gslides',
        |    'scan_notion_workspace', NULL),
        |  (1, 'drive', 'queued', 'queued', true, false,
        |    'scan_google_drive', '.pdf|.md', NULL, NULL),
        |  (2, 'notion', 'queued', 'queued', false, true, NULL, NULL,
        |    'scan_notion_all', NULL),
        |  (3, 'all', 'gdrive_rejected', NULL, false, false, NULL,
        |    NULL, NULL, 'Invalid security level. Must be one of: ' ||
        |    '[''public'', ''client'', ''partner'', ''employee'', ' ||
        |    '''management'']'),
        |  (4, 'notion', 'notion_rejected', NULL, false, false, NULL,
        |    NULL, NULL, 'Invalid security level. Must be one of: ' ||
        |    '[''public'', ''client'', ''partner'', ''employee'', ' ||
        |    '''management'', ''all'']'),
        |  (5, 'slack', 'unknown_source', NULL, false, false, NULL,
        |    NULL, NULL, 'Unknown source. Use gdrive, notion, or all'),
        |  (6, 'google_drive', 'gdrive_rejected', NULL, false, false,
        |    NULL, NULL, NULL,
        |    'Invalid security level. Must be one of: ' ||
        |    '[''public'', ''client'', ''partner'', ''employee'', ' ||
        |    '''management'']'),
        |  (7, 'notion', 'queued', 'queued', false, true, NULL, NULL,
        |    'scan_notion_all', NULL))
        |SELECT d.doc_id, CAST(v.k AS INT) AS k, v.sn AS source_norm,
        |  v.arm, v.st AS status, v.g AS gdrive_included,
        |  v.n AS notion_included, v.gt AS gdrive_task,
        |  v.ftp AS file_types_parsed, v.nt AS notion_task,
        |  v.det AS detail
        |FROM documents d CROSS JOIN vs v""".stripMargin,
    "q139_celery_status" ->
      // AsyncResult projection: unknown id = PENDING (never 404);
      // successful/failed NULL until ready
      """WITH vc(k, st, rd, su, fa, res, err, tb) AS (VALUES
        |  (0, 'SUCCESS', true, true, false, 'r0', NULL, NULL),
        |  (1, 'FAILURE', true, false, true, NULL, 'boom', 'tb1'),
        |  (2, 'STARTED', false, NULL, NULL, NULL, NULL, NULL),
        |  (3, 'REVOKED', true, false, false, NULL, NULL, NULL),
        |  (9, 'PENDING', false, NULL, NULL, NULL, NULL, NULL))
        |SELECT d.doc_id, CAST(v.k AS INT) AS k, v.st AS status,
        |  v.rd AS ready, CAST(v.su AS BOOLEAN) AS successful,
        |  CAST(v.fa AS BOOLEAN) AS failed, v.res AS result,
        |  v.err AS error, v.tb AS traceback
        |FROM documents d CROSS JOIN vc v""".stripMargin,
    "q140_tracker_status" ->
      // tracker projection: null stored message answers "", null
      // metadata/result answer {} (sizes 0, not NULL); 404 arm
      // carries the detail string
      """WITH vt(k, arm, ty, st, pg, msg, ma, mn, rn, rsn, ca, ua,
        |  coa, err) AS (VALUES
        |  (1, 'ok', 'notion_scan', 'running', 40, '', '1', 1, NULL, 0,
        |    'T0', 'T1', NULL, NULL),
        |  (2, 'ok', 'gdrive_scan', 'completed', 100, 'done', NULL, 0,
        |    '5', 1, 'T0', 'T1', 'T2', 'e2'),
        |  (9, 'not_found', NULL, NULL, NULL, NULL, NULL, NULL, NULL,
        |    NULL, NULL, NULL, NULL, NULL))
        |SELECT d.doc_id, CAST(v.k AS INT) AS k, v.arm, v.ty AS type,
        |  v.st AS status, CAST(v.pg AS INT) AS progress,
        |  v.msg AS message, v.ma AS m_a, CAST(v.mn AS INT) AS meta_n,
        |  v.rn AS r_n, CAST(v.rsn AS INT) AS res_n,
        |  v.ca AS created_at, v.ua AS updated_at,
        |  v.coa AS completed_at, v.err AS error,
        |  CASE WHEN v.arm = 'not_found' THEN 'Job t' || d.doc_id ||
        |    ':' || v.k || ' not found' END AS detail
        |FROM documents d CROSS JOIN vt v""".stripMargin,
    "q141_search_health" ->
      // both probes fail soft into the unhealthy arm (neo4j's own
      // health_check swallows driver errors); the error shape is the
      // route's except arm, dead for driver failures
      """WITH vh(k, st, sc, sq, sn, so, msg) AS (VALUES
        |  (0, 'healthy', 200, true, true, true, NULL),
        |  (1, 'unhealthy', 503, false, true, false, NULL),
        |  (2, 'unhealthy', 503, true, false, false, NULL),
        |  (3, 'error', 503, NULL, NULL, NULL, 'conn refused'))
        |SELECT d.doc_id, CAST(v.k AS INT) AS k, v.st AS status,
        |  CAST(v.sc AS INT) AS status_code,
        |  CAST(v.sq AS BOOLEAN) AS svc_qdrant,
        |  CAST(v.sn AS BOOLEAN) AS svc_neo4j,
        |  CAST(v.so AS BOOLEAN) AS svc_overall, v.msg AS message
        |FROM documents d CROSS JOIN vh v""".stripMargin,
    "q142_service_init" ->
      // database failures are ERROR, the other three UNAVAILABLE;
      // healthy redis still never registers in the services dict
      """WITH vs(k, svc) AS (VALUES
        |  (0, 'database'), (1, 'neo4j'), (2, 'qdrant'), (3, 'redis')),
        |c AS (SELECT d.doc_id, v.svc AS service, v.k,
        |  (d.doc_id + v.k) % 2 = 0 AS ok
        |  FROM documents d CROSS JOIN vs v)
        |SELECT doc_id, service,
        |  CASE WHEN ok THEN 'healthy'
        |       WHEN service = 'database' THEN 'error'
        |       ELSE 'unavailable' END AS status,
        |  CASE WHEN NOT ok THEN 'boom' || k
        |       WHEN service = 'database' THEN 'PostgreSQL connected'
        |       WHEN service = 'neo4j' THEN 'Neo4j connected'
        |       WHEN service = 'qdrant' THEN 'Qdrant connected'
        |       ELSE 'Redis connected' END AS message,
        |  ok AND service <> 'redis' AS registered,
        |  CAST(2 AS BIGINT) AS healthy_n, CAST(4 AS BIGINT) AS total_n
        |FROM c""".stripMargin,
    "q143_llamaparse_wire" ->
      // four endpoint base forms + rstrip; the mime table has no .md
      // arm; legacy/unknown tiers fold to the mode map; Python-or
      // markdown: "" falls through, all-falsy is NULL
      """WITH vw(k, res) AS (VALUES
        |  (0, 'https://h/api/parsing/upload'),
        |  (1, 'https://h/api/v1/parsing/upload'),
        |  (2, 'https://h/api/v1/parsing/upload'),
        |  (3, 'https://h/api/v1/parsing/upload'),
        |  (4, 'https://h/api/v1/parsing/upload'),
        |  (5, 'application/pdf'),
        |  (6, 'application/octet-stream'),
        |  (7, 'text/html'),
        |  (8, 'agentic'),
        |  (9, 'agentic_plus'),
        |  (10, 'balanced'),
        |  (11, 'from content'),
        |  (12, NULL))
        |SELECT d.doc_id, CAST(v.k AS INT) AS k, v.res AS result
        |FROM documents d CROSS JOIN vw v""".stripMargin,
    "q144_rel_canonicalize" ->
      // falsy->RELATES_TO, alias table hits, sanitize-and-member,
      // not-in-set default, and the echo-raw-only-when-different label
      """WITH vc(k, res) AS (VALUES
        |  (0, 'RELATES_TO'),
        |  (1, 'RELATES_TO'),
        |  (2, 'CAUSES'),
        |  (3, 'MITIGATES'),
        |  (4, 'COMPONENT_OF'),
        |  (5, 'COMPONENT_OF'),
        |  (6, 'CONFLICTS_WITH'),
        |  (7, 'RELATES_TO'),
        |  (8, 'Causes'),
        |  (9, 'Reduces Vibration'),
        |  (10, 'Compatible With'))
        |SELECT d.doc_id, CAST(v.k AS INT) AS k, v.res AS result
        |FROM documents d CROSS JOIN vc v""".stripMargin,
    "q145_app_health" ->
      // the UNHEALTHY-neo4j arm does NOT degrade overall status; only
      // the error/timeout arms do
      """WITH vh(k, st, n, q, r, c) AS (VALUES
        |  (0, 'healthy', 'healthy', 'healthy', 'healthy',
        |    'healthy (2 workers)'),
        |  (1, 'healthy', 'unhealthy', 'healthy', 'healthy',
        |    'healthy (2 workers)'),
        |  (2, 'degraded', 'error: boom', 'healthy', 'healthy',
        |    'healthy (2 workers)'),
        |  (3, 'degraded', 'healthy', 'error: qd down', 'healthy',
        |    'healthy (2 workers)'),
        |  (4, 'degraded', 'healthy', 'healthy', 'error: rd down',
        |    'healthy (2 workers)'),
        |  (5, 'degraded', 'healthy', 'healthy', 'healthy',
        |    'no workers running'))
        |SELECT d.doc_id, CAST(v.k AS INT) AS k, v.st AS status,
        |  v.n AS svc_neo4j, v.q AS svc_qdrant, v.r AS svc_redis,
        |  v.c AS svc_celery
        |FROM documents d CROSS JOIN vh v""".stripMargin,
    "q146_compat_scan" ->
      // exact-match arms (cased NOTION falls to both), no unknown-
      // source 400, notion-first partial side-effect on the default
      // call, 400s wrapped as "400: ..." inside 500s
      """WITH vc(k, arm, na, nq, nt, ga, gq, sc, det) AS (VALUES
        |  (0, 'notion', true, true, 'scan_notion_workspace', false,
        |    false, 200, NULL),
        |  (1, 'both', true, true, 'scan_notion_workspace', true,
        |    true, 200, NULL),
        |  (2, 'both', true, true, 'scan_notion_all', true, false,
        |    500, '400: Invalid security level. Must be one of: ' ||
        |    '[''public'', ''client'', ''partner'', ''employee'', ' ||
        |    '''management'']'),
        |  (3, 'gdrive', false, false, NULL, true, false, 500,
        |    '400: Invalid security level. Must be one of: ' ||
        |    '[''public'', ''client'', ''partner'', ''employee'', ' ||
        |    '''management'']'),
        |  (4, 'notion', true, false, NULL, false, false, 500,
        |    '400: Invalid security level. Must be one of: ' ||
        |    '[''public'', ''client'', ''partner'', ''employee'', ' ||
        |    '''management'', ''all'']'),
        |  (5, 'both', true, true, 'scan_notion_workspace', true,
        |    true, 200, NULL))
        |SELECT d.doc_id, CAST(v.k AS INT) AS k, v.arm,
        |  v.na AS notion_attempted, v.nq AS notion_queued,
        |  v.nt AS notion_task, v.ga AS gdrive_attempted,
        |  v.gq AS gdrive_queued, CAST(v.sc AS INT) AS status_code,
        |  v.det AS detail
        |FROM documents d CROSS JOIN vc v""".stripMargin,
    "q147_rel_cleanup" ->
      // the keep-priority ladder as one window: manual flag desc,
      // created_at (missing → '') desc, confidence (missing → 0)
      // desc, id as the pinned stable-sort tiebreak
      """WITH rels AS (SELECT event_id AS id,
        |  'e' || (user_id % 20) AS source_entity_id,
        |  'e' || ((user_id + event_id) % 15) AS target_entity_id,
        |  upper(event_type) AS relationship_type,
        |  event_id % 7 = 0 AS is_verified,
        |  event_id % 11 = 0 AS meta_manual,
        |  CASE WHEN event_id % 5 = 0 THEN NULL
        |       WHEN event_id % 5 = 1 THEN ''
        |       ELSE 'd' || (event_id % 100) END AS meta_document_id,
        |  CASE WHEN event_id % 13 = 0 THEN NULL
        |       ELSE strftime(ts, '%Y-%m-%dT%H:%M:%S') END AS created_at,
        |  CASE WHEN event_id % 17 = 0 THEN NULL
        |       ELSE round(value, 3) END AS confidence_score
        |  FROM events),
        |c AS (SELECT id, source_entity_id, target_entity_id,
        |  relationship_type,
        |  (coalesce(is_verified, false) OR coalesce(meta_manual, false)
        |   OR meta_document_id IS NULL OR meta_document_id = '')
        |    AS is_manual,
        |  COUNT(*) OVER w AS group_size,
        |  ROW_NUMBER() OVER (w ORDER BY
        |    (coalesce(is_verified, false) OR coalesce(meta_manual, false)
        |     OR meta_document_id IS NULL OR meta_document_id = '') DESC,
        |    coalesce(created_at, '') DESC,
        |    coalesce(confidence_score, 0) DESC, id) AS keep_rank
        |  FROM rels
        |  WINDOW w AS (PARTITION BY source_entity_id, target_entity_id,
        |    relationship_type))
        |SELECT *, CASE WHEN group_size = 1 THEN 'untouched'
        |  WHEN keep_rank = 1 THEN 'keep' ELSE 'delete' END AS action
        |FROM c""".stripMargin,
    "q148_backfill_canonical" ->
      // the grouped-mention upsert ladder: validated-by-name first,
      // then exact (name, TYPE), then (name, lowercased type), then
      // mint; '' normalized types miss the CONCEPT-keyed map
      """WITH m AS (SELECT event_id AS mention_id,
        |  CASE event_id % 12 WHEN 0 THEN 'Pump' WHEN 1 THEN '  Pump  '
        |    WHEN 2 THEN 'pump' WHEN 3 THEN 'Valve' WHEN 4 THEN ''
        |    WHEN 5 THEN '   ' WHEN 6 THEN 'Motor' WHEN 7 THEN 'motor'
        |    WHEN 8 THEN 'Sensor' WHEN 9 THEN 'Bearing'
        |    WHEN 10 THEN 'Pump' ELSE 'Valve Seat' END AS text,
        |  CASE event_id % 6 WHEN 0 THEN NULL WHEN 1 THEN ''
        |    WHEN 2 THEN '  ' WHEN 3 THEN 'component'
        |    WHEN 4 THEN 'COMPONENT' ELSE 'Material ' END AS mtype,
        |  CASE WHEN event_id % 10 = 9 THEN 'preset' END
        |    AS canonical_entity_id
        |  FROM events),
        |can AS (SELECT 'c' || n_nationkey AS id,
        |  CASE n_nationkey % 5 WHEN 0 THEN 'Pump' WHEN 1 THEN 'pump'
        |    WHEN 2 THEN 'Valve' WHEN 3 THEN 'Motor'
        |    ELSE 'Widget' END AS name,
        |  CASE n_nationkey % 3 WHEN 0 THEN 'COMPONENT'
        |    WHEN 1 THEN 'component' ELSE 'MATERIAL' END AS ctype,
        |  n_nationkey % 4 = 0 AS is_validated
        |  FROM nation),
        |u AS (SELECT mention_id, trim(text) AS nm,
        |  CASE WHEN mtype IS NULL OR mtype = '' THEN 'CONCEPT'
        |       ELSE upper(trim(mtype)) END AS norm
        |  FROM m WHERE canonical_entity_id IS NULL),
        |g AS (SELECT lower(nm) AS key_name, norm,
        |  arg_min(nm, mention_id) AS disp,
        |  CASE WHEN norm = '' THEN 'CONCEPT' ELSE norm END AS utype
        |  FROM u WHERE nm <> '' GROUP BY 1, 2),
        |v AS (SELECT name, min(id) AS vid FROM can
        |  WHERE is_validated GROUP BY name),
        |eu AS (SELECT name, ctype, min(id) AS uid FROM can
        |  GROUP BY name, ctype),
        |res AS (SELECT g.key_name, g.norm,
        |  coalesce(v.vid, e1.uid, e2.uid,
        |    'ce:' || g.key_name || ':' || g.utype) AS cid,
        |  (v.vid IS NULL AND e1.uid IS NULL AND e2.uid IS NULL)
        |    AS created
        |  FROM g LEFT JOIN v ON v.name = g.disp
        |  LEFT JOIN eu e1 ON e1.name = g.disp AND e1.ctype = g.utype
        |  LEFT JOIN eu e2 ON e2.name = g.disp
        |    AND e2.ctype = lower(g.utype))
        |SELECT u.mention_id, u.nm AS entity_name, u.norm AS entity_type,
        |  CASE WHEN u.norm = '' THEN NULL ELSE res.cid END
        |    AS canonical_id,
        |  CASE WHEN u.norm = '' THEN false ELSE res.created END
        |    AS created,
        |  CASE WHEN u.norm = '' THEN 'unmatched'
        |       ELSE 'assigned' END AS action
        |FROM u JOIN res
        |  ON lower(u.nm) = res.key_name AND u.norm = res.norm
        |WHERE u.nm <> ''
        |UNION ALL
        |SELECT mention_id, nm AS entity_name, norm AS entity_type,
        |  CAST(NULL AS VARCHAR) AS canonical_id, false AS created,
        |  'skipped_blank' AS action
        |FROM u WHERE nm = ''""".stripMargin,
    "q149_rel_type_migrate" ->
      // per-label canonical forms are the q144-verified vocabulary
      // contract; the row mass is data-driven
      """WITH r AS (SELECT event_id AS id,
        |  CASE event_id % 10 WHEN 0 THEN NULL WHEN 1 THEN 'CAUSES'
        |    WHEN 2 THEN 'may cause' WHEN 3 THEN 'located_in'
        |    WHEN 4 THEN 'supports' WHEN 5 THEN 'Conflicts With'
        |    WHEN 6 THEN 'part of' WHEN 7 THEN 'depends_on'
        |    WHEN 8 THEN 'RELATES_TO' ELSE 'uses!' END AS rt
        |  FROM events),
        |mm AS (SELECT id, coalesce(rt, '') AS from_type,
        |  CASE id % 10 WHEN 0 THEN 'RELATES_TO' WHEN 1 THEN 'CAUSES'
        |    WHEN 2 THEN 'CAUSES' WHEN 3 THEN 'COMPONENT_OF'
        |    WHEN 4 THEN 'RESPONSIBLE_FOR' WHEN 5 THEN 'CONFLICTS_WITH'
        |    WHEN 6 THEN 'RELATES_TO' WHEN 7 THEN 'DEPENDS_ON'
        |    WHEN 8 THEN 'RELATES_TO' ELSE 'USES' END AS to_type
        |  FROM r)
        |SELECT id, from_type, to_type,
        |  CASE WHEN from_type = to_type THEN 'already_canonical'
        |       ELSE 'migrated' END AS action
        |FROM mm""".stripMargin,
    "q150_reset_stuck" ->
      """WITH docs AS (SELECT 'D' || doc_id AS id,
        |  CASE doc_id % 6 WHEN 0 THEN 'discovered' WHEN 1 THEN 'processing'
        |    WHEN 2 THEN 'pending_review' WHEN 3 THEN 'processing'
        |    WHEN 4 THEN 'approved' ELSE 'failed' END AS status,
        |  CASE WHEN doc_id % 3 = 0 THEN NULL
        |       ELSE 'T' || doc_id END AS title,
        |  CASE WHEN doc_id % 10 = 7 THEN NULL
        |       ELSE 'doc-' || doc_id END AS name
        |  FROM documents)
        |SELECT id, coalesce(title, name, 'Untitled') AS display_title,
        |  status AS old_status, 'discovered' AS new_status
        |FROM docs WHERE status = 'processing'""".stripMargin,
    "q151_lsh_auto_sizing" ->
      // the sizing law replayed as the integer-exact comparison
      // bands·n ≤ budget·2^k (equivalent to the engine's exact
      // multiplicative descent for p = 1/2); minhash rows floor at 4
      """WITH lv(n) AS (VALUES (500::BIGINT), (2000), (5000), (20000),
        |  (50000), (1000000), (1000000000)),
        |law AS (SELECT n,
        |  min(CASE WHEN 12 * n <= 1000 * (1::BIGINT << kk)
        |    THEN kk END) AS bits,
        |  greatest(4, min(CASE WHEN 4 * n <= 1000 * (1::BIGINT << kk)
        |    THEN kk END)) AS mrows
        |  FROM lv CROSS JOIN generate_series(1, 32) t(kk) GROUP BY n)
        |SELECT d.doc_id, CAST(l.n AS BIGINT) AS n,
        |  CAST(l.bits AS INT) AS band_bits,
        |  CAST(l.mrows AS INT) AS minhash_rows,
        |  l.n > 20000 AS jaccard_capped
        |FROM documents d CROSS JOIN law l""".stripMargin,
    "q152_jaccard_capped" ->
      // both stages of the capped path: df-capped candidate
      // generation (1 < df ≤ 64), then exact Jaccard over the FULL
      // distinct-shingle sets for the surviving pairs
      s"""WITH s AS (SELECT doc_id, unnest($shinglesSql) AS shingle FROM documents),
         |dfc AS (SELECT shingle FROM
         |  (SELECT shingle, COUNT(*) AS df FROM s GROUP BY shingle)
         |  WHERE df > 1 AND df <= 64),
         |kept AS (SELECT s.doc_id, s.shingle FROM s JOIN dfc USING (shingle)),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM kept a JOIN kept b USING (shingle) WHERE a.doc_id < b.doc_id),
         |c AS (SELECT doc_id, COUNT(*) AS n FROM s GROUP BY doc_id),
         |i AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
         |  FROM s a JOIN s b USING (shingle) WHERE a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id)
         |SELECT cand.id_a, cand.id_b, i.n_common,
         |  round(CAST(i.n_common AS DOUBLE)
         |    / CAST(ca.n + cb.n - i.n_common AS DOUBLE), 6) AS jaccard
         |FROM cand JOIN i USING (id_a, id_b)
         |  JOIN c ca ON ca.doc_id = cand.id_a
         |  JOIN c cb ON cb.doc_id = cand.id_b
         |WHERE CAST(i.n_common AS DOUBLE)
         |  / CAST(ca.n + cb.n - i.n_common AS DOUBLE) >= 0.2""".stripMargin,
    // the auto paths' oracles COMPUTE the sizing law over the corpus
    // count (r19 verdict item 2), so these gates hold at every SF —
    // at the gate decade the law lands on q72's/q18's parameters and
    // the sized bodies reduce to them
    "q153_embed_dedup_auto" -> embedDedupLshSizedOracleSql,
    "q154_minhash_auto" -> minhashLshSizedOracleSql,
    "q155_minimal_api" ->
      // constant payloads, handler shapes, %.2f header rendering,
      // the slow-request warning, and the strict 200 ms boundary
      """WITH vm(k, res) AS (VALUES
        |  (0, 'Data Ingestion Portal API'),
        |  (1, 'minimal'),
        |  (2, '/api/documents'),
        |  (3, 'healthy'),
        |  (4, 'skipped'),
        |  (5, 'Not found|http://h/api/x'),
        |  (6, 'Internal server error'),
        |  (7, '12.25ms'),
        |  (8, 'Slow request: POST /api/process took 300.50ms'),
        |  (9, '42.00ms'),
        |  (10, 'false'),
        |  (11, 'Slow request: GET /api/documents took 200.62ms'),
        |  (12, '2.67ms'))
        |SELECT d.doc_id, CAST(v.k AS INT) AS k, v.res AS result
        |FROM documents d CROSS JOIN vm v""".stripMargin,
    "q156_txn_manager" ->
      // success commits; failure rolls back and re-raises the
      // ORIGINAL error; a falsy db raises the decorator's ValueError
      """WITH vt(k, c, r, det) AS (VALUES
        |  (0, true, false, 'ok'),
        |  (1, false, true, 'boom'),
        |  (2, false, false,
        |    'Transaction decorator requires ''db'' parameter'),
        |  (3, true, false, 'ok3'))
        |SELECT d.doc_id, CAST(v.k AS INT) AS k, v.c AS committed,
        |  v.r AS rolled_back, v.det AS detail
        |FROM documents d CROSS JOIN vt v""".stripMargin,
    "q157_fix_entity_types" ->
      // (entity_type or type or '').strip() — whitespace-only is
      // truthy so it never falls through; fixed counts even with no
      // column to write; wrote_* follows dict-key presence
      """WITH m AS (SELECT event_id AS id,
        |  CASE event_id % 14 WHEN 0 THEN 'component'
        |    WHEN 1 THEN 'Component' WHEN 2 THEN 'PERSON'
        |    WHEN 3 THEN 'IssueType' WHEN 4 THEN '  Connector  '
        |    WHEN 5 THEN 'Widget' WHEN 8 THEN '   '
        |    WHEN 11 THEN 'status' WHEN 12 THEN 'degradation'
        |    WHEN 13 THEN 'measurement' WHEN 7 THEN ''
        |    ELSE NULL END AS entity_type,
        |  CASE event_id % 14 WHEN 6 THEN 'Equipment'
        |    WHEN 7 THEN 'Solvent' WHEN 10 THEN ''
        |    ELSE NULL END AS vtype,
        |  CASE WHEN event_id % 14 = 9 THEN event_id % 2 = 0
        |    ELSE true END AS has_et,
        |  CASE WHEN event_id % 14 IN (6, 7, 10) THEN true
        |    ELSE event_id % 3 = 0 END AS has_t
        |  FROM events),
        |c AS (SELECT id, has_et, has_t,
        |  trim(CASE WHEN entity_type IS NOT NULL AND entity_type <> ''
        |         THEN entity_type
        |       WHEN vtype IS NOT NULL AND vtype <> '' THEN vtype
        |       ELSE '' END) AS cur FROM m),
        |x AS (SELECT id, has_et, has_t, cur, lower(cur) AS low,
        |  lower(cur) IN ('person','organization','location','date',
        |    'product','component','technology','chemical','procedure',
        |    'specification','system','measurement','problem',
        |    'condition','state','tool','material','concept','event',
        |    'other') AS prescribed,
        |  CASE lower(cur)
        |    WHEN 'issuetype' THEN 'problem' WHEN 'issue' THEN 'problem'
        |    WHEN 'error' THEN 'problem' WHEN 'symptom' THEN 'problem'
        |    WHEN 'defect' THEN 'problem' WHEN 'failure' THEN 'problem'
        |    WHEN 'hardwareconnection' THEN 'component'
        |    WHEN 'connection' THEN 'component'
        |    WHEN 'connector' THEN 'component'
        |    WHEN 'hardware' THEN 'component'
        |    WHEN 'cleaningagent' THEN 'chemical'
        |    WHEN 'cleaner' THEN 'chemical'
        |    WHEN 'substance' THEN 'chemical'
        |    WHEN 'solvent' THEN 'chemical'
        |    WHEN 'method' THEN 'procedure'
        |    WHEN 'process' THEN 'procedure'
        |    WHEN 'technique' THEN 'procedure'
        |    WHEN 'step' THEN 'procedure'
        |    WHEN 'equipment' THEN 'tool' WHEN 'instrument' THEN 'tool'
        |    WHEN 'device' THEN 'tool'
        |    WHEN 'supply' THEN 'material'
        |    WHEN 'consumable' THEN 'material'
        |    WHEN 'resource' THEN 'material'
        |    WHEN 'status' THEN 'condition'
        |    WHEN 'quality' THEN 'condition'
        |    WHEN 'degradation' THEN 'condition' END AS mapped
        |  FROM c),
        |a AS (SELECT *,
        |  CASE WHEN cur <> '' AND NOT prescribed THEN
        |         CASE WHEN mapped IS NOT NULL THEN 'mapped'
        |           ELSE 'defaulted_unknown' END
        |       WHEN prescribed AND cur <> low THEN 'case_normalized'
        |       WHEN prescribed THEN 'already_valid'
        |       ELSE 'defaulted_missing' END AS action,
        |  CASE WHEN cur <> '' AND NOT prescribed
        |         THEN coalesce(mapped, 'other')
        |       WHEN prescribed THEN low
        |       ELSE 'other' END AS new_type
        |  FROM x)
        |SELECT id, cur AS current_type, new_type, action,
        |  (action <> 'already_valid' AND has_et) AS wrote_entity_type,
        |  (action <> 'already_valid' AND has_t) AS wrote_type
        |FROM a""".stripMargin,
    "q158_provider_requests" ->
      // bodies reconstruct by concatenation (q95 precedent): sanitized
      // prompts mean no JSON escaping can fire. The engine's serde has
      // preserve_order ACTIVE — Anthropic/Voyage keep json! insertion
      // order with appended optionals; Ollama keeps struct declaration
      // order with explicit nulls
      """WITH base AS (SELECT doc_id,
        |  regexp_replace(substr(text, 1, 40), '[^A-Za-z0-9 ]', '', 'g') AS p,
        |  doc_id % 3 AS r,
        |  doc_id % 2 = 0 AS has_sys
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN r = 0 THEN 'https://api.anthropic.com/v1/messages'
        |       WHEN r = 1 THEN 'http://localhost:11434/api/generate'
        |       ELSE 'https://api.voyageai.com/v1/embeddings' END AS path,
        |  CASE WHEN r = 0 THEN
        |    '{"model":"claude-3-5-sonnet","messages":[{"role":"user","content":[{"type":"text","text":"Extract: '
        |    || p || '"}]}],"max_tokens":4096'
        |    || CASE WHEN has_sys THEN ',"system":"extract metadata as json"'
        |            ELSE '' END ||
        |    ',"tools":[{"type":"custom","name":"report_result","input_schema":{"type":"object"}}]}'
        |  WHEN r = 1 THEN
        |    '{"model":"llama3.2","prompt":"Extract: ' || p ||
        |    '","images":null,"format":null,"system":' ||
        |    CASE WHEN has_sys THEN '"extract metadata as json"'
        |         ELSE 'null' END || ',"stream":false}'
        |  ELSE
        |    '{"input":"' || p || '","model":"voyage-3.5"' ||
        |    CASE WHEN has_sys THEN ',"input_type":"document"' ELSE '' END ||
        |    '}'
        |  END AS body
        |FROM base""".stripMargin,
    "q159_duration_parse" ->
      // the reference's duration.rs inline tests as a constant table:
      // micros for the ok arms (date components truncate to micros,
      // H/M round to nanos, S rounds only the fraction), verbatim
      // error strings for the failure arms
      """WITH vd(k, input, ok, micros, err) AS (VALUES
        |  (0, 'P1M', true, 2592000000000, NULL),
        |  (1, 'P1W', true, 604800000000, NULL),
        |  (2, 'P1D', true, 86400000000, NULL),
        |  (3, 'PT2H', true, 7200000000, NULL),
        |  (4, 'PT3M', true, 180000000, NULL),
        |  (5, 'PT4S', true, 4000000, NULL),
        |  (6, 'P1Y2M3W4DT5H6M7S', true, 38898367000000, NULL),
        |  (7, 'P1D1D', true, 172800000000, NULL),
        |  (8, 'P1W1Y', true, 32140800000000, NULL),
        |  (9, 'PT2S1H', true, 3602000000, NULL),
        |  (10, '-P1D', true, -86400000000, NULL),
        |  (11, 'P0D', true, 0, NULL),
        |  (12, 'PT0H0M0S', true, 0, NULL),
        |  (13, 'PT1.5S', true, 1500000, NULL),
        |  (14, 'PT441010.456123S', true, 441010456123, NULL),
        |  (15, 'PT0.000001S', true, 1, NULL),
        |  (16, 'P1.5D', true, 129600000000, NULL),
        |  (17, 'P1.25Y', true, 39420000000000, NULL),
        |  (18, 'P2.75M', true, 7128000000000, NULL),
        |  (19, 'P0.5W', true, 302400000000, NULL),
        |  (20, '-P1.5D', true, -129600000000, NULL),
        |  (21, 'P1.5DT2.5H3.5M4.5S', true, 138814500000, NULL),
        |  (22, 'PT1.1H2.2M3.3S', true, 4095300000, NULL),
        |  (23, '1 day', true, 86400000000, NULL),
        |  (24, '2 DAYS', true, 172800000000, NULL),
        |  (25, '4 HoUrS', true, 14400000000, NULL),
        |  (26, '6 minutes', true, 360000000, NULL),
        |  (27, '8 seconds', true, 8000000, NULL),
        |  (28, '10 milliseconds', true, 10000, NULL),
        |  (29, '12 microseconds', true, 12, NULL),
        |  (30, '1 day 2 hours 3 minutes 4 seconds', true, 93784000000, NULL),
        |  (31, '7 minutes 6 hours 5 days', true, 454020000000, NULL),
        |  (32, '-1 day 2 hours', true, -79200000000, NULL),
        |  (33, '  1  day   2  hours ', true, 93600000000, NULL),
        |  (34, '', false, NULL, 'Empty duration string'),
        |  (35, 'P', false, NULL, 'No components in duration: P'),
        |  (36, 'PT', false, NULL,
        |   'Time part present but no time components in: PT'),
        |  (37, 'PD', false, NULL, 'Expected number in: PD'),
        |  (38, 'PTM', false, NULL, 'Expected number in: PTM'),
        |  (39, 'P1H', false, NULL, 'Invalid unit ''H'' in: P1H'),
        |  (40, 'P1X', false, NULL, 'Invalid unit ''X'' in: P1X'),
        |  (41, 'p1h', false, NULL,
        |   'Duration must start with ''P'' in: p1h'),
        |  (42, 'PT1h', false, NULL, 'Invalid unit ''h'' in: PT1h'),
        |  (43, 'P1D2', false, NULL,
        |   'Missing unit after number ''2'' in: P1D2'),
        |  (44, 'PT1..5S', false, NULL, 'Invalid unit ''.'' in: PT1..5S'),
        |  (45, 'P-1D', false, NULL, 'Expected number in: P-1D'),
        |  (46, '1', false, NULL,
        |   'Invalid human-readable duration format in: 1'),
        |  (47, 'one day', false, NULL, 'Invalid number ''one'' in: one day'),
        |  (48, '1.5 hours', false, NULL,
        |   'Invalid number ''1.5'' in: 1.5 hours'),
        |  (49, '1 year', false, NULL, 'Invalid unit ''year'' in: 1 year'),
        |  (50, '1day', false, NULL,
        |   'Invalid human-readable duration format in: 1day'),
        |  (51, 'P1T2H', false, NULL,
        |   'Missing unit after number ''1'' in: P1T2H'),
        |  (52, 'P1DT2H T3M', false, NULL,
        |   'Expected number in: P1DT2H T3M'))
        |SELECT d.doc_id, CAST(v.k AS INT) AS k, v.input, v.ok,
        |  CAST(v.micros AS BIGINT) AS micros, v.err
        |FROM documents d CROSS JOIN vd v""".stripMargin,
    "q160_evaluate_dump" ->
      // prefix = urlencoded 'd {r}' ':' id truncated to 9 bytes (the
      // exclusive 128-len cap under a 118-byte name); extra ids by
      // source order within prefix-collision groups; yaml by arm
      """WITH b AS (SELECT doc_id,
        |  substr('d%20' || (doc_id % 7) || ':' || doc_id, 1, 9) AS prefix
        |  FROM documents),
        |f AS (SELECT doc_id, prefix,
        |  CASE WHEN COUNT(*) OVER (PARTITION BY prefix) > 1
        |    THEN '.' || (ROW_NUMBER() OVER (PARTITION BY prefix
        |                 ORDER BY doc_id) - 1)
        |    ELSE '' END AS extra
        |  FROM b)
        |SELECT doc_id, prefix,
        |  repeat('s', 118) || '@' || prefix || extra || '.yaml' AS file_name,
        |  CASE WHEN doc_id % 2 = 0 THEN
        |    '---' || chr(10) || 'key: ' || doc_id || chr(10) ||
        |    'exports:' || chr(10) || '  chunks:' || chr(10) ||
        |    CASE CAST(doc_id % 3 AS INT)
        |      WHEN 0 THEN '    - id: 0' || chr(10) ||
        |        '      text: a0' || chr(10) ||
        |        '    - id: 2' || chr(10) || '      text: b2'
        |      WHEN 1 THEN '    - id: 1' || chr(10) ||
        |        '      text: a1' || chr(10) ||
        |        '    - id: 2' || chr(10) || '      text: b2'
        |      ELSE '    - id: 2' || chr(10) || '      text: b2' END
        |  ELSE '---' || chr(10) || 'key: ' || doc_id || chr(10) ||
        |    'error: boom ' || doc_id END AS yaml
        |FROM f""".stripMargin,
    "q161_indexing_status" ->
      // left join of live listing vs tracking: last_* null when never
      // processed; is_logic_current compares stored vs plan fp; a
      // missing live ordinal is the per-row error
      """WITH cur AS (SELECT CAST(doc_id AS VARCHAR) AS source_key,
        |  CASE WHEN doc_id % 11 = 0 THEN NULL
        |       ELSE doc_id % 50 END AS current_ordinal
        |  FROM documents),
        |tr AS (SELECT CAST(doc_id AS VARCHAR) AS source_key,
        |  doc_id % 50 - doc_id % 2 AS last_ordinal,
        |  CASE WHEN doc_id % 5 = 0 THEN 'fpB' ELSE 'fpA' END AS fp,
        |  1700000000000000 + doc_id AS pt
        |  FROM documents WHERE doc_id % 3 <> 0)
        |SELECT c.source_key, t.last_ordinal,
        |  t.pt AS process_time_micros,
        |  (t.fp = 'fpA') AS is_logic_current,
        |  c.current_ordinal,
        |  CASE WHEN c.current_ordinal IS NULL
        |    THEN 'Ordinal is unavailable for the source' END AS err
        |FROM cur c LEFT JOIN tr t USING (source_key)""".stripMargin,
    "q162_schema_build" ->
      // the six schema constants: provider-option variation over one
      // struct plus wrapper/union/root-instruction arms; newlines in
      // the instructions block build with chr(10)
      """WITH vs(k, schema, extra, wrapper) AS (VALUES
        |  (0, '{"type":"object","required":["when"],"properties":{"id":{"description":"A UUID, e.g. 123e4567-e89b-12d3-a456-426614174000","type":"string"},"when":{"description":"A date in YYYY-MM-DD format, e.g. 2025-03-27","type":"string"}},"additionalProperties":false}',
        |   NULL, NULL),
        |  (1, '{"type":"object","required":["when"],"properties":{"id":{"type":"string","format":"uuid"},"when":{"type":"string","format":"date"}},"additionalProperties":false}',
        |   'Instructions for specific fields:' || chr(10) || chr(10) ||
        |   '- when: A date in YYYY-MM-DD format, e.g. 2025-03-27' ||
        |   chr(10) || chr(10) ||
        |   '- id: A UUID, e.g. 123e4567-e89b-12d3-a456-426614174000' ||
        |   chr(10) || chr(10), NULL),
        |  (2, '{"type":"object","required":["id","when"],"properties":{"id":{"description":"A UUID, e.g. 123e4567-e89b-12d3-a456-426614174000","type":["string","null"]},"when":{"description":"A date in YYYY-MM-DD format, e.g. 2025-03-27","type":"string"}},"additionalProperties":false}',
        |   NULL, NULL),
        |  (3, '{"type":"object","required":["value"],"properties":{"value":{"type":"array","items":{"type":"number"},"maxItems":4,"minItems":4}},"additionalProperties":false}',
        |   NULL, 'value'),
        |  (4, '{"oneOf":[{"type":"string"},{"type":"integer"}]}',
        |   NULL, NULL),
        |  (5, '{"type":"array","items":{"type":"integer"},"maxItems":2,"minItems":2}',
        |   'Instructions for specific fields:' || chr(10) || chr(10) ||
        |   '- (root object): A range represented by a list of two ' ||
        |   'positions, start pos (inclusive), end pos (exclusive).' ||
        |   chr(10) || chr(10), NULL))
        |SELECT d.doc_id, CAST(v.k AS INT) AS k, v.schema, v.extra,
        |  v.wrapper
        |FROM documents d CROSS JOIN vs v""".stripMargin,
    "q163_gemini_engine" ->
      // preserve_order payloads reconstruct by concatenation:
      // role-then-parts, systemInstruction appended BEFORE
      // generationConfig, model-then-content on the embed arm
      """WITH base AS (SELECT doc_id,
        |  regexp_replace(substr(text, 1, 40), '[^A-Za-z0-9 ]', '', 'g') AS p,
        |  doc_id % 2 AS r, doc_id % 4 AS r4
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN r = 0 THEN
        |    'https://generativelanguage.googleapis.com/v1beta/models/gemini-2.0-flash:generateContent?key=k'
        |  ELSE
        |    'https://generativelanguage.googleapis.com/v1beta/models/text-embedding-004:embedContent?key=k'
        |  END AS path,
        |  CASE WHEN r = 0 THEN
        |    '{"contents":[{"role":"user","parts":[{"text":"Extract: ' || p ||
        |    '"}]}]'
        |    || CASE WHEN r4 = 0 THEN
        |         ',"systemInstruction":{"parts":[{"text":"extract metadata as json"}]}'
        |       ELSE '' END ||
        |    ',"generationConfig":{"responseMimeType":"application/json","responseSchema":{"type":"object"}}}'
        |  ELSE
        |    '{"model":"text-embedding-004","content":{"parts":[{"text":'
        |    || '"' || p || '"}]}' ||
        |    CASE WHEN r4 = 1 THEN ',"taskType":"RETRIEVAL_DOCUMENT"'
        |         ELSE '' END || '}'
        |  END AS body
        |FROM base""".stripMargin,
    "q164_openai_engine" ->
      // async_openai shapes: messages stream before model, absent
      // options leave no key, the schema rides response_format with
      // strict true
      """WITH base AS (SELECT doc_id,
        |  regexp_replace(substr(text, 1, 40), '[^A-Za-z0-9 ]', '', 'g') AS p,
        |  doc_id % 2 AS r, doc_id % 4 AS r4, doc_id % 8 AS r8
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN r = 0 THEN '/v1/chat/completions'
        |       ELSE '/v1/embeddings' END AS path,
        |  CASE WHEN r = 0 THEN
        |    '{"messages":[' ||
        |    CASE WHEN r4 = 0
        |      THEN '{"role":"system","content":"extract metadata as json"},'
        |      ELSE '' END ||
        |    '{"role":"user","content":"Extract: ' || p ||
        |    '"}],"model":"gpt-4o"' ||
        |    CASE WHEN r8 = 2 THEN
        |      ',"response_format":{"type":"json_schema","json_schema":{"name":"extraction","schema":{"type":"object"},"strict":true}}'
        |    ELSE '' END || '}'
        |  ELSE
        |    '{"model":"text-embedding-3-small","input":"' || p || '"' ||
        |    CASE WHEN r4 = 1 THEN ',"dimensions":256' ELSE '' END || '}'
        |  END AS body
        |FROM base""".stripMargin,
    "q165_tracking_setup" ->
      // grading ladder constants; action strings carry doc-varied
      // table names and the reference's trailing '. '
      """SELECT doc_id,
        |  CASE CAST(doc_id % 6 AS INT)
        |    WHEN 0 THEN 'TO CREATE' WHEN 1 THEN 'READY'
        |    WHEN 2 THEN 'INVALID' WHEN 3 THEN 'TO UPDATE'
        |    WHEN 4 THEN 'TO DELETE' ELSE 'TO CREATE' END AS change_code,
        |  CASE CAST(doc_id % 6 AS INT)
        |    WHEN 0 THEN '[ TO CREATE ]' WHEN 1 THEN '[   READY   ]'
        |    WHEN 2 THEN '[  INVALID  ]' WHEN 3 THEN '[ TO UPDATE ]'
        |    WHEN 4 THEN '[ TO DELETE ]' ELSE '[ TO CREATE ]' END AS box,
        |  CASE CAST(doc_id % 6 AS INT)
        |    WHEN 0 THEN 'Create the tracking table: t_' || doc_id || '. '
        |    WHEN 1 THEN ''
        |    WHEN 2 THEN 'Rename legacy tracking tables: old_' || doc_id
        |      || '. '
        |    WHEN 3 THEN 'Update the tracking table. '
        |    WHEN 4 THEN 'Drop existing tracking table: t_' || doc_id ||
        |      '. |Delete source IDs: 3, 7. '
        |    ELSE 'Create the tracking table: t_' || doc_id || '. '
        |  END AS actions
        |FROM documents""".stripMargin,
    "q166_table_setup" ->
      // the grading ladder's action text: two-space joins, the Create
      // block's embedded newlines via chr(10)
      """SELECT doc_id,
        |  CASE CAST(doc_id % 5 AS INT)
        |    WHEN 0 THEN 'TO CREATE' WHEN 1 THEN 'READY'
        |    WHEN 2 THEN 'TO UPDATE' WHEN 3 THEN 'TO CREATE'
        |    ELSE 'TO DELETE' END AS change_code,
        |  CASE CAST(doc_id % 5 AS INT)
        |    WHEN 0 THEN 'Create table:' || chr(10) ||
        |      '  key columns: id bigint' || chr(10) ||
        |      '  value columns: c' || doc_id || ' text' || chr(10)
        |    WHEN 1 THEN ''
        |    WHEN 2 THEN 'Delete column from table: old' || doc_id ||
        |      '|Add / update columns in table: new' || doc_id || ' jsonb'
        |    WHEN 3 THEN 'Drop table|Create table:' || chr(10) ||
        |      '  key columns: id bigint' || chr(10) ||
        |      '  value columns: c' || doc_id || ' text' || chr(10)
        |    ELSE 'Drop table'
        |  END AS actions
        |FROM documents""".stripMargin,
    "q167_setup_metadata" ->
      // three stages bump to version 3 with one dedup (2 staged
      // changes); commit clears staging and the odd residue drops the
      // version row; a stale stage is the CONFLICT error
      """SELECT doc_id,
        |  CAST(3 AS BIGINT) AS staged_version,
        |  2 AS staged_n,
        |  CASE WHEN doc_id % 2 = 1 THEN NULL ELSE '3' END AS final_version,
        |  '{"v":"b' || doc_id || '"}' AS target_state,
        |  0 AS final_staging_n,
        |  'seen newer version in the metadata table' AS conflict_err
        |FROM documents""".stripMargin,
    "q168_target_ids" ->
      // the assignment ladder: fresh / full reuse / partial bump /
      // user-flip / mixed ambiguity (new id, REUSED schema version)
      """WITH b AS (SELECT doc_id, CAST(doc_id % 9 AS INT) AS last,
        |  CAST(doc_id % 5 AS INT) AS r FROM documents)
        |SELECT doc_id,
        |  CASE r WHEN 0 THEN last + 1 WHEN 1 THEN 5 WHEN 2 THEN 5
        |    ELSE last + 1 END AS target_id,
        |  CASE r WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 4
        |    WHEN 3 THEN 4 ELSE 2 END AS schema_version,
        |  CASE r WHEN 0 THEN 1 WHEN 1 THEN 3 WHEN 2 THEN 4
        |    WHEN 3 THEN 4 ELSE 3 END AS max_schema_version,
        |  CASE r WHEN 1 THEN last WHEN 2 THEN last
        |    ELSE last + 1 END AS new_last
        |FROM b""".stripMargin,
    "q169_value_decode" ->
      // canonical decode shapes: chrono TimeDelta display for both
      // grammars, naive datetime assuming UTC, the serde as_i64 error
      // text, the union bad-tag panic message
      """SELECT doc_id, doc_id AS id,
        |  regexp_replace(substr(text, 1, 40), '[^A-Za-z0-9 ]', '', 'g')
        |    AS note,
        |  CASE WHEN doc_id % 2 = 0 THEN 'P1D' ELSE 'P1DT7200S' END
        |    AS delta,
        |  '2024-03-07T01:02:03Z' AS when_utc,
        |  'invalid int64 value 5.5' AS int_err,
        |  'called `Option::unwrap()` on a `None` value' AS union_panic
        |FROM documents""".stripMargin,

    "q170_legacy_ingest" ->
      // legacy notion ingestion: 7-day-cutoff filter, notion_{id}
      // identity, sha256 hash, Department-key short-circuit, parent
      // title scan in list order (.title() casing), truthy-Category
      // tag append, access map with unknown→0, manual-review fork
      s"""$legacyPagesOracleSql
        |SELECT 'notion_' || page_id AS id, sha256(content) AS content_hash,
        |  coalesce(title, 'Untitled') AS title, author, 'notion' AS source,
        |  page_id AS source_id, created_time AS created_at,
        |  last_edited AS updated_at, department, tags, security_level,
        |  access_level, 'pending_review' AS status,
        |  false AS has_ingested_at
        |FROM p WHERE last_edited > '2025-08-05'""".stripMargin,

    "q171_legacy_points" ->
      // legacy qdrant point render: {doc}_chunk_{n} ids, payload
      // columns in the script's insertion order, chunk_{n} location
      s"""$legacyPagesOracleSql
        |SELECT 'notion_' || page_id || '_chunk_' || n AS point_id,
        |  'notion_' || page_id AS document_id, n AS chunk_number,
        |  substr(content, 1, 40) || ' #' || n AS text,
        |  coalesce(title, 'Untitled') AS title, 'notion' AS source,
        |  department, tags, security_level, access_level,
        |  created_time AS created_at, 'chunk_' || n AS location
        |FROM p CROSS JOIN (SELECT CAST(unnest(generate_series(0, 2)) AS BIGINT) AS n)""".stripMargin,

    "q172_cli_ls_eval" ->
      // cocoindex CLI: ls [+] missing-setup marker + evaluate's
      // eval_{ns_}{flow}_{ts} default dir (empty ns drops the _)
      """SELECT 'flow_' || doc_id AS flow,
        |  CASE WHEN doc_id % 2 = 0 THEN 'flow_' || doc_id
        |    ELSE 'flow_' || doc_id || ' [+]' END AS ls_line,
        |  'eval_' ||
        |  CASE WHEN doc_id % 3 = 0 THEN ''
        |    ELSE 'ns' || (doc_id % 3) || '_' END ||
        |  'flow_' || doc_id || '_250814_120000' AS eval_dir
        |FROM documents""".stripMargin,

    "q173_cli_stats_line" ->
      // UpdateStats Display: FAILED / NO CHANGE / processed segments
      // joined '; ' (concat_ws null-skip), else 'No changes'; plus the
      // live updater's {flow}.{source} ({kind}): report frame
      """WITH c AS (SELECT doc_id,
        |  CASE WHEN doc_id % 5 = 0 THEN doc_id % 3 ELSE 0 END AS n_err,
        |  doc_id % 4 AS n_nc, doc_id % 3 AS n_ins,
        |  CASE WHEN doc_id % 7 = 0 THEN 2 ELSE 0 END AS n_del,
        |  CASE WHEN doc_id % 6 = 0 THEN 1 ELSE 0 END AS n_upd,
        |  CASE WHEN doc_id % 11 = 0 THEN 4 ELSE 0 END AS n_rep
        |  FROM documents),
        |m AS (SELECT doc_id, concat_ws('; ',
        |  CASE WHEN n_err > 0 THEN n_err || ' source rows FAILED' END,
        |  CASE WHEN n_nc > 0 THEN n_nc || ' source rows NO CHANGE' END,
        |  CASE WHEN n_ins + n_del + n_upd + n_rep > 0 THEN
        |    (n_ins + n_del + n_upd + n_rep) || ' source rows processed (' ||
        |    n_ins || ' ADDED, ' || n_del || ' REMOVED, ' ||
        |    n_upd || ' UPDATED, ' || n_rep ||
        |    ' REPROCESSED on flow change)' END) AS msg
        |  FROM c)
        |SELECT doc_id,
        |  CASE WHEN msg = '' THEN 'No changes' ELSE msg END AS stats_line,
        |  'f' || (doc_id % 3) || '.s' || (doc_id % 2) || ' (' ||
        |  CASE doc_id % 3 WHEN 0 THEN 'batch update'
        |    WHEN 1 THEN 'change stream' ELSE 'interval refresh' END ||
        |  '): ' || CASE WHEN msg = '' THEN 'No changes' ELSE msg END
        |  AS report_line
        |FROM m""".stripMargin,

    "q174_ivf_assign" ->
      // incremental IVF ingest: delta vectors (vec_id % 17 = 3)
      // assign to the max-cosine label-mean centroid of the existing
      // rest; ties break to the lowest label
      s"""WITH ex AS (SELECT * FROM embeddings WHERE vec_id % 17 <> 3),
         |de AS (SELECT * FROM embeddings WHERE vec_id % 17 = 3),
         |comps AS (SELECT label, dim, avg(v) AS c FROM (
         |          SELECT label,
         |          unnest(generate_series(1, len(embedding))) AS dim,
         |          unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS v
         |          FROM ex) GROUP BY label, dim),
         |cents AS (SELECT label, list(c ORDER BY dim) AS centroid
         |          FROM comps GROUP BY label),
         |sc AS (SELECT d.vec_id, c.label,
         |       ${cosSql("d.embedding", "c.centroid")} AS cos
         |       FROM de d CROSS JOIN cents c),
         |r AS (SELECT vec_id, label, cos, row_number() OVER
         |      (PARTITION BY vec_id ORDER BY cos DESC, label) AS rn
         |      FROM sc)
         |SELECT vec_id, label, round(cos, 6) AS score
         |FROM r WHERE rn = 1""".stripMargin,

    "q175_ivf_drift" ->
      // post-ingest drift census: means over existing + assigned
      // delta, then per stored label how many existing vectors'
      // nearest centroid moved (threshold 0: any movement flags)
      s"""WITH ex AS (SELECT * FROM embeddings WHERE vec_id % 17 <> 3),
         |de AS (SELECT * FROM embeddings WHERE vec_id % 17 = 3),
         |comps AS (SELECT label, dim, avg(v) AS c FROM (
         |          SELECT label,
         |          unnest(generate_series(1, len(embedding))) AS dim,
         |          unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS v
         |          FROM ex) GROUP BY label, dim),
         |cents AS (SELECT label, list(c ORDER BY dim) AS centroid
         |          FROM comps GROUP BY label),
         |dsc AS (SELECT d.vec_id, c.label,
         |        ${cosSql("d.embedding", "c.centroid")} AS cos
         |        FROM de d CROSS JOIN cents c),
         |dassign AS (SELECT vec_id, label FROM (
         |        SELECT vec_id, label, row_number() OVER
         |        (PARTITION BY vec_id ORDER BY cos DESC, label) AS rn
         |        FROM dsc) WHERE rn = 1),
         |un AS (SELECT vec_id, label, embedding FROM ex
         |       UNION ALL
         |       SELECT d.vec_id, a.label, d.embedding
         |       FROM de d JOIN dassign a USING (vec_id)),
         |ucomps AS (SELECT label, dim, avg(v) AS c FROM (
         |          SELECT label,
         |          unnest(generate_series(1, len(embedding))) AS dim,
         |          unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS v
         |          FROM un) GROUP BY label, dim),
         |ucents AS (SELECT label, list(c ORDER BY dim) AS centroid
         |          FROM ucomps GROUP BY label),
         |esc AS (SELECT e.vec_id, e.label AS stored, c.label AS cand,
         |        ${cosSql("e.embedding", "c.centroid")} AS cos
         |        FROM ex e CROSS JOIN ucents c),
         |near AS (SELECT vec_id, stored, cand FROM (
         |        SELECT vec_id, stored, cand, row_number() OVER
         |        (PARTITION BY vec_id ORDER BY cos DESC, cand) AS rn
         |        FROM esc) WHERE rn = 1)
         |SELECT stored AS label, count(*) AS n_vectors,
         |  CAST(sum(CASE WHEN cand <> stored THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_moved,
         |  round(CAST(sum(CASE WHEN cand <> stored THEN 1 ELSE 0 END)
         |    AS DOUBLE) / count(*), 6) AS moved_frac,
         |  CAST(sum(CASE WHEN cand <> stored THEN 1 ELSE 0 END)
         |    AS DOUBLE) / count(*) > 0.0 AS needs_recluster
         |FROM near GROUP BY stored""".stripMargin,

    "q176_neardup_groups" -> neardupGroupsOracleSql,

    // the SAME oracle verbatim: q223 computes the identical
    // min-reachable-id law via large-star/small-star contraction —
    // the gate is the two algorithms' agreement on the real graph
    "q223_cc_star" -> neardupGroupsOracleSql,

    "q224_keep_best" ->
      // quality-aware representative: longest member per component
      // (token count desc, id asc, row_number = 1) — the same walk
      // CTEs as q176/q223 plus one windowed keep. The token count
      // coalesces NULL text to '' (n_tokens 0, never NULL) to match
      // the Spark face exactly — lower(NULL) would otherwise yield a
      // NULL count that ranks BELOW 0 and flips the winner in a
      // group mixing NULL-text and empty-text docs (r17 review
      // pass 3)
      s"""$neardupWalkCtesSql,
         |comp AS (SELECT id AS doc_id, min(comp) AS component
         |         FROM walk GROUP BY id),
         |sc AS (SELECT doc_id, $coalescedTokenCountSql AS n_tokens
         |       FROM documents)
         |SELECT c.doc_id, c.component, s.n_tokens,
         |  row_number() OVER (PARTITION BY c.component
         |    ORDER BY s.n_tokens DESC, c.doc_id ASC) = 1 AS keep
         |FROM comp c JOIN sc s ON c.doc_id = s.doc_id""".stripMargin,

    "q225_split_leakage" ->
      // near-dup candidate pairs straddling the per-document split
      // bands — the q18 pair CTE joined twice against the SAME
      // splitCaseSql law q177 assigns (one definition, pass 5)
      s"""WITH p AS ($minhashLshOracleSql),
         |s AS (SELECT doc_id, $splitCaseSql AS split FROM documents)
         |SELECT p.id_a, p.id_b, sa.split AS label_a, sb.split AS label_b
         |FROM p JOIN s sa ON p.id_a = sa.doc_id
         |JOIN s sb ON p.id_b = sb.doc_id
         |WHERE sa.split <> sb.split""".stripMargin,

    "q226_group_sizes" ->
      // cluster-size histogram over the q176 component labels
      s"""$neardupWalkCtesSql,
         |comp AS (SELECT id, min(comp) AS component FROM walk
         |         GROUP BY id),
         |sizes AS (SELECT component, count(*) AS n_members FROM comp
         |          GROUP BY component)
         |SELECT n_members, count(*) AS n_groups,
         |  CAST(sum(n_members) AS BIGINT) AS n_docs
         |FROM sizes GROUP BY n_members ORDER BY n_members""".stripMargin,

    "q227_nulltext_groups" ->
      // the q176 walk fragment VERBATIM, re-pointed at the
      // adversarial NULL-text view: zero-shingle docs (NULL / empty /
      // whitespace / stopword-only text) produce no signature rows →
      // singletons; any engine-side divergence on NULL text
      // hash-mismatches here
      s"""${neardupWalkCtesSqlOver(nullTextFromSql)}
         |SELECT id AS doc_id, min(comp) AS component,
         |  min(comp) = id AS is_representative
         |FROM walk GROUP BY id""".stripMargin,

    "q228_nulltext_keep_best" ->
      // the q224 keep law over the adversarial view — the
      // coalesce-BOTH-sides count convention under real NULL text
      s"""${neardupWalkCtesSqlOver(nullTextFromSql)},
         |comp AS (SELECT id AS doc_id, min(comp) AS component
         |         FROM walk GROUP BY id),
         |sc AS (SELECT doc_id, $coalescedTokenCountSql AS n_tokens
         |       FROM $nullTextFromSql)
         |SELECT c.doc_id, c.component, s.n_tokens,
         |  row_number() OVER (PARTITION BY c.component
         |    ORDER BY s.n_tokens DESC, c.doc_id ASC) = 1 AS keep
         |FROM comp c JOIN sc s ON c.doc_id = s.doc_id""".stripMargin,

    "q229_nulltext_rank" ->
      // one coalesced count per fragment family + a per-language
      // top-3 window — the "NULL count ranks below 0" winner-flip
      // class, executed
      s"""WITH adv AS (SELECT * FROM $nullTextFromSql),
         |c AS (SELECT doc_id, lang,
         |  CAST(coalesce(len($toksSql), 0) AS BIGINT) AS n_bm25,
         |  CAST(coalesce(len($allToksSql), 0) AS BIGINT) AS n_all,
         |  CAST(coalesce(len($rawWordsSql), 0) AS BIGINT) AS n_words,
         |  CAST(coalesce(len($shinglesSql), 0) AS BIGINT) AS n_shingles
         |  FROM adv),
         |r AS (SELECT *, row_number() OVER (PARTITION BY lang
         |  ORDER BY n_all DESC, doc_id ASC) AS rnk FROM c)
         |SELECT doc_id, lang, n_bm25, n_all, n_words, n_shingles,
         |  CAST(rnk AS BIGINT) AS rnk
         |FROM r WHERE rnk <= 3""".stripMargin,

    "q230_unimax_alloc" ->
      // the UniMax waterfill law replayed with the identical double
      // operation order: per-language token roll-up -> (capacity asc,
      // lang asc nulls last) rank/prefix/level -> first boundary row
      // -> theta; rows before the boundary keep capacity, the rest
      // take theta; rounding only at the output boundary
      s"""WITH per AS (SELECT lang,
         |  CAST(sum($coalescedTokenCountSql) AS DOUBLE) AS n_tokens
         |  FROM documents GROUP BY lang),
         |c AS (SELECT lang, n_tokens, n_tokens * 2.0 AS capacity
         |  FROM per),
         |r AS (SELECT *,
         |  row_number() OVER (ORDER BY capacity, lang NULLS LAST)
         |    AS rk,
         |  coalesce(sum(capacity) OVER (ORDER BY capacity, lang
         |    NULLS LAST ROWS BETWEEN UNBOUNDED PRECEDING AND
         |    1 PRECEDING), 0.0) AS pfx,
         |  count(*) OVER () AS n FROM c),
         |t AS (SELECT *,
         |  (30000.0 - pfx) / CAST(n - rk + 1 AS DOUBLE) AS tl
         |  FROM r),
         |bd AS (SELECT *, min(CASE WHEN capacity >= tl THEN rk END)
         |  OVER () AS brk FROM t),
         |th AS (SELECT *, max(CASE WHEN rk = brk THEN tl END)
         |  OVER () AS theta FROM bd)
         |SELECT lang, CAST(n_tokens AS BIGINT) AS n_tokens,
         |  round(capacity, 6) AS capacity,
         |  round(CASE WHEN brk IS NULL OR rk < brk THEN capacity
         |    ELSE theta END, 6) AS allocation,
         |  round(CASE WHEN n_tokens > 0 THEN
         |    (CASE WHEN brk IS NULL OR rk < brk THEN capacity
         |     ELSE theta END) / n_tokens END, 6) AS epochs
         |FROM th ORDER BY lang""".stripMargin,

    "q231_multilingual_draw" ->
      // q230's waterfill chain (budget = the ROUNDED allocation, as
      // the Spark face consumes it) feeding the per-language
      // three-arm whole/boundary/drop selection over floor(pr*10)
      // token-count deciles
      s"""WITH d AS (SELECT doc_id, lang,
         |  $coalescedTokenCountSql AS n_toks FROM documents),
         |bnd AS (SELECT *, CAST(floor(percent_rank() OVER (
         |  PARTITION BY lang ORDER BY n_toks, doc_id) * 10) AS INT)
         |  AS band FROM d),
         |per AS (SELECT lang, CAST(sum(n_toks) AS DOUBLE) AS n_tokens
         |  FROM d GROUP BY lang),
         |c AS (SELECT lang, n_tokens, n_tokens * 2.0 AS capacity
         |  FROM per),
         |r AS (SELECT *,
         |  row_number() OVER (ORDER BY capacity, lang NULLS LAST)
         |    AS rk,
         |  coalesce(sum(capacity) OVER (ORDER BY capacity, lang
         |    NULLS LAST ROWS BETWEEN UNBOUNDED PRECEDING AND
         |    1 PRECEDING), 0.0) AS pfx,
         |  count(*) OVER () AS n FROM c),
         |t AS (SELECT *,
         |  (30000.0 - pfx) / CAST(n - rk + 1 AS DOUBLE) AS tl
         |  FROM r),
         |bd AS (SELECT *, min(CASE WHEN capacity >= tl THEN rk END)
         |  OVER () AS brk FROM t),
         |th AS (SELECT *, max(CASE WHEN rk = brk THEN tl END)
         |  OVER () AS theta FROM bd),
         |bud AS (SELECT lang,
         |  round(CASE WHEN brk IS NULL OR rk < brk THEN capacity
         |    ELSE theta END, 6) AS budget FROM th),
         |bt AS (SELECT lang, band, sum(n_toks) AS bt FROM bnd
         |  GROUP BY lang, band),
         |cum AS (SELECT *, coalesce(sum(bt) OVER (PARTITION BY lang
         |  ORDER BY band DESC ROWS BETWEEN UNBOUNDED PRECEDING AND
         |  1 PRECEDING), 0) AS bfr FROM bt),
         |j AS (SELECT bnd.doc_id, bnd.lang, bnd.band, bnd.n_toks,
         |  cum.bt, cum.bfr, bud.budget
         |  FROM bnd JOIN cum USING (lang, band)
         |  JOIN bud USING (lang)),
         |run AS (SELECT *, sum(n_toks) OVER (PARTITION BY lang, band
         |  ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND
         |  CURRENT ROW) AS rn FROM j)
         |SELECT doc_id, lang, band, n_toks,
         |  CASE WHEN bfr + bt <= budget THEN TRUE
         |       WHEN bfr < budget THEN bfr + rn <= budget
         |       ELSE FALSE END AS selected
         |FROM run
         |UNION ALL
         |SELECT doc_id, lang, band, n_toks, FALSE AS selected
         |FROM bnd WHERE lang IS NULL""".stripMargin,

    // keep-first paragraph law over the synthesized layout: split
    // on blank-line runs, trimmed identity, min-doc-id owner keeps,
    // blanks never convict, null-id docs keep everything (r19: the
    // `doc_id <= owner` comparison alone yields NULL → silently
    // excluded AND uncounted — the vanished-but-uncounted class the
    // Spark face's explicit isNull arm closes; q233 makes the arm
    // executable by nulling every 11th id), survivors string_agg in
    // (position, text) order — ONE body (paragraphDedupOracleSql)
    // for both gates, the shared-fragment discipline
    "q232_paragraph_dedup" ->
      paragraphDedupOracleSql(paragraphLayoutSql),

    "q233_paragraph_dedup_nullid" ->
      paragraphDedupOracleSql(
        s"""SELECT CASE WHEN doc_id % 11 = 0 THEN NULL
           |    ELSE doc_id END AS doc_id, text
           |  FROM ($paragraphLayoutSql)""".stripMargin),

    // the ONE-SHOT q232 law verbatim: the gate passes iff the
    // three-snapshot merged-owner application equals it
    "q234_paragraph_owners_merge" ->
      paragraphDedupOracleSql(paragraphLayoutSql),

    "q177_training_mix" -> {
      import operators.Sampling.thresholdHex
      // deterministic stratified sample + split banding: the same
      // md5-slice hex comparisons, thresholds baked as literals; the
      // split CASE is the shared splitCaseSql q225's audit replays
      s"""SELECT doc_id, lang,
         |  $splitCaseSql AS split
         |FROM documents
         |WHERE substr(md5('mix1:' || doc_id), 1, 8) <
         |  CASE lang WHEN 'de' THEN '${thresholdHex(0.25)}'
         |    WHEN 'en' THEN '${thresholdHex(0.5)}'
         |    ELSE '${thresholdHex(0.1)}' END""".stripMargin
    },

    "q178_contamination" ->
      // cross-corpus overlap: train (doc_id % 5 <> 0) vs benchmark
      // (doc_id % 5 = 0) exact shingle Jaccard at 0.2
      s"""WITH s AS (SELECT doc_id, unnest($shinglesSql) AS shingle FROM documents),
         |tr AS (SELECT * FROM s WHERE doc_id % 5 <> 0),
         |be AS (SELECT * FROM s WHERE doc_id % 5 = 0),
         |ct AS (SELECT doc_id, COUNT(*) AS n FROM tr GROUP BY doc_id),
         |cb AS (SELECT doc_id, COUNT(*) AS n FROM be GROUP BY doc_id),
         |i AS (SELECT t.doc_id AS train_id, b.doc_id AS bench_id,
         |      COUNT(*) AS n_common
         |      FROM tr t JOIN be b USING (shingle)
         |      GROUP BY t.doc_id, b.doc_id)
         |SELECT train_id, bench_id, n_common,
         |round(CAST(n_common AS DOUBLE) /
         |  CAST(ct.n + cb.n - n_common AS DOUBLE), 6) AS jaccard
         |FROM i JOIN ct ON ct.doc_id = train_id
         |JOIN cb ON cb.doc_id = bench_id
         |WHERE CAST(n_common AS DOUBLE) /
         |  CAST(ct.n + cb.n - n_common AS DOUBLE) >= 0.2""".stripMargin,

    "q179_quality_signals" -> qualitySignalsOracleSql,


    "q180_c4_clean" ->
      // C4-style line cleaning: >= 3 words per trimmed line, no
      // boilerplate markers; docs with < 5 cleaned words dropped.
      s"""WITH c AS (SELECT doc_id,
         |  list_transform(list_filter(
         |    string_split_regex(coalesce(text, ''), '\r?\n'),
         |    l -> len(list_filter(string_split_regex(trim(l),
         |           '[ \\t\\n\\f\\r]+'), x -> x <> '')) >= 3
         |      AND NOT contains(lower(trim(l)), 'lorem ipsum')
         |      AND NOT contains(trim(l), '{')
         |      AND NOT contains(trim(l), '}')),
         |    l -> trim(l)) AS kept
         |  FROM documents)
         |SELECT doc_id, array_to_string(kept, chr(10)) AS cleaned,
         |  CAST(len(kept) AS BIGINT) AS n_lines_kept
         |FROM c
         |WHERE len(list_filter(string_split_regex(
         |  array_to_string(kept, chr(10)), '[ \\t\\n\\f\\r]+'),
         |  x -> x <> '')) >= 5""".stripMargin,

    "q181_pii_redact" ->
      // The same four-pattern redaction chain over an identically
      // rendered synthetic contact blob (integer-derived text only —
      // no float-to-string divergence between engines).
      """SELECT event_id,
        |regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |  'user' || user_id || '@mail.example.com ip 10.' ||
        |  (user_id % 200) || '.0.' || (event_id % 250) ||
        |  ' phone (555) 010-' ||
        |  lpad(CAST(event_id % 10000 AS VARCHAR), 4, '0') ||
        |  ' ref ' || (user_id * 1000003 + event_id),
        |  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |  '\b\d{1,3}(\.\d{1,3}){3}\b', '<IP>', 'g'),
        |  '\(?\b\d{3}\)?[ \t\n\f\r.-]\d{3}[ \t\n\f\r.-]\d{4}\b', '<PHONE>', 'g'),
        |  '\d{6,}', '<NUM>', 'g') AS redacted
        |FROM events""".stripMargin,

    "q182_temperature_mix" ->
      // f_l = sqrt(n_min / n_l): exact integer min normalizer, one
      // IEEE division + sqrt + round — no order-dependent float sum
      """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
        |m AS (SELECT min(n) AS n_min FROM c)
        |SELECT lang, CAST(n AS BIGINT) AS n,
        |round(sqrt(CAST(n_min AS DOUBLE) / CAST(n AS DOUBLE)), 6)
        |  AS fraction
        |FROM c, m""".stripMargin,

    "q183_temperature_sample" ->
      // the applied mix: the same fractions turned into 8-hex
      // thresholds in SQL (math.round = round-half-away for
      // positives; DuckDB to_hex is uppercase, hence lower())
      """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
        |m AS (SELECT min(n) AS n_min FROM c),
        |f AS (SELECT lang,
        |  round(sqrt(CAST(n_min AS DOUBLE) / CAST(n AS DOUBLE)), 6)
        |    AS fr FROM c, m),
        |t AS (SELECT lang,
        |  CASE WHEN round(fr * 4294967296.0) >= 4294967296 THEN 'g'
        |  ELSE lpad(lower(to_hex(CAST(round(fr * 4294967296.0)
        |    AS BIGINT))), 8, '0') END AS th FROM f)
        |SELECT d.doc_id, d.lang FROM documents d JOIN t USING (lang)
        |WHERE substr(md5('tmix:' || d.doc_id), 1, 8) < t.th""".stripMargin,

    "q184_source_census" ->
      // the q179 battery rolled up per source: exact integer sums
      // (CAST away DuckDB's HUGEINT), single divisions for the ratios
      s"""WITH sig AS ($qualitySignalsOracleSql),
         |c AS (SELECT d.source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN sig.keep THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_kept,
         |  CAST(sum(sig.word_count) AS BIGINT) AS total_words
         |  FROM sig JOIN documents d USING (doc_id)
         |  GROUP BY d.source)
         |SELECT source, n_docs, n_kept,
         |round(CAST(n_kept AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
         |  AS kept_share,
         |total_words,
         |round(CAST(total_words AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
         |  AS mean_words,
         |round(CAST(n_kept AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
         |  >= 0.5 AS source_keep
         |FROM c""".stripMargin,

    "q185_sequence_packing" ->
      // per-shard running token sum (exact ints) chopped at 256;
      // empty docs sit at their boundary (seq_last = seq_first)
      s"""WITH t AS (SELECT doc_id,
         |  CAST(len($allToksSql) AS BIGINT) AS n_tokens,
         |  doc_id % 8 AS shard FROM documents),
         |c AS (SELECT doc_id, shard, n_tokens,
         |  sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |    ROWS UNBOUNDED PRECEDING) AS cum FROM t)
         |SELECT doc_id, CAST(shard AS BIGINT) AS shard, n_tokens,
         |CAST(cum - n_tokens AS BIGINT) AS start,
         |CAST((cum - n_tokens) // 256 AS BIGINT) AS seq_first,
         |CAST(CASE WHEN n_tokens > 0 THEN (cum - 1) // 256
         |  ELSE (cum - n_tokens) // 256 END AS BIGINT) AS seq_last
         |FROM c""".stripMargin,

    "q186_url_normalize" ->
      // same regex chain, 'g'-flagged (Spark regexp_replace is
      // always global); literal replacements only — Java $1 vs RE2 \1
      // replacement syntax never enters
      """WITH r AS (SELECT event_id,
        |  'HTTPS://Example' || (user_id % 50) || '.COM' ||
        |  CASE WHEN event_id % 4 = 0 THEN ':443'
        |    WHEN event_id % 4 = 1 THEN ':8080' ELSE '' END ||
        |  '/Path/' || (event_id % 7) ||
        |  CASE event_id % 5 WHEN 0 THEN '?utm_source=x&q=1'
        |    WHEN 1 THEN '?q=2&utm_campaign=z'
        |    WHEN 2 THEN '/?utm_a=1'
        |    WHEN 3 THEN '#Frag' ELSE '/' END AS u FROM events),
        |nf AS (SELECT event_id, regexp_replace(u, '#.*', '', 'g') AS u
        |  FROM r),
        |bq AS (SELECT event_id, u,
        |  regexp_extract(u, '^[^?]*', 0) AS base,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(regexp_replace(u, '^[^?]*', ''),
        |          '[?&][uU][tT][mM]_[a-zA-Z0-9]*=[^&]*', '', 'g'),
        |        '^&', '?'),
        |      '&+$', ''),
        |    '^[?&]+$', '') AS query FROM nf),
        |sp AS (SELECT event_id, u, query,
        |  lower(regexp_extract(base, '^[^:/?#]+://[^/?#]*', 0))
        |    AS head,
        |  regexp_replace(base, '^[^:/?#]+://[^/?#]*', '') AS path
        |  FROM bq)
        |SELECT event_id,
        |CASE WHEN head LIKE 'http://%'
        |  THEN regexp_replace(head, ':80$', '')
        |  WHEN head LIKE 'https://%'
        |  THEN regexp_replace(head, ':443$', '')
        |  ELSE head END
        |  || regexp_replace(path, '/$', '', 'g') || query AS url_norm,
        |regexp_replace(lower(regexp_extract(u,
        |  '^[^:/?#]+://(?:[^/?#]*@)?([^/?#:@]+)', 1)),
        |  '\.+$', '') AS host,
        |regexp_extract(regexp_replace(lower(regexp_extract(u,
        |  '^[^:/?#]+://(?:[^/?#]*@)?([^/?#:@]+)', 1)),
        |  '\.+$', ''),
        |  '[^.]+\.[^.]+$', 0) AS domain
        |FROM sp""".stripMargin,

    "q187_training_pipeline" -> trainingPipelineOracleSql,

    "q188_winnow_span_pairs" ->
      // winnowed fingerprints (shared CTEs with q61), df-capped
      // (1 < df <= 32) self-join, >= 12 shared sub-cap fingerprints
      s"""WITH $winnowFpsCtes,
         |u AS (SELECT doc_id, unnest(fps) AS fp FROM fp),
         |dfc AS (SELECT fp FROM (SELECT fp, count(*) AS df FROM u
         |  GROUP BY fp) WHERE df > 1 AND df <= 32),
         |k AS (SELECT u.doc_id, u.fp FROM u JOIN dfc USING (fp))
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |count(*) AS n_shared
         |FROM k a JOIN k b USING (fp) WHERE a.doc_id < b.doc_id
         |GROUP BY a.doc_id, b.doc_id HAVING count(*) >= 12""".stripMargin,

    "q189_mix_report" ->
      // exact integer sums per (lang, split) over the pipeline twin.
      // Concatenation, NOT an interpolated stripMargin template: the
      // shared SQL is already stripped once, and a second strip
      // would silently rewrite any future line-leading '||' in it.
      ("WITH p AS (" + trainingPipelineOracleSql + ")\n" +
        "SELECT lang, split, count(*) AS n_docs,\n" +
        "CAST(sum(n_tokens) AS BIGINT) AS total_tokens\n" +
        "FROM p GROUP BY lang, split"),

    "q190_vocab_topk" ->
      // count-desc, token-asc tie-break → the LIMIT slice is
      // deterministic on both engines
      s"""SELECT token, count(*) AS n
         |FROM (SELECT unnest($allToksSql) AS token FROM documents)
         |GROUP BY token ORDER BY n DESC, token ASC LIMIT 100""".stripMargin,

    "q191_ngram_topk" ->
      // non-distinct 2-grams over the same tokenizer; same order law
      s"""WITH t AS (SELECT $allToksSql AS ws FROM documents),
         |g AS (SELECT unnest(list_filter(list_transform(
         |  generate_series(1, greatest(len(ws)-1, 1)),
         |  i -> concat_ws(' ', ws[i], ws[i+1])),
         |  x -> len(string_split(x, ' ')) = 2)) AS gram FROM t)
         |SELECT gram, count(*) AS n FROM g
         |GROUP BY gram ORDER BY n DESC, gram ASC LIMIT 100""".stripMargin,

    "q192_semdedup" ->
      // the q48 comps/cents centroid shape, then the SemDeDup pair
      // rule: dropped iff some same-cluster neighbor at cosine >= τ
      // has strictly lower centroid-cosine (id asc on ties)
      s"""WITH comps AS (SELECT label, dim, avg(v) AS c FROM (
         |          SELECT label,
         |          unnest(generate_series(1, len(embedding))) AS dim,
         |          unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS v
         |          FROM embeddings) GROUP BY label, dim),
         |cents AS (SELECT label, list(c ORDER BY dim) AS centroid
         |          FROM comps GROUP BY label),
         |w AS (SELECT e.vec_id, e.label, e.embedding,
         |      ${cosSql("e.embedding", "centroid")} AS cent_cos
         |      FROM embeddings e JOIN cents USING (label)),
         |beaten AS (SELECT DISTINCT a.vec_id
         |  FROM w a JOIN w b ON a.label = b.label AND a.vec_id <> b.vec_id
         |  WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.30
         |    AND (b.cent_cos < a.cent_cos
         |         OR (b.cent_cos = a.cent_cos AND b.vec_id < a.vec_id)))
         |SELECT w.vec_id, w.label, round(w.cent_cos, 6) AS cent_cos,
         |       (beaten.vec_id IS NULL) AS keep
         |FROM w LEFT JOIN beaten ON w.vec_id = beaten.vec_id""".stripMargin,

    "q193_lm_nll" ->
      (lmNllOracleSql +
        "\nSELECT doc_id, n_bigrams, avg_nll FROM sc"),

    "q194_ppl_buckets" ->
      // percent_rank is pure rank arithmetic — exact rationals, same
      // double on both engines; order keys are the ROUNDED score (so
      // the sort bit-matches) with doc_id as the total-order tie-break
      (lmNllOracleSql + """,
b AS (SELECT sc.doc_id, d.lang, percent_rank() OVER (
      PARTITION BY d.lang
      ORDER BY avg_nll ASC NULLS LAST, sc.doc_id ASC) AS pr
      FROM sc JOIN documents d ON sc.doc_id = d.doc_id)
SELECT doc_id, lang, round(pr, 6) AS pr,
CASE WHEN pr <= 0.3 THEN 'head'
     WHEN pr <= 0.7 THEN 'middle'
     ELSE 'tail' END AS bucket
FROM b"""),

    "q195_dsir_weights" ->
      (dsirWeightsOracleSql +
        "\nSELECT doc_id, n_grams, log_weight FROM w"),

    "q196_dsir_resample" ->
      // deterministic Gumbel noise: u = (md5 24-bit + 0.5)/2^24, a
      // dyadic in (0,1); the order keys are bit-identical doubles.
      // ORDER BY must name g.score: a bare `score` binds to the
      // ROUNDED SELECT alias in DuckDB (alias shadowing), while the
      // Spark path orders by the raw value — near-ties at the k cut
      // would then pick different rows (r16 review pass 10)
      (dsirWeightsOracleSql + s""",
g AS (SELECT doc_id, log_weight +
      -ln(-ln((CAST(${md5HexValSql("'dsir:' || doc_id", 6)} AS DOUBLE)
               + 0.5) / 16777216.0)) AS score
      FROM w)
SELECT doc_id, round(g.score, 6) AS score FROM g
ORDER BY g.score DESC, doc_id ASC LIMIT 100"""),

    "q197_snapshot_dedup" ->
      // the EXACT anti join — the Bloom-pruned Spark path must land
      // on the identical row set (no false negatives by construction,
      // false positives stripped by the exact confirm). NOT EXISTS,
      // not NOT IN: a NULL fingerprint on either side must keep the
      // row new (Spark left_anti semantics), while one NULL in a
      // NOT IN subquery poisons EVERY row to UNKNOWN (r16 review
      // pass 10)
      """WITH f AS (SELECT doc_id,
        |  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint
        |  FROM documents),
        |prior AS (SELECT fingerprint FROM f
        |          WHERE doc_id < 250 OR doc_id % 5 = 0)
        |SELECT doc_id, fingerprint FROM f
        |WHERE doc_id >= 250
        |  AND NOT EXISTS (SELECT 1 FROM prior p
        |                  WHERE p.fingerprint = f.fingerprint)""".stripMargin,

    "q198_balance_cap" ->
      // the one sampling law: md5("{salt}:{id}") 8-hex draw, id-asc
      // tie-break; rank over the ROUNDED... no floats at all here —
      // lexicographic hex order is the numeric order
      """WITH r AS (SELECT doc_id, lang, row_number() OVER (
        |  PARTITION BY lang
        |  ORDER BY substr(md5('bal:' || doc_id), 1, 8) ASC, doc_id ASC)
        |  AS rk FROM documents)
        |SELECT doc_id, lang, CAST(rk AS BIGINT) AS rk FROM r
        |WHERE rk <= 70""".stripMargin,

    "q199_semdedup_lsh" ->
      // the q192 verdict law with q72's LCG-plane LSH banding scoped
      // by the cluster (label) key — candidates, misses and all,
      // replay identically on both engines
      s"""WITH comps AS (SELECT label, dim, avg(v) AS c FROM (
         |          SELECT label,
         |          unnest(generate_series(1, len(embedding))) AS dim,
         |          unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS v
         |          FROM embeddings) GROUP BY label, dim),
         |cents AS (SELECT label, list(c ORDER BY dim) AS centroid
         |          FROM comps GROUP BY label),
         |w AS (SELECT e.vec_id, e.label, e.embedding,
         |      ${cosSql("e.embedding", "centroid")} AS cent_cos
         |      FROM embeddings e JOIN cents USING (label)),
         |proj AS (SELECT vec_id, b,
         |  list_sum(list_transform(generate_series(1, 64),
         |   d -> CAST(embedding[d] AS DOUBLE) *
         |        CAST((1103515245 * (b * 64 + (d - 1)) + 12345) % 2147483648 % 2001 - 1000 AS DOUBLE)
         |        / 1024.0)) AS s
         |  FROM embeddings CROSS JOIN generate_series(0, 35) t(b)),
         |bandsig AS (SELECT vec_id, CAST(floor(b / 3) AS INT) AS band,
         |  string_agg(CASE WHEN s >= 0 THEN '1' ELSE '0' END, '' ORDER BY b) AS bucket
         |  FROM proj GROUP BY vec_id, CAST(floor(b / 3) AS INT)),
         |cand AS (SELECT DISTINCT a.vec_id AS id_a, b2.vec_id AS id_b
         |  FROM bandsig a JOIN bandsig b2 USING (band, bucket)
         |  JOIN embeddings ea ON ea.vec_id = a.vec_id
         |  JOIN embeddings eb ON eb.vec_id = b2.vec_id
         |  WHERE ea.label = eb.label AND a.vec_id < b2.vec_id),
         |beat AS (SELECT DISTINCT CASE WHEN a.cent_cos > b.cent_cos
         |    OR (a.cent_cos = b.cent_cos AND id_a > id_b)
         |    THEN id_a ELSE id_b END AS vec_id
         |  FROM cand JOIN w a ON cand.id_a = a.vec_id
         |            JOIN w b ON cand.id_b = b.vec_id
         |  WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.30)
         |SELECT w.vec_id, w.label, round(w.cent_cos, 6) AS cent_cos,
         |       (beat.vec_id IS NULL) AS keep
         |FROM w LEFT JOIN beat ON w.vec_id = beat.vec_id""".stripMargin,

    // ExactSubstr keep-first law: gram → min-id owner, coverage
    // windows [pos, pos+8) on later docs, survivors re-joined.
    // Zipped unnests pair each position with its gram; docs
    // shorter than 8 tokens produce no g rows and pass untouched.
    // ONE definition (removeSpansOracleSql) shared with q235, whose
    // merged-owner application must equal this one-shot law.
    "q200_remove_spans" -> removeSpansOracleSql,

    "q235_span_owners_merge" -> removeSpansOracleSql,

    // Contrastive-mining tier (q236-q238): labeled-embedding hard
    // negatives / triplets. Label law on BOTH sides: NULL labels and
    // non-64-wide vectors are out of the mining corpus entirely.
    "q236_hard_negatives" ->
      s"""WITH a AS (SELECT vec_id AS anchor_id, embedding AS av, label AS al
        |  FROM embeddings
        |  WHERE vec_id % 50 = 0 AND label IS NOT NULL AND len(embedding) = 64),
        |c AS (SELECT vec_id AS neighbor_id, embedding AS nv, label AS nl
        |  FROM embeddings WHERE label IS NOT NULL AND len(embedding) = 64),
        |s AS (SELECT anchor_id, neighbor_id, ${cosSql("av", "nv")} AS cos
        |  FROM c CROSS JOIN a WHERE al <> nl),
        |r AS (SELECT anchor_id, neighbor_id, cos,
        |  ROW_NUMBER() OVER (PARTITION BY anchor_id ORDER BY cos DESC, neighbor_id) AS rnk
        |  FROM s)
        |SELECT anchor_id, neighbor_id, round(cos, 6) AS score, rnk
        |FROM r WHERE rnk <= 3""".stripMargin,

    "q237_triplets" ->
      s"""WITH a AS (SELECT vec_id AS anchor_id, embedding AS av, label AS al
        |  FROM embeddings
        |  WHERE vec_id % 50 = 0 AND label IS NOT NULL AND len(embedding) = 64),
        |$labeledCorpusCteSql,
        |$tripletFoldCtesSql
        |$tripletSelectSql""".stripMargin,

    // Full-corpus triplets through the SAME candidate front as q238
    // and the SAME rank/fold as q237 — both legs band-colliding, the
    // documented approximate-by-design trade.
    "q251_triplets_lsh" ->
      s"""WITH ${lshCandCtesSql("SELECT 3 AS bits, 12 AS bands")},
        |s AS (SELECT anchor_id, neighbor_id, (ea.label = eb.label) AS is_pos,
        |  ${cosSql("ea.embedding", "eb.embedding")} AS cos
        |  FROM dir JOIN base ea ON dir.anchor_id = ea.vec_id
        |           JOIN base eb ON dir.neighbor_id = eb.vec_id),
        |$tripletRankFoldCtesSql
        |$tripletSelectSql""".stripMargin,

    // Replays the q72 hyperplane signature law (36 bits, 12 bands of
    // 3, dyadic-rational LCG planes) over the LABELED corpus, then
    // symmetrizes each a<b collision into both mining directions.
    "q238_hard_negatives_lsh" -> hardNegLshOracleSql,

    // The auto face: the oracle computes the sizing law over the
    // labeled count (3 bits at the 500-vector gate decade = the fixed
    // face's geometry; 5 bits at sf0.1), so the gate holds at every
    // SF (r19 verdict item 2).
    "q242_hard_negatives_lsh_auto" -> hardNegLshSizedOracleSql,

    // Recall@k of the LSH miner vs the exact full-corpus law: the
    // exact side is the q236 cosine rank without the anchor filter;
    // the approx side is the SIZED LSH body (the law the Spark auto
    // face applies at every SF — r19 verdict item 2); a pair at
    // exact rank r is in the exact top-k for k in [r, 3], found iff
    // its approx rank ≤ k.
    "q245_lsh_recall_audit" -> recallAuditOracleSql(hardNegLshSizedOracleSql),

    // The recall-solved face's audit (r19 verdict item 1): the same
    // audit law with the approx side's geometry jointly solved from
    // the recall curve — the oracle replays the solve, so the ≥ 0.9
    // recall the face promises is hash-checked, not asserted.
    "q247_lsh_recall_face" -> recallAuditOracleSql(hardNegLshRecallOracleSql),

    // Mining a batch against the PERSISTED band-bucket index: with
    // batch = corpus and the index built over the labeled corpus at
    // the q238 geometry, the output equals the fixed face — its
    // oracle, verbatim (the nearDupAgainstSnapshot gate pattern).
    "q248_mining_snapshot" -> hardNegLshOracleSql,

    // The audit at scale: the SAME audit body with the seeded 1/8
    // anchor draw replayed on both sides (exact side sampled, the
    // already-mined sized miner semi-joined to the sample).
    "q249_recall_audit_sampled" ->
      recallAuditOracleSql(hardNegLshSizedOracleSql, Some("q249")),

    // In-batch-negative composition: wave = in-label rank, chunk =
    // wave-partitioned rank / 8 — two windows, replayed verbatim.
    "q250_inbatch_batches" ->
      """WITH b AS (SELECT vec_id AS anchor_id, label,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY label ORDER BY vec_id) - 1 AS BIGINT) AS wave
        |  FROM embeddings WHERE vec_id IS NOT NULL AND label IS NOT NULL),
        |p AS (SELECT anchor_id, label, wave,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY wave ORDER BY label, anchor_id) - 1 AS BIGINT) AS pos
        |  FROM b)
        |SELECT anchor_id, label, wave,
        |  CAST(floor(pos / 8) AS BIGINT) AS chunk,
        |  CAST(pos % 8 AS BIGINT) AS slot FROM p""".stripMargin,

    // The capstone composes three pinned laws from ONE definition
    // each: the q72 LSH pair body, the q176 min-label walk
    // (minWalkCtesSql, over vec_ids), and the q237 triplet rank/fold
    // (tripletFoldCtesSql) — then folds to one release-report row.
    // Margin mean goes through DECIMAL (the q01 float-parity rule).
    "q246_contrastive_capstone" ->
      s"""WITH RECURSIVE ${minWalkCtesSql(
             s"SELECT id_a, id_b FROM ($embedDedupLshOracleSql)",
             "embeddings", "vec_id")},
        |comp AS (SELECT id, min(comp) AS component FROM walk GROUP BY id),
        |a AS (SELECT e.vec_id AS anchor_id, e.embedding AS av, e.label AS al
        |  FROM embeddings e
        |  JOIN comp ON comp.id = e.vec_id AND comp.component = e.vec_id
        |  WHERE e.vec_id % 25 = 0 AND e.label IS NOT NULL AND len(e.embedding) = 64),
        |$labeledCorpusCteSql,
        |$tripletFoldCtesSql,
        |tri AS (SELECT round(round(pos_cos, 6) - round(neg_cos, 6), 6) AS margin
        |  FROM b WHERE pos_id IS NOT NULL AND neg_id IS NOT NULL)
        |SELECT
        |  (SELECT count(*) FROM embeddings) AS n_vectors,
        |  (SELECT count(DISTINCT component) FROM comp) AS n_components,
        |  (SELECT count(*) FROM (SELECT component FROM comp
        |     GROUP BY component HAVING count(*) = 1)) AS n_singletons,
        |  (SELECT count(*) FROM a) AS n_anchors,
        |  (SELECT count(*) FROM tri) AS n_triplets,
        |  (SELECT round(CAST(SUM(CAST(margin AS DECIMAL(20,6))) AS DOUBLE)
        |     / count(*), 6) FROM tri) AS mean_margin""".stripMargin,

    // Seeded uniform draw: md5(anchor ‖ ":" ‖ neighbor ‖ ":" ‖ seed)
    // rank replayed verbatim (the MinHash md5-permutation trick
    // applied to sampling). Anchors = vec_id % 50 = 0; labels
    // non-null on both sides; no vector columns touched.
    "q244_sampled_negatives" ->
      """WITH a AS (SELECT vec_id AS anchor_id, label AS al FROM embeddings
        |  WHERE vec_id % 50 = 0 AND label IS NOT NULL AND vec_id IS NOT NULL),
        |c AS (SELECT vec_id AS neighbor_id, label AS nl FROM embeddings
        |  WHERE label IS NOT NULL AND vec_id IS NOT NULL),
        |d AS (SELECT anchor_id, neighbor_id,
        |  md5(CAST(anchor_id AS VARCHAR) || ':' || CAST(neighbor_id AS VARCHAR) || ':' || 'q244') AS draw
        |  FROM c CROSS JOIN a WHERE al <> nl),
        |r AS (SELECT anchor_id, neighbor_id,
        |  ROW_NUMBER() OVER (PARTITION BY anchor_id ORDER BY draw, neighbor_id) AS rnk
        |  FROM d)
        |SELECT anchor_id, neighbor_id, rnk FROM r WHERE rnk <= 5""".stripMargin,

    // SCD2 history over the events change log: total order per user =
    // (ts, event_id); unchanged event_type compacts (null-safe);
    // timestamps cross the gate as epoch micros (q68 convention).
    "q239_scd2_history" -> scd2OracleSql,

    // Incremental fold of the SAME log in three append-only batches —
    // the gate IS merge-equals-one-shot, so the one-shot oracle
    // serves verbatim (the q234/q235 pattern).
    "q240_scd2_append" -> scd2OracleSql,

    // Half-open [valid_from, valid_to) containment at the cut
    // instant, filtered on the shared SCD2 body's micros columns
    // (epoch_us(2024-01-01T12:00) = 1704110400000000).
    "q241_asof_snapshot" ->
      (s"SELECT * FROM ($scd2OracleSql) WHERE valid_from_us <= 1704110400000000" +
        " AND (valid_to_us IS NULL OR valid_to_us > 1704110400000000)"),

    // The SAME body filtered at both cuts (noon day 1 / noon day 2),
    // full-outer-joined null-safely; the change classification
    // mirrors diffSnapshots' when-ladder.
    "q243_snapshot_diff" ->
      s"""WITH h AS ($scd2OracleSql),
        |b AS (SELECT user_id, 1 AS _b, event_type AS event_type_before FROM h
        |  WHERE valid_from_us <= 1704110400000000
        |    AND (valid_to_us IS NULL OR valid_to_us > 1704110400000000)),
        |a AS (SELECT user_id AS _k2, 1 AS _a, event_type AS event_type_after FROM h
        |  WHERE valid_from_us <= 1704196800000000
        |    AND (valid_to_us IS NULL OR valid_to_us > 1704196800000000)),
        |j AS (SELECT COALESCE(b.user_id, a._k2) AS user_id,
        |  CASE WHEN b._b IS NULL THEN 'added'
        |       WHEN a._a IS NULL THEN 'removed'
        |       WHEN NOT (b.event_type_before IS NOT DISTINCT FROM a.event_type_after)
        |         THEN 'changed' END AS change,
        |  b.event_type_before, a.event_type_after
        |  FROM b FULL OUTER JOIN a ON b.user_id IS NOT DISTINCT FROM a._k2)
        |SELECT * FROM j WHERE change IS NOT NULL""".stripMargin,

    "q201_bpe_merges" ->
      (s"WITH RECURSIVE ${bpeOracleCtes(12)}\n" +
        (1 to 12).map(r =>
          s"SELECT $r AS merge_rank, l AS lhs, r2 AS rhs, " +
            s"l || r2 AS merged, cnt FROM b$r")
          .mkString("\nUNION ALL ")),

    "q202_bpe_encode" ->
      (s"WITH RECURSIVE ${bpeOracleCtes(12)},\n" +
        s"""words AS (SELECT doc_id, unnest($allToksSql) AS word
           |  FROM documents)
           |SELECT doc_id, CAST(sum(len(syms)) AS BIGINT) AS n_subwords,
           |  CAST(count(*) AS BIGINT) AS n_words
           |FROM words JOIN w12 USING (word) GROUP BY doc_id""".stripMargin),

    "q203_snapshot_neardup" ->
      // q18's md5 banding replayed per side (prior/batch), candidate
      // (band, bucket) join, exact Jaccard over the shingle indexes,
      // matches >= 0.5 rolled up per batch doc; one exact-integer
      // division per pair keeps the float bit-identical
      s"""WITH pd AS MATERIALIZED (SELECT doc_id, text FROM documents
         |  WHERE doc_id < 250 OR doc_id % 5 = 0),
         |bd AS MATERIALIZED (SELECT doc_id, text FROM documents
         |  WHERE doc_id >= 250),
         |pe AS MATERIALIZED (SELECT doc_id, unnest($shinglesSql) AS g FROM pd),
         |be AS MATERIALIZED (SELECT doc_id, unnest($shinglesSql) AS g FROM bd),
         |ph AS (SELECT doc_id, k,
         |  MIN(substr(md5(CAST(CAST(floor(k / 4) AS INT) AS VARCHAR) || ':' || g),
         |      CAST(k % 4 AS INT) * 8 + 1, 8)) AS mh
         |  FROM pe CROSS JOIN generate_series(0, 15) t(k) GROUP BY doc_id, k),
         |pb AS (SELECT doc_id, CAST(floor(k / 4) AS INT) AS band,
         |  md5(CAST(CAST(floor(k / 4) AS INT) AS VARCHAR) || '|' ||
         |      string_agg(mh, '|' ORDER BY k)) AS bucket
         |  FROM ph GROUP BY doc_id, CAST(floor(k / 4) AS INT)),
         |bh AS (SELECT doc_id, k,
         |  MIN(substr(md5(CAST(CAST(floor(k / 4) AS INT) AS VARCHAR) || ':' || g),
         |      CAST(k % 4 AS INT) * 8 + 1, 8)) AS mh
         |  FROM be CROSS JOIN generate_series(0, 15) t(k) GROUP BY doc_id, k),
         |bb AS (SELECT doc_id, CAST(floor(k / 4) AS INT) AS band,
         |  md5(CAST(CAST(floor(k / 4) AS INT) AS VARCHAR) || '|' ||
         |      string_agg(mh, '|' ORDER BY k)) AS bucket
         |  FROM bh GROUP BY doc_id, CAST(floor(k / 4) AS INT)),
         |cand AS (SELECT DISTINCT bb.doc_id AS bid, pb.doc_id AS pid
         |  FROM bb JOIN pb USING (band, bucket)),
         |nb AS (SELECT doc_id, count(*) AS n_b FROM be GROUP BY doc_id),
         |np AS (SELECT doc_id, count(*) AS n_p FROM pe GROUP BY doc_id),
         |i AS (SELECT cand.bid, cand.pid, count(*) AS n_common
         |  FROM cand JOIN be ON be.doc_id = cand.bid
         |            JOIN pe ON pe.doc_id = cand.pid AND pe.g = be.g
         |  GROUP BY cand.bid, cand.pid),
         |m AS (SELECT bid, CAST(count(*) AS BIGINT) AS n_matches,
         |    max(j) AS best FROM (
         |  SELECT i.bid, CAST(n_common AS DOUBLE) /
         |    CAST(n_b + n_p - n_common AS DOUBLE) AS j
         |  FROM i JOIN nb ON nb.doc_id = i.bid
         |         JOIN np ON np.doc_id = i.pid)
         |  WHERE j >= 0.5 GROUP BY bid)
         |SELECT bd.doc_id,
         |  coalesce(n_matches, 0) AS n_matches,
         |  round(coalesce(best, 0.0), 6) AS best_jaccard,
         |  coalesce(n_matches > 0, false) AS is_near_dup
         |FROM bd LEFT JOIN m ON m.bid = bd.doc_id""".stripMargin,

    "q204_bpe_packing" ->
      // q202's encode chained into the q187 packing window law —
      // exact integers end to end (cum sums cast out of HUGEINT)
      (s"WITH RECURSIVE ${bpeOracleCtes(12)},\n" +
        s"""words AS (SELECT doc_id, unnest($allToksSql) AS word
           |  FROM documents),
           |enc AS (SELECT doc_id,
           |  CAST(sum(len(syms)) AS BIGINT) AS n_subwords
           |  FROM words JOIN w12 USING (word) GROUP BY doc_id),
           |cm AS (SELECT doc_id, doc_id % 4 AS shard, n_subwords,
           |  sum(n_subwords) OVER (PARTITION BY doc_id % 4
           |    ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
           |  FROM enc)
           |SELECT doc_id, CAST(shard AS BIGINT) AS shard,
           |  n_subwords AS n_tokens,
           |  CAST(cum - n_subwords AS BIGINT) AS start,
           |  CAST((cum - n_subwords) // 512 AS BIGINT) AS seq_first,
           |  CAST(CASE WHEN n_subwords > 0 THEN (cum - 1) // 512
           |    ELSE (cum - n_subwords) // 512 END AS BIGINT) AS seq_last
           |FROM cm""".stripMargin),

    "q205_cms_counts" -> {
      // the same d=3 rows × w=1024 counters, rebuilt relationally:
      // per-(row, bucket) counts; a probe's estimate = min over its
      // three buckets' counts (0 when a bucket is empty)
      def bkt(itemSql: String, i: Int) =
        s"(${md5HexValSql(s"'$i:' || $itemSql", 12)}) % 1024"
      val probeList = (bm25QueryTerms ++ Seq("zzzabsent", "qqqmissing"))
        .map(tm => s"('$tm')").mkString(", ")
      s"""WITH t AS (SELECT unnest($toksSql) AS tok FROM documents),
         |c AS (SELECT CAST(i AS INT) AS i,
         |    CASE CAST(i AS INT) WHEN 0 THEN ${bkt("tok", 0)}
         |      WHEN 1 THEN ${bkt("tok", 1)}
         |      ELSE ${bkt("tok", 2)} END AS b,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM t CROSS JOIN range(0, 3) r(i) GROUP BY 1, 2),
         |p AS (SELECT term FROM (VALUES $probeList) v(term)),
         |pe AS (SELECT term, unnest([0, 1, 2]) AS i,
         |  unnest([${bkt("term", 0)}, ${bkt("term", 1)},
         |          ${bkt("term", 2)}]) AS b FROM p),
         |e AS (SELECT term, CAST(min(coalesce(n, 0)) AS BIGINT) AS est
         |  FROM pe LEFT JOIN c USING (i, b) GROUP BY term),
         |tr AS (SELECT tok AS term, CAST(count(*) AS BIGINT) AS n_true
         |  FROM t GROUP BY tok)
         |SELECT p.term, e.est, coalesce(tr.n_true, 0) AS n_true
         |FROM p JOIN e USING (term) LEFT JOIN tr USING (term)""".stripMargin
    },

    "q206_shard_manifest" ->
      // the q185 token/shard frame rolled up per shard; checksum =
      // bit_xor of hash48("id:n_tokens") — order-insensitive, so the
      // two engines' aggregation orders cannot matter
      s"""WITH t AS (SELECT doc_id,
         |  CAST(len($allToksSql) AS BIGINT) AS n_tokens,
         |  doc_id % 8 AS shard FROM documents)
         |SELECT CAST(shard AS BIGINT) AS shard,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         |  CAST((sum(n_tokens) + 255) // 256 AS BIGINT) AS n_sequences,
         |  bit_xor(${md5HexValSql(
             "COALESCE(CAST(doc_id AS VARCHAR), '') || ':' || CAST(COALESCE(n_tokens, 0) AS VARCHAR)",
             12)}) AS checksum
         |FROM t GROUP BY shard""".stripMargin,

    "q207_group_split" -> {
      import operators.Sampling.thresholdHex
      // q17's pair law at >= 0.5, symmetric closure via the q46
      // recursive-reach shape, min-reachable component, then the
      // threshold-hex split draw on the REPRESENTATIVE id
      s"""WITH RECURSIVE
         |s AS (SELECT doc_id, unnest($shinglesSql) AS shingle FROM documents),
         |c AS (SELECT doc_id, COUNT(*) AS n FROM s GROUP BY doc_id),
         |i AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
         |      FROM s a JOIN s b USING (shingle) WHERE a.doc_id < b.doc_id
         |      GROUP BY a.doc_id, b.doc_id),
         |pr AS (SELECT id_a, id_b FROM i
         |      JOIN c ca ON ca.doc_id = id_a JOIN c cb ON cb.doc_id = id_b
         |      WHERE CAST(n_common AS DOUBLE)
         |        / CAST(ca.n + cb.n - n_common AS DOUBLE) >= 0.5),
         |e AS (SELECT id_a AS s2, id_b AS d FROM pr
         |      UNION SELECT id_b, id_a FROM pr),
         |reach(node, r) AS (
         |  SELECT s2, s2 FROM e
         |  UNION
         |  SELECT reach.node, e.d FROM reach JOIN e ON reach.r = e.s2),
         |m AS (SELECT node, MIN(r) AS comp FROM reach GROUP BY node),
         |g AS (SELECT d.doc_id, coalesce(m.comp, d.doc_id) AS component
         |      FROM documents d LEFT JOIN m ON m.node = d.doc_id)
         |SELECT doc_id, component,
         |  CASE WHEN substr(md5('gsplit:' || CAST(component AS VARCHAR)), 1, 8)
         |         < '${thresholdHex(0.7)}' THEN 'train'
         |       WHEN substr(md5('gsplit:' || CAST(component AS VARCHAR)), 1, 8)
         |         < '${thresholdHex(0.85)}' THEN 'validation'
         |       ELSE 'test' END AS split
         |FROM g""".stripMargin
    },

    "q208_release_manifest" ->
      // the q187 pipeline twin rolled into per-(split, shard)
      // manifests — q206's checksum law on the named subsets.
      // Concatenation, NOT stripMargin, for the shared pipeline SQL
      // (see the q189 editing note).
      ("WITH p AS (" + trainingPipelineOracleSql + ")\n" +
        "SELECT split, shard, CAST(count(*) AS BIGINT) AS n_docs,\n" +
        "CAST(sum(n_tokens) AS BIGINT) AS total_tokens,\n" +
        "CAST((sum(n_tokens) + 255) // 256 AS BIGINT) AS n_sequences,\n" +
        s"bit_xor(${md5HexValSql(
          "COALESCE(CAST(doc_id AS VARCHAR), '') || ':' || CAST(COALESCE(n_tokens, 0) AS VARCHAR)",
          12)}) AS checksum\n" +
        "FROM p GROUP BY split, shard"),

    "q209_sequence_index" ->
      // the q185 window frame exploded per spanned sequence; the
      // in-sequence slice is the same greatest/least integer math
      s"""WITH t AS (SELECT doc_id,
         |  CAST(len($allToksSql) AS BIGINT) AS n_tokens,
         |  doc_id % 8 AS shard FROM documents),
         |c AS (SELECT doc_id, shard, n_tokens,
         |  sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |    ROWS UNBOUNDED PRECEDING) AS cum FROM t),
         |w AS (SELECT doc_id, shard, n_tokens,
         |  CAST(cum - n_tokens AS BIGINT) AS start,
         |  CAST((cum - n_tokens) // 256 AS BIGINT) AS seq_first,
         |  CAST((cum - 1) // 256 AS BIGINT) AS seq_last
         |  FROM c WHERE n_tokens > 0),
         |x AS (SELECT doc_id, shard, n_tokens, start,
         |  unnest(generate_series(seq_first, seq_last)) AS seq FROM w)
         |SELECT CAST(shard AS BIGINT) AS shard, seq, doc_id,
         |  greatest(start, seq * 256) - seq * 256 AS seq_offset,
         |  least(start + n_tokens, (seq + 1) * 256)
         |    - greatest(start, seq * 256) AS n_tokens_in_seq
         |FROM x""".stripMargin,

    "q210_bpe_fertility" ->
      // q202's encode chained into the per-language QA roll-up; one
      // exact integer division per language, rounded at the boundary
      (s"WITH RECURSIVE ${bpeOracleCtes(12)},\n" +
        s"""words AS (SELECT doc_id, unnest($allToksSql) AS word
           |  FROM documents),
           |enc AS (SELECT doc_id,
           |  CAST(sum(len(syms)) AS BIGINT) AS n_subwords,
           |  CAST(count(*) AS BIGINT) AS n_words
           |  FROM words JOIN w12 USING (word) GROUP BY doc_id)
           |SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(n_words) AS BIGINT) AS total_words,
           |  CAST(sum(n_subwords) AS BIGINT) AS total_subwords,
           |  round(CAST(sum(n_subwords) AS DOUBLE)
           |    / CAST(sum(n_words) AS DOUBLE), 6) AS fertility
           |FROM enc JOIN documents d USING (doc_id)
           |GROUP BY d.lang""".stripMargin),

    "q211_boilerplate_lines" -> boilerplateLinesOracleSql,

    "q212_decontaminate" ->
      // q200's coverage-window law with eval-set membership (the
      // doc_id % 5 = 0 side) convicting instead of the min-id owner
      s"""WITH t AS (SELECT doc_id, $allToksSql AS ws FROM documents
         |  WHERE doc_id % 5 <> 0),
         |g AS (SELECT doc_id,
         |  unnest(generate_series(0, len(ws) - 6)) AS pos0,
         |  unnest(list_transform(generate_series(0, len(ws) - 6),
         |    i -> array_to_string(ws[i+1:i+6], ' '))) AS gram
         |  FROM t),
         |e AS (SELECT DISTINCT
         |  unnest(list_transform(generate_series(0, len($allToksSql) - 6),
         |    i -> array_to_string($allToksSql[i+1:i+6], ' '))) AS gram
         |  FROM documents WHERE doc_id % 5 = 0),
         |cov AS (SELECT g.doc_id, list(DISTINCT pos0) AS starts
         |  FROM g JOIN e USING (gram) GROUP BY g.doc_id),
         |r AS (SELECT t.doc_id, ws, coalesce(starts, []) AS starts
         |  FROM t LEFT JOIN cov USING (doc_id)),
         |k AS (SELECT doc_id, ws,
         |  list_filter(generate_series(0, len(ws) - 1),
         |    p -> len(list_filter(starts, s -> s <= p AND p < s + 6)) = 0)
         |    AS kept
         |  FROM r)
         |SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
         |  CAST(len(ws) - len(kept) AS BIGINT) AS n_dropped,
         |  coalesce(array_to_string(list_transform(kept, p -> ws[p+1]), ' '),
         |    '') AS clean_text
         |FROM k""".stripMargin,

    "q213_domain_blocklist" ->
      // dot-suffix law: explode each host's label-suffix chain, join
      // the inline blocklist, arg-max by length for the most-specific
      // entry; every event row verdicts (LEFT JOIN back)
      s"""WITH d AS (SELECT event_id,
         |  concat(CASE WHEN event_id % 3 = 0 THEN 'cdn.' ELSE '' END,
         |    'example', CAST(user_id % 50 AS VARCHAR), '.com') AS host
         |  FROM events),
         |b AS (SELECT * FROM (VALUES ('example3.com'),
         |  ('cdn.example3.com'), ('example7.com'),
         |  ('cdn.example5.com')) AS t(dom)),
         |sfx AS (SELECT event_id,
         |  unnest(list_transform(
         |    generate_series(1, len(string_split(host, '.'))),
         |    i -> array_to_string(string_split(host, '.')[i:], '.')))
         |    AS s
         |  FROM d),
         |hits AS (SELECT event_id, arg_max(s, len(s)) AS blocked_by
         |  FROM sfx JOIN b ON s = lower(trim(dom)) GROUP BY event_id)
         |SELECT d.event_id, d.host, h.blocked_by,
         |  h.blocked_by IS NOT NULL AS blocked
         |FROM d LEFT JOIN hits h USING (event_id)""".stripMargin,

    "q214_budget_select" ->
      // band totals → running totals (DESC band order) → whole-band
      // take, single boundary band split on its id-ordered prefix
      s"""WITH d AS (SELECT doc_id, doc_id % 10 AS band,
         |  CAST(len($allToksSql) AS BIGINT) AS n_tokens
         |  FROM documents),
         |b AS (SELECT band, sum(n_tokens) AS bt FROM d GROUP BY band),
         |c AS (SELECT band, bt,
         |  coalesce(sum(bt) OVER (ORDER BY band DESC) - bt, 0) AS b4
         |  FROM b),
         |j AS (SELECT d.doc_id, d.band, d.n_tokens, c.bt, c.b4
         |  FROM d JOIN c USING (band)),
         |r AS (SELECT *, sum(n_tokens)
         |  OVER (PARTITION BY band ORDER BY doc_id) AS run FROM j)
         |SELECT doc_id, band, n_tokens,
         |  CASE WHEN b4 + bt <= 25000 THEN TRUE
         |       WHEN b4 < 25000 THEN b4 + run <= 25000
         |       ELSE FALSE END AS selected
         |FROM r""".stripMargin,

    "q215_nb_quality" ->
      // add-0.5 multinomial NB log-odds, en seed vs zh seed, union
      // vocabulary; per-doc mean over token occurrences, keep > 0
      s"""WITH tp AS (SELECT unnest($allToksSql) AS token
         |  FROM documents WHERE lang = 'en'),
         |cp AS (SELECT token, CAST(count(*) AS BIGINT) AS c_pos
         |  FROM tp GROUP BY token),
         |tn AS (SELECT unnest($allToksSql) AS token
         |  FROM documents WHERE lang = 'zh'),
         |cn AS (SELECT token, CAST(count(*) AS BIGINT) AS c_neg
         |  FROM tn GROUP BY token),
         |m AS (SELECT token, c_pos, c_neg
         |  FROM cp FULL JOIN cn USING (token)),
         |k AS (SELECT count(*) AS v,
         |  sum(coalesce(c_pos, 0)) AS n_pos,
         |  sum(coalesce(c_neg, 0)) AS n_neg FROM m),
         |dt AS (SELECT doc_id, unnest($allToksSql) AS token
         |  FROM documents),
         |sc AS (SELECT doc_id,
         |  ln((coalesce(c_pos, 0) + 0.5) / (n_pos + 0.5 * v)) -
         |  ln((coalesce(c_neg, 0) + 0.5) / (n_neg + 0.5 * v)) AS llr
         |  FROM dt LEFT JOIN m USING (token) CROSS JOIN k),
         |a AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |  round(sum(llr) / count(*), 6) AS avg_llr
         |  FROM sc GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(a.n_tokens, 0) AS n_tokens,
         |  a.avg_llr, coalesce(a.avg_llr > 0, FALSE) AS keep
         |FROM documents d LEFT JOIN a USING (doc_id)""".stripMargin,

    "q216_simhash_hamming" ->
      // Manku combination tables over the q19 fingerprint CTEs: all
      // C(8,5)=56 five-block subsets key a table (exact recall at
      // radius 3: 3 flips leave >= 5 blocks untouched), distinct
      // candidate pairs, nibble-table popcount of the xor
      (s"WITH $simhashCtes,\n" +
        s"""c(band, b1, b2, b3, b4, b5) AS (VALUES $simhashCombosValues),
           |b AS (SELECT doc_id, sh, band,
           |  substr(sh, b1*2 + 1, 2) || substr(sh, b2*2 + 1, 2) ||
           |  substr(sh, b3*2 + 1, 2) || substr(sh, b4*2 + 1, 2) ||
           |  substr(sh, b5*2 + 1, 2) AS bucket
           |  FROM hx CROSS JOIN c),
           |p AS (SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b,
           |  a.sh AS sha, b2.sh AS shb
           |  FROM b a JOIN b b2 USING (band, bucket)
           |  WHERE a.doc_id < b2.doc_id),
           |h AS (SELECT id_a, id_b,
           |  CAST(list_sum(list_transform(generate_series(1, 16), i ->
           |    CAST(substr('0112122312232334',
           |      CAST(xor(strpos('0123456789abcdef', substr(sha, i, 1)) - 1,
           |               strpos('0123456789abcdef', substr(shb, i, 1)) - 1)
           |        AS INT) + 1, 1) AS INT))) AS BIGINT) AS hamming
           |  FROM p)
           |SELECT id_a, id_b, hamming FROM h
           |WHERE hamming <= 3""".stripMargin),

    "q217_within_doc_lines" ->
      // first-occurrence law per doc: keep index i iff blank after
      // trim or list_position (first index) equals i; 1-based lists
      s"""WITH d AS (SELECT doc_id, concat_ws(chr(10), text, '   ',
         |  CASE WHEN doc_id % 2 = 0 THEN text END,
         |  'sig ' || CAST(doc_id % 5 AS VARCHAR),
         |  'sig ' || CAST(doc_id % 5 AS VARCHAR), '   ') AS text
         |  FROM documents),
         |l AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM d),
         |k AS (SELECT doc_id, ls,
         |  list_filter(generate_series(1, len(ls)),
         |    i -> trim(ls[i]) = '' OR list_position(ls, ls[i]) = i)
         |    AS kept
         |  FROM l)
         |SELECT doc_id, CAST(len(ls) AS BIGINT) AS n_lines,
         |  CAST(len(ls) - len(kept) AS BIGINT) AS n_removed,
         |  array_to_string(list_transform(kept, i -> ls[i]), chr(10))
         |    AS clean_text
         |FROM k""".stripMargin,

    "q218_release_diff" ->
      // full-outer fingerprint diff; the %5=1 arm churns case and
      // whitespace only, so the exact-dedup normalization reads it
      // as unchanged
      s"""WITH o AS (SELECT doc_id, md5(trim(regexp_replace(
         |    lower(coalesce(text, '')), '\\s+', ' ', 'g'))) AS ofp
         |  FROM documents),
         |nsrc AS (
         |  SELECT doc_id, CASE
         |    WHEN doc_id % 5 = 0 THEN text || ' rev2'
         |    WHEN doc_id % 5 = 1 THEN upper(text) || '  '
         |    ELSE text END AS text
         |  FROM documents WHERE doc_id % 7 <> 0
         |  UNION ALL
         |  SELECT doc_id + 100000, text FROM documents
         |  WHERE doc_id % 11 = 0),
         |n AS (SELECT doc_id, md5(trim(regexp_replace(
         |    lower(coalesce(text, '')), '\\s+', ' ', 'g'))) AS nfp
         |  FROM nsrc)
         |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
         |  CASE WHEN o.doc_id IS NULL THEN 'added'
         |       WHEN n.doc_id IS NULL THEN 'removed'
         |       WHEN ofp = nfp THEN 'unchanged'
         |       ELSE 'changed' END AS status,
         |  ofp AS old_fingerprint, nfp AS new_fingerprint
         |FROM o FULL JOIN n ON o.doc_id = n.doc_id""".stripMargin,

    "q219_curation_capstone" ->
      // q212 coverage law -> kept-token arrays -> q215 NB keep on the
      // cleaned tokens (seeds from the original corpus) -> q206
      // manifest law over survivors
      s"""WITH t AS (SELECT doc_id, $allToksSql AS ws FROM documents
         |  WHERE doc_id % 5 <> 0),
         |g AS (SELECT doc_id,
         |  unnest(generate_series(0, len(ws) - 6)) AS pos0,
         |  unnest(list_transform(generate_series(0, len(ws) - 6),
         |    i -> array_to_string(ws[i+1:i+6], ' '))) AS gram
         |  FROM t),
         |e AS (SELECT DISTINCT
         |  unnest(list_transform(generate_series(0, len($allToksSql) - 6),
         |    i -> array_to_string($allToksSql[i+1:i+6], ' '))) AS gram
         |  FROM documents WHERE doc_id % 5 = 0),
         |cov AS (SELECT g.doc_id, list(DISTINCT pos0) AS starts
         |  FROM g JOIN e USING (gram) GROUP BY g.doc_id),
         |r AS (SELECT t.doc_id, ws, coalesce(starts, []) AS starts
         |  FROM t LEFT JOIN cov USING (doc_id)),
         |cl AS (SELECT doc_id, list_transform(
         |  list_filter(generate_series(0, len(ws) - 1),
         |    p -> len(list_filter(starts, s -> s <= p AND p < s + 6)) = 0),
         |  p -> ws[p+1]) AS cw
         |  FROM r),
         |tp AS (SELECT unnest($allToksSql) AS token
         |  FROM documents WHERE lang = 'en'),
         |cp AS (SELECT token, CAST(count(*) AS BIGINT) AS c_pos
         |  FROM tp GROUP BY token),
         |tn AS (SELECT unnest($allToksSql) AS token
         |  FROM documents WHERE lang = 'zh'),
         |cn AS (SELECT token, CAST(count(*) AS BIGINT) AS c_neg
         |  FROM tn GROUP BY token),
         |m AS (SELECT token, c_pos, c_neg
         |  FROM cp FULL JOIN cn USING (token)),
         |tot AS (SELECT count(*) AS v,
         |  sum(coalesce(c_pos, 0)) AS n_pos,
         |  sum(coalesce(c_neg, 0)) AS n_neg FROM m),
         |dt AS (SELECT doc_id, unnest(cw) AS token FROM cl),
         |sc AS (SELECT doc_id,
         |  ln((coalesce(c_pos, 0) + 0.5) / (n_pos + 0.5 * v)) -
         |  ln((coalesce(c_neg, 0) + 0.5) / (n_neg + 0.5 * v)) AS llr
         |  FROM dt LEFT JOIN m USING (token) CROSS JOIN tot),
         |keepers AS (SELECT doc_id FROM sc GROUP BY doc_id
         |  HAVING round(sum(llr) / count(*), 6) > 0),
         |surv AS (SELECT cl.doc_id,
         |  CAST(len(cw) AS BIGINT) AS n_tokens,
         |  cl.doc_id % 8 AS shard
         |  FROM cl JOIN keepers USING (doc_id))
         |SELECT CAST(shard AS BIGINT) AS shard,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         |  CAST((sum(n_tokens) + 255) // 256 AS BIGINT) AS n_sequences,
         |  bit_xor(${md5HexValSql(
             "COALESCE(CAST(doc_id AS VARCHAR), '') || ':' || CAST(COALESCE(n_tokens, 0) AS VARCHAR)",
             12)}) AS checksum
         |FROM surv GROUP BY shard""".stripMargin,

    "q220_length_buckets" ->
      // ceil-width buckets, id-ordered row_number chopped into
      // batches of 16, pad_to = bucket * width
      s"""WITH t AS (SELECT doc_id,
         |  CAST(len($allToksSql) AS BIGINT) AS n_tokens FROM documents),
         |b AS (SELECT doc_id, n_tokens,
         |  (n_tokens + 31) // 32 AS bucket FROM t)
         |SELECT doc_id, n_tokens, CAST(bucket AS BIGINT) AS bucket,
         |  CAST((row_number() OVER (PARTITION BY bucket ORDER BY doc_id)
         |    - 1) // 16 AS BIGINT) AS batch_in_bucket,
         |  CAST(bucket * 32 AS BIGINT) AS pad_to
         |FROM b""".stripMargin,

    "q221_nb_budget_select" ->
      // the q215 NB chain -> per-lang percent_rank decile band ->
      // the q214 band-totals/boundary-prefix law at budget 20000
      s"""WITH tp AS (SELECT unnest($allToksSql) AS token
         |  FROM documents WHERE lang = 'en'),
         |cp AS (SELECT token, CAST(count(*) AS BIGINT) AS c_pos
         |  FROM tp GROUP BY token),
         |tn AS (SELECT unnest($allToksSql) AS token
         |  FROM documents WHERE lang = 'zh'),
         |cn AS (SELECT token, CAST(count(*) AS BIGINT) AS c_neg
         |  FROM tn GROUP BY token),
         |m AS (SELECT token, c_pos, c_neg
         |  FROM cp FULL JOIN cn USING (token)),
         |tot AS (SELECT count(*) AS v,
         |  sum(coalesce(c_pos, 0)) AS n_pos,
         |  sum(coalesce(c_neg, 0)) AS n_neg FROM m),
         |dt AS (SELECT doc_id, unnest($allToksSql) AS token
         |  FROM documents),
         |sc AS (SELECT doc_id,
         |  ln((coalesce(c_pos, 0) + 0.5) / (n_pos + 0.5 * v)) -
         |  ln((coalesce(c_neg, 0) + 0.5) / (n_neg + 0.5 * v)) AS llr
         |  FROM dt LEFT JOIN m USING (token) CROSS JOIN tot),
         |a AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |  round(sum(llr) / count(*), 6) AS avg_llr
         |  FROM sc GROUP BY doc_id),
         |sco AS (SELECT d.doc_id, d.lang,
         |  coalesce(a.n_tokens, 0) AS n_tokens, a.avg_llr
         |  FROM documents d LEFT JOIN a USING (doc_id)),
         |bd AS (SELECT doc_id, n_tokens,
         |  CAST(floor(percent_rank() OVER (PARTITION BY lang
         |    ORDER BY avg_llr ASC NULLS FIRST, doc_id ASC) * 10)
         |    AS BIGINT) AS band
         |  FROM sco),
         |bt AS (SELECT band, sum(n_tokens) AS btok FROM bd GROUP BY band),
         |cumb AS (SELECT band, btok,
         |  coalesce(sum(btok) OVER (ORDER BY band DESC) - btok, 0) AS b4
         |  FROM bt),
         |j AS (SELECT bd.doc_id, bd.band, bd.n_tokens, cumb.btok, cumb.b4
         |  FROM bd JOIN cumb USING (band)),
         |rr AS (SELECT *, sum(n_tokens)
         |  OVER (PARTITION BY band ORDER BY doc_id) AS run FROM j)
         |SELECT doc_id, band, n_tokens,
         |  CASE WHEN b4 + btok <= 20000 THEN TRUE
         |       WHEN b4 < 20000 THEN b4 + run <= 20000
         |       ELSE FALSE END AS selected
         |FROM rr""".stripMargin,

    "q222_incremental_lines" ->
      // the ONE-SHOT q211 law verbatim: the gate passes iff the
      // three-snapshot merged conviction equals it
      boilerplateLinesOracleSql)

  /** DuckDB twin of Bpe.learnMerges, m rounds UNROLLED: wf/w0 seed
    * the word-frequency symbol table; each round r counts adjacent
    * pairs (p_r), argmaxes with the pinned tie-break (b_r), and
    * applies the merge by REPEATED-LEFTMOST recursion (m_r) — which
    * equals the Spark side's greedy left-to-right fold because a
    * round's merged symbol can never recreate its own pair (see
    * Bpe.scala's scaladoc). w_r keeps each word's fixpoint row.
    * CTEs are MATERIALIZED: DuckDB otherwise inlines every reference
    * and the 12-round chain re-scans the parquet exponentially. */
  private def bpeOracleCtes(m: Int): String = {
    val seed = Seq(
      s"""wf AS MATERIALIZED (SELECT word, count(*) AS freq
         |  FROM (SELECT unnest($allToksSql) AS word FROM documents)
         |  GROUP BY word)""".stripMargin,
      """w0 AS MATERIALIZED (SELECT word, freq,
        |  list_transform(generate_series(1, len(word)),
        |    i -> CASE WHEN i = len(word) THEN word[i:i] || '</w>'
        |         ELSE word[i:i] END) AS syms FROM wf)""".stripMargin)
    val rounds = (1 to m).flatMap { r =>
      val p = r - 1
      Seq(
        s"""p$r AS MATERIALIZED (SELECT l, r2,
           |  CAST(sum(freq) AS BIGINT) AS cnt FROM (
           |  SELECT freq, unnest(syms[1:len(syms)-1]) AS l,
           |         unnest(syms[2:len(syms)]) AS r2
           |  FROM w$p WHERE len(syms) > 1) GROUP BY l, r2)""".stripMargin,
        s"""b$r AS MATERIALIZED (SELECT l, r2, cnt FROM p$r
           |  ORDER BY cnt DESC, l ASC, r2 ASC LIMIT 1)""".stripMargin,
        s"""m$r AS (
           |  SELECT word, freq, syms FROM w$p
           |  UNION ALL
           |  SELECT word, freq, syms[1:i-1] || [syms[i] || syms[i+1]]
           |    || syms[i+2:len(syms)] AS syms
           |  FROM (SELECT word, freq, syms,
           |      list_filter(generate_series(1, len(syms)-1),
           |        i -> syms[i] = b.l AND syms[i+1] = b.r2)[1] AS i
           |    FROM m$r, b$r b)
           |  WHERE i IS NOT NULL)""".stripMargin,
        s"""w$r AS MATERIALIZED (SELECT word, freq, syms FROM m$r, b$r b
           |  WHERE len(list_filter(generate_series(1, len(syms)-1),
           |    i -> syms[i] = b.l AND syms[i+1] = b.r2)) = 0)""".stripMargin)
    }
    (seed ++ rounds).mkString(",\n")
  }

  /** DuckDB twin of the q193 add-α bigram NLL pipeline
    * (LmQuality.nllScore over the doc_id % 10 = 0 reference slice),
    * ending at the roster-joined `sc` CTE — q194's banding composes
    * on top. Float parity: every arithmetic operand is forced DOUBLE
    * (the bare 0.5 literal would be DECIMAL in DuckDB), ln/÷ run in
    * the same op order as the Column plan, and only the per-doc SUM's
    * accumulation order differs — absorbed by round 6 exactly like
    * the BM25 oracles. NOTE: composed into q194 by plain
    * concatenation (no outer stripMargin) — see the
    * qualitySignalsOracleSql editing note. */
  private def lmNllOracleSql: String =
    s"""WITH toks AS (SELECT doc_id, $allToksSql AS ws FROM documents),
       |ref AS (SELECT ws FROM toks WHERE doc_id % 10 = 0),
       |uni AS (SELECT w1, count(*) AS c_uni FROM (
       |  SELECT unnest(ws) AS w1 FROM ref) GROUP BY w1),
       |bi AS (SELECT g, count(*) AS c_bi FROM (
       |  SELECT unnest(list_filter(list_transform(
       |    generate_series(1, greatest(len(ws)-1, 1)),
       |    i -> concat_ws(' ', ws[i], ws[i+1])),
       |    x -> len(string_split(x, ' ')) = 2)) AS g FROM ref)
       |  GROUP BY g),
       |vv AS (SELECT count(*) AS v FROM uni),
       |eb AS (SELECT doc_id, ws[i] AS w1,
       |       concat_ws(' ', ws[i], ws[i+1]) AS g
       |       FROM (SELECT doc_id,
       |             unnest(generate_series(1, len(ws)-1)) AS i, ws
       |             FROM toks WHERE len(ws) >= 2)),
       |sc0 AS (SELECT eb.doc_id, count(*) AS n_bigrams,
       |  round(sum(-ln((CAST(coalesce(c_bi, 0) AS DOUBLE) + 0.5e0)
       |    / (CAST(coalesce(c_uni, 0) AS DOUBLE) + 0.5e0 * v)))
       |    / count(*), 6) AS avg_nll
       |  FROM eb LEFT JOIN bi USING (g) LEFT JOIN uni USING (w1)
       |  CROSS JOIN vv GROUP BY eb.doc_id),
       |sc AS (SELECT d.doc_id,
       |  CAST(coalesce(n_bigrams, 0) AS BIGINT) AS n_bigrams, avg_nll
       |  FROM documents d LEFT JOIN sc0 ON d.doc_id = sc0.doc_id)""".stripMargin

  /** DuckDB twin of the q195 DSIR importance-weight pipeline
    * (Dsir.importanceWeights, target = the English slice, B = 64),
    * ending at the roster-joined `w` CTE — q196's Gumbel top-k
    * composes on top. Same float-parity posture as lmNllOracleSql
    * (forced DOUBLE operands; per-doc sum order absorbed by round 6).
    * NOTE: composed into q196 by plain concatenation (no outer
    * stripMargin) — see the qualitySignalsOracleSql editing note. */
  private def dsirWeightsOracleSql: String =
    s"""WITH toks AS (SELECT doc_id, lang, $allToksSql AS ws
       |              FROM documents),
       |grams AS (SELECT doc_id, lang, unnest(list_concat(ws,
       |  list_filter(list_transform(
       |    generate_series(1, greatest(len(ws)-1, 1)),
       |    i -> concat_ws(' ', ws[i], ws[i+1])),
       |    x -> len(string_split(x, ' ')) = 2))) AS g FROM toks),
       |gb AS (SELECT doc_id, lang,
       |       ${md5HexValSql("g", 6)} % 64 AS bucket FROM grams),
       |gb2 AS (SELECT doc_id, bucket, count(*) AS cnt FROM gb
       |        GROUP BY doc_id, bucket),
       |tc AS (SELECT bucket, count(*) AS c FROM gb
       |       WHERE lang = 'en' GROUP BY bucket),
       |tt AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS total FROM tc),
       |rc AS (SELECT bucket, CAST(sum(cnt) AS BIGINT) AS c FROM gb2
       |       GROUP BY bucket),
       |rt AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS total FROM rc),
       |ab AS (SELECT unnest(generate_series(0, 63)) AS bucket),
       |lt AS (SELECT ab.bucket,
       |       ln(CAST(coalesce(tc.c, 0) + 1 AS DOUBLE)
       |          / CAST(tt.total + 64 AS DOUBLE)) AS logp_t
       |       FROM ab LEFT JOIN tc USING (bucket) CROSS JOIN tt),
       |lrr AS (SELECT ab.bucket,
       |       ln(CAST(coalesce(rc.c, 0) + 1 AS DOUBLE)
       |          / CAST(rt.total + 64 AS DOUBLE)) AS logp_r
       |       FROM ab LEFT JOIN rc USING (bucket) CROSS JOIN rt),
       |lr AS (SELECT bucket, logp_t - logp_r AS lr
       |       FROM lt JOIN lrr USING (bucket)),
       |w0 AS (SELECT gb2.doc_id,
       |       CAST(sum(cnt) AS BIGINT) AS n_grams,
       |       round(sum(cnt * lr), 6) AS log_weight
       |       FROM gb2 JOIN lr USING (bucket) GROUP BY gb2.doc_id),
       |w AS (SELECT d.doc_id,
       |      CAST(coalesce(n_grams, 0) AS BIGINT) AS n_grams,
       |      coalesce(log_weight, 0.0e0) AS log_weight
       |      FROM documents d LEFT JOIN w0 ON d.doc_id = w0.doc_id)""".stripMargin

  /** DuckDB twin of the q170/q171 synthetic pages frame incl. the
    * department/tag/security inference (legacyPages + the
    * LegacyIngestion ladders). */
  private def legacyPagesOracleSql: String =
    """WITH p AS (SELECT 'pg' || doc_id AS page_id,
      |  CASE WHEN doc_id % 7 = 3 THEN NULL
      |    ELSE 'Doc ' || doc_id END AS title,
      |  substr(text, 1, 200) AS content,
      |  'user' || (doc_id % 5) AS author,
      |  '2025-07-01' AS created_time,
      |  '2025-08-0' || (doc_id % 9 + 1) AS last_edited,
      |  CASE WHEN doc_id % 4 = 0 THEN
      |      CASE WHEN doc_id % 8 = 0 THEN 'Custom Dept' ELSE NULL END
      |    WHEN doc_id % 4 <> 2 THEN
      |      CASE WHEN doc_id % 5 = 0 THEN 'Engineering'
      |        WHEN doc_id % 5 = 1 THEN 'Sales'
      |        WHEN doc_id % 5 = 2 THEN 'Hr'
      |        ELSE NULL END
      |    ELSE NULL END AS department,
      |  CASE WHEN doc_id % 5 = 0 THEN
      |      CASE WHEN doc_id % 3 = 0 THEN 't1|t' || (doc_id % 5) || '|How-To'
      |        ELSE 'How-To' END
      |    ELSE CASE WHEN doc_id % 3 = 0 THEN 't1|t' || (doc_id % 5)
      |      ELSE '' END END AS tags,
      |  CASE doc_id % 6 WHEN 0 THEN 'public' WHEN 1 THEN 'client'
      |    WHEN 2 THEN 'partner' WHEN 3 THEN 'employee'
      |    WHEN 4 THEN 'management' ELSE 'intern' END AS security_level,
      |  CASE doc_id % 6 WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 3
      |    WHEN 3 THEN 4 WHEN 4 THEN 5 ELSE 0 END AS access_level
      |  FROM documents)""".stripMargin

  /** The recursive component walk over the q18 MinHash candidate
    * pairs (the `w.comp < e.dst` guard prunes useless propagations —
    * a node's final component is never above its own id); shared by
    * the q176/q223 grouping oracles and q224's best-member law. */
  private def neardupWalkCtesSql: String = neardupWalkCtesSqlOver("documents")

  /** edges + min-label walk CTE pair over ANY symmetric pairs SELECT
    * (id_a, id_b) and node set — ONE walk definition for the document
    * graph ([[neardupWalkCtesSqlOver]]: q176/q223/q226 and the
    * null-text arm) and the embedding graph (the q246 capstone). */
  private def minWalkCtesSql(pairsSql: String, nodesFrom: String,
      idCol: String): String =
    s"""p AS ($pairsSql),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM p
       |          UNION SELECT id_b, id_a FROM p),
       |walk(id, comp) AS (
       |  SELECT $idCol, $idCol FROM $nodesFrom
       |  UNION
       |  SELECT e.dst, w.comp FROM walk w
       |  JOIN edges e ON w.id = e.src WHERE w.comp < e.dst)""".stripMargin

  /** [[neardupWalkCtesSql]] over any table/CTE exposing (doc_id, text)
    * — the r18 NULL-text fixture arm replays the identical fragment
    * over an adversarial view; default keeps q176/q223 byte-stable. */
  private def neardupWalkCtesSqlOver(from: String): String =
    s"WITH RECURSIVE ${minWalkCtesSql(minhashLshOracleSqlOver(from), from, "doc_id")}"

  /** Min-reachable-id component labels. Shared VERBATIM by q176
    * (min-label walk) and q223 (large-star/small-star contraction):
    * the two gates pin that both algorithms reach the identical
    * fixpoint on the real candidate graph. */
  private def neardupGroupsOracleSql: String =
    s"""$neardupWalkCtesSql
       |SELECT id AS doc_id, min(comp) AS component,
       |  min(comp) = id AS is_representative
       |FROM walk GROUP BY id""".stripMargin

  /** DuckDB replay of Dedup.lshSizing(n, bands, 1/2, 1000, floor): the
    * smallest k in [0, 32] with bands·n·(1/2)^k ≤ budget (NULL when
    * even k = 32 doesn't satisfy → 32, the Scala cap), floored. For
    * the p = 1/2 faces every pow(0.5, k) is an exact double in both
    * engines, so the comparison is bit-identical to the Scala
    * multiplicative descent. A scalar expression over `nSql` (a
    * scalar subquery for the sizing population) — r19 verdict item 2:
    * the auto-face oracles now COMPUTE the sizing law instead of
    * hardcoding the gate decade's parameters, so the triple-SF sweep
    * is hash-checked at every decade. */
  private def lshSizingSql(nSql: String, bands: Int, floor: Int = 1): String =
    s"GREATEST($floor, COALESCE((SELECT MIN(k) FROM generate_series(0, 32) _szk(k) " +
      s"WHERE $bands * ($nSql) * pow(0.5, k) <= 1000.0), 32))"

  /** q18 (and the fixed-geometry consumers): 16-hash MinHash
    * signatures (slot k = the k%4-th 8-hex slice of the k/4 group
    * digest — four slots per md5), 4 bands × 4 rows, band-bucket
    * candidates. */
  private def minhashLshOracleSql: String = minhashLshOracleSqlOver("documents")

  /** q154: the self-sizing twin — rows-per-band computed by the
    * sizing law over the corpus count (floor 4, the Scala default),
    * exactly the width q154 passes at EVERY SF
    * (5 rows × 4 bands at the sf0.1 decade where the fixed twin's
    * 4×4 diverged). */
  private def minhashLshSizedOracleSql: String =
    minhashLshOracleSqlOver("documents",
      s"SELECT ${lshSizingSql("SELECT count(*) FROM documents", 4, floor = 4)} AS nrows")

  /** [[minhashLshOracleSql]] over any table/CTE exposing (doc_id,
    * text) — see [[neardupWalkCtesSqlOver]]. Starts with WITH, so
    * callers embedding it inside an outer WITH chain wrap it in a
    * subselect. `szb` must select a single row exposing `nrows`
    * (rows per band); the md5 slicing law (4 slots per group digest)
    * is fixed — only the band width varies. */
  private def minhashLshOracleSqlOver(from: String,
      szb: String = "SELECT 4 AS nrows"): String =
    s"""WITH _mhsz AS ($szb),
       |e AS (SELECT doc_id, unnest($shinglesSql) AS g FROM $from),
       |e2 AS (SELECT doc_id, g, unnest(generate_series(0, 4 * _mhsz.nrows - 1)) AS k
       |      FROM e, _mhsz),
       |h AS (SELECT doc_id, k,
       |      MIN(substr(md5(CAST(CAST(floor(k / 4) AS INT) AS VARCHAR) || ':' || g),
       |          CAST(k % 4 AS INT) * 8 + 1, 8)) AS mh
       |      FROM e2 GROUP BY doc_id, k),
       |b AS (SELECT doc_id, CAST(floor(k / _mhsz.nrows) AS INT) AS band,
       |      md5(CAST(CAST(floor(k / _mhsz.nrows) AS INT) AS VARCHAR) || '|' || string_agg(mh, '|' ORDER BY k)) AS bucket
       |      FROM h, _mhsz GROUP BY doc_id, CAST(floor(k / _mhsz.nrows) AS INT))
       |SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
       |FROM b a JOIN b b2 USING (band, bucket) WHERE a.doc_id < b2.doc_id""".stripMargin

  /** The labeled-corpus CTE of the triplet fold (the label law:
    * non-null label, 64-wide vector) — the `c` side shared by q237
    * and the q246 capstone. */
  private def labeledCorpusCteSql: String =
    """c AS (SELECT vec_id AS neighbor_id, embedding AS nv, label AS nl
      |  FROM embeddings WHERE label IS NOT NULL AND len(embedding) = 64)""".stripMargin

  /** THE q237 triplet rank/fold body over CTEs a(anchor_id, av, al)
    * and c(neighbor_id, nv, nl) — ONE definition for q237 and the
    * q246 capstone, so a triplet-law amendment can never leave the
    * capstone pinning a stale copy (the shared-fragment
    * discipline). */
  private def tripletFoldCtesSql: String =
    s"""s AS (SELECT anchor_id, neighbor_id, (al = nl) AS is_pos,
       |  ${cosSql("av", "nv")} AS cos
       |  FROM c CROSS JOIN a WHERE anchor_id IS DISTINCT FROM neighbor_id),
       |$tripletRankFoldCtesSql""".stripMargin

  /** The rank/conditional-max tail of the triplet fold over ANY
    * `s(anchor_id, neighbor_id, is_pos, cos)` CTE — factored (r20) so
    * the q251 LSH-candidates triplet face replays the IDENTICAL fold
    * the exact q237 face pins, over its own candidate-scored s. */
  private def tripletRankFoldCtesSql: String =
    """r AS (SELECT anchor_id, neighbor_id, is_pos, cos,
      |  ROW_NUMBER() OVER (PARTITION BY anchor_id, is_pos ORDER BY cos DESC, neighbor_id) AS rnk
      |  FROM s),
      |b AS (SELECT anchor_id,
      |  MAX(CASE WHEN is_pos THEN neighbor_id END) AS pos_id,
      |  MAX(CASE WHEN is_pos THEN cos END) AS pos_cos,
      |  MAX(CASE WHEN NOT is_pos THEN neighbor_id END) AS neg_id,
      |  MAX(CASE WHEN NOT is_pos THEN cos END) AS neg_cos
      |  FROM r WHERE rnk = 1 GROUP BY anchor_id)""".stripMargin

  /** The triplet faces' shared final projection over the fold's `b`
    * CTE (q237 / q246 / q251 — one definition of the margin
    * arithmetic and the inner-semantics filter). */
  private def tripletSelectSql: String =
    """SELECT anchor_id, pos_id, round(pos_cos, 6) AS pos_score,
      |  neg_id, round(neg_cos, 6) AS neg_score,
      |  round(round(pos_cos, 6) - round(neg_cos, 6), 6) AS margin
      |FROM b WHERE pos_id IS NOT NULL AND neg_id IS NOT NULL""".stripMargin

  /** The scalar subquery for the mining population (the label law's
    * sizing count): labeled, dim-valid vectors — what the Scala auto
    * faces count. */
  private def labeledEmbCountSql: String =
    "SELECT count(*) FROM embeddings WHERE label IS NOT NULL AND len(embedding) = 64"

  /** ONE LSH hard-negatives oracle body for the fixed face (q238 /
    * q248), the auto-sized twin (q242) and the recall-solved face
    * (q247): the q72 hyperplane signature law over the LABELED
    * corpus, each a<b band collision symmetrized into both mining
    * directions, label law applied, per-anchor top-3. `szb` selects
    * one row exposing (bits, bands) — the fixed face pins (3, 12),
    * the sized faces COMPUTE the law (r19 verdict item 2), so the
    * gates hold at every SF. */
  /** The full-corpus LSH candidate front (signature → bands →
    * symmetrized dir CTE) shared by the hard-negative bodies and the
    * q251 triplet face — ContrastiveMining.lshLabeledPairs' twin.
    * Emits CTEs `base` and `dir`; callers append their own scoring
    * tail. */
  private def lshCandCtesSql(szb: String): String =
    s"""_hnsz AS ($szb),
      |base AS (SELECT vec_id, embedding, label FROM embeddings
      |  WHERE label IS NOT NULL AND len(embedding) = 64),
      |pr0 AS (SELECT vec_id, embedding,
      |  unnest(generate_series(0, _hnsz.bands * _hnsz.bits - 1)) AS b
      |  FROM base, _hnsz),
      |proj AS (SELECT vec_id, b,
      |  list_sum(list_transform(generate_series(1, 64),
      |   d -> CAST(embedding[d] AS DOUBLE) *
      |        CAST((1103515245 * (b * 64 + (d - 1)) + 12345) % 2147483648 % 2001 - 1000 AS DOUBLE)
      |        / 1024.0)) AS s
      |  FROM pr0),
      |bandsig AS (SELECT vec_id, CAST(floor(b / _hnsz.bits) AS INT) AS band,
      |  string_agg(CASE WHEN s >= 0 THEN '1' ELSE '0' END, '' ORDER BY b) AS bucket
      |  FROM proj, _hnsz GROUP BY vec_id, CAST(floor(b / _hnsz.bits) AS INT)),
      |cand AS (SELECT DISTINCT a.vec_id AS id_a, b2.vec_id AS id_b
      |  FROM bandsig a JOIN bandsig b2 USING (band, bucket)
      |  WHERE a.vec_id < b2.vec_id),
      |dir AS (SELECT id_a AS anchor_id, id_b AS neighbor_id FROM cand
      |  UNION ALL SELECT id_b, id_a FROM cand)""".stripMargin

  private def hardNegLshOracleSqlWith(szb: String): String =
    s"""WITH ${lshCandCtesSql(szb)},
      |sc AS (SELECT anchor_id, neighbor_id,
      |  ${cosSql("ea.embedding", "eb.embedding")} AS cos
      |  FROM dir JOIN base ea ON dir.anchor_id = ea.vec_id
      |           JOIN base eb ON dir.neighbor_id = eb.vec_id
      |  WHERE ea.label <> eb.label),
      |r AS (SELECT anchor_id, neighbor_id, cos,
      |  ROW_NUMBER() OVER (PARTITION BY anchor_id ORDER BY cos DESC, neighbor_id) AS rnk
      |  FROM sc)
      |SELECT anchor_id, neighbor_id, round(cos, 6) AS score, rnk
      |FROM r WHERE rnk <= 3""".stripMargin

  private def hardNegLshOracleSql: String =
    hardNegLshOracleSqlWith("SELECT 3 AS bits, 12 AS bands")

  /** q242: bits computed by the sizing law over the LABELED count
    * (what hardNegativesLshAuto counts), bands held at the 12
    * default. */
  private def hardNegLshSizedOracleSql: String =
    hardNegLshOracleSqlWith(
      s"SELECT ${lshSizingSql(labeledEmbCountSql, 12)} AS bits, 12 AS bands")

  /** q247: ContrastiveMining.lshRecallSizing replayed in SQL — the
    * dispersion-discounted pEff = 1 − acos(0.35)/π − 0.15, the
    * smallest feasible bands per bandBits (comparison-walked against
    * the 0.9 target, exactly the Scala find), the min-collision-
    * fraction argmin (r · 2^−b is an exact double in both engines;
    * ties to the smaller b), and the (1, 512) met=false sentinel
    * (cost 1e18 — above any real fraction, ≤ 256). The corpus size
    * drops out of the argmin, so the solve is SF-free; the recall
    * values sit ≫ 1 ulp from every threshold the gates cross (the
    * ContrastiveMiningSpec arm pins the Scala side). */
  private def hardNegLshRecallOracleSql: String =
    hardNegLshOracleSqlWith(
      """WITH pe AS (SELECT 1 - acos(0.35)/pi() - 0.15 AS p),
        |  feas AS (SELECT b, (SELECT MIN(r) FROM generate_series(1, 512) tr(r)
        |      WHERE 1 - pow(1 - pow(pe.p, b), r) >= 0.9) AS r
        |    FROM generate_series(1, 32) tb(b), pe),
        |  scored AS (SELECT b, r, r * pow(0.5, b) AS cost FROM feas WHERE r IS NOT NULL
        |    UNION ALL SELECT 1, 512, 1e18)
        |  SELECT b AS bits, r AS bands FROM scored ORDER BY cost ASC, b ASC LIMIT 1""".stripMargin)

  /** THE recall@k audit body (ContrastiveMining.recallAudit) over an
    * approximate-miner oracle `apSql` — one definition for q245 (the
    * fixed-budget auto face), q247 (the recall-solved face) and q249
    * (the sampled-anchor scale posture), so the audit law can never
    * drift between them. Exact side: the q236 cosine rank without
    * the anchor filter; a pair at exact rank r is in the exact top-k
    * for k in [r, 3], found iff its approx rank ≤ k. `sampleSeed`
    * replays recallAuditSampled's lexicographic-hex anchor draw
    * (md5(id ‖ ":" ‖ seed) < '2') on BOTH sides. */
  private def recallAuditOracleSql(apSql: String,
      sampleSeed: Option[String] = None): String = {
    def cond(idExpr: String): String = sampleSeed match {
      case Some(seed) =>
        s"md5(CAST($idExpr AS VARCHAR) || ':' || '$seed') < '2'"
      case None => "TRUE"
    }
    s"""WITH ex0 AS (SELECT anchor_id, neighbor_id,
      |  ROW_NUMBER() OVER (PARTITION BY anchor_id ORDER BY cos DESC, neighbor_id) AS rnk
      |  FROM (SELECT a.vec_id AS anchor_id, c.vec_id AS neighbor_id,
      |    ${cosSql("a.embedding", "c.embedding")} AS cos
      |    FROM embeddings a JOIN embeddings c
      |    ON a.label IS NOT NULL AND c.label IS NOT NULL
      |      AND len(a.embedding) = 64 AND len(c.embedding) = 64
      |      AND a.label <> c.label AND ${cond("a.vec_id")})),
      |ex AS (SELECT anchor_id, neighbor_id,
      |  unnest(generate_series(rnk, 3)) AS k FROM ex0 WHERE rnk <= 3),
      |ap AS (SELECT anchor_id, neighbor_id, rnk AS _arnk
      |  FROM ($apSql) WHERE ${cond("anchor_id")}),
      |j AS (SELECT k, _arnk FROM ex LEFT JOIN ap USING (anchor_id, neighbor_id))
      |SELECT k, COUNT(*) AS n_exact,
      |  COUNT(CASE WHEN _arnk <= k THEN 1 END) AS n_found,
      |  round(CAST(COUNT(CASE WHEN _arnk <= k THEN 1 END) AS DOUBLE)
      |    / COUNT(*), 6) AS recall
      |FROM j GROUP BY k""".stripMargin
  }

  /** ONE SCD2 oracle body for the one-shot gate (q239) and the
    * append-only incremental fold (q240, whose law IS
    * merge-equals-one-shot): per-user event_type validity intervals
    * over the events change log, (ts, event_id) total order,
    * null-safe compaction, epoch-micros boundary. */
  private def scd2OracleSql: String =
    """WITH o AS (SELECT user_id, ts, event_id, event_type,
      |  ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
      |  LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      |  FROM events),
      |s AS (SELECT user_id, ts, event_id, event_type FROM o
      |  WHERE rn = 1 OR NOT (event_type IS NOT DISTINCT FROM prev)),
      |v AS (SELECT user_id, event_type, ts,
      |  ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS version,
      |  LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_ts
      |  FROM s)
      |SELECT user_id, version, epoch_us(ts) AS valid_from_us,
      |  epoch_us(next_ts) AS valid_to_us,
      |  (next_ts IS NULL) AS is_current, event_type FROM v""".stripMargin

  /** q72 (fixed 36-bit geometry) and q153 (self-sizing twin):
    * hyperplane signatures in 12 bands of `bits`, candidates verified
    * with exact cosine. `szb` selects one row exposing `bits` — the
    * fixed face pins 3; q153's COMPUTES the sizing law over the
    * corpus count (what q153 counts), so the gate
    * holds at every SF (5 bits at the sf0.1 decade where the
    * hardcoded twin diverged — r19 verdict item 2). */
  private def embedDedupLshOracleSqlWith(szb: String): String =
    s"""WITH _edsz AS ($szb),
      |pr0 AS (SELECT vec_id, embedding,
      |  unnest(generate_series(0, 12 * _edsz.bits - 1)) AS b
      |  FROM embeddings, _edsz),
      |proj AS (SELECT vec_id, b,
      |  list_sum(list_transform(generate_series(1, 64),
      |   d -> CAST(embedding[d] AS DOUBLE) *
      |        CAST((1103515245 * (b * 64 + (d - 1)) + 12345) % 2147483648 % 2001 - 1000 AS DOUBLE)
      |        / 1024.0)) AS s
      |  FROM pr0),
      |bandsig AS (SELECT vec_id, CAST(floor(b / _edsz.bits) AS INT) AS band,
      |  string_agg(CASE WHEN s >= 0 THEN '1' ELSE '0' END, '' ORDER BY b) AS bucket
      |  FROM proj, _edsz GROUP BY vec_id, CAST(floor(b / _edsz.bits) AS INT)),
      |cand AS (SELECT DISTINCT a.vec_id AS id_a, b2.vec_id AS id_b
      |  FROM bandsig a JOIN bandsig b2 USING (band, bucket)
      |  WHERE a.vec_id < b2.vec_id),
      |c AS (SELECT id_a, id_b,
      |  list_sum(list_transform(generate_series(1, len(ea.embedding)),
      |    i -> CAST(ea.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE)))
      |  / (sqrt(list_sum(list_transform(ea.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      |   * sqrt(list_sum(list_transform(eb.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
      |  FROM cand JOIN embeddings ea ON cand.id_a = ea.vec_id
      |            JOIN embeddings eb ON cand.id_b = eb.vec_id)
      |SELECT id_a, id_b, round(cos, 6) AS cosine FROM c WHERE cos >= 0.4""".stripMargin

  private def embedDedupLshOracleSql: String =
    embedDedupLshOracleSqlWith("SELECT 3 AS bits")

  private def embedDedupLshSizedOracleSql: String =
    embedDedupLshOracleSqlWith(
      s"SELECT ${lshSizingSql("SELECT count(*) FROM embeddings", 12)} AS bits")

  /** Semantic-search oracle: dim-8 stub embeddings, cosine in
    * VectorFunctions op order, StubReranker = query-term coverage. */
  private def semanticSearchOracleSql: String = {
    val ctxQuery = "context: " + bm25QueryTerms.mkString(" ")
    val rrTerms = ctxQuery.toLowerCase.split("\\s+").filter(_.nonEmpty).distinct
    val rlist = rrTerms.map(t => s"'$t'").mkString(", ")
    def emb(x: String, pfx: String): String =
      (0 until 8).map(k => s"${stubEmbSqlFor(x, k)} AS $pfx$k").mkString(", ")
    val dot = (0 until 8).map(k => s"e$k * q$k").mkString("0.0 + ", " + ", "")
    def norm(p: String): String =
      "sqrt(" + (0 until 8).map(k => s"$p$k * $p$k").mkString("0.0 + ", " + ", "") + ")"
    s"""WITH de AS (SELECT doc_id, text, ${emb("text", "e")} FROM documents),
       |qv AS (SELECT ${emb(s"'$ctxQuery'", "q")}),
       |sc AS (SELECT doc_id, text,
       |  ($dot) / (${norm("e")} * ${norm("q")}) AS vscore FROM de, qv),
       |top AS (SELECT * FROM sc ORDER BY vscore DESC, doc_id LIMIT 20),
       |rr AS (SELECT doc_id, vscore,
       |  CAST(len(list_filter([$rlist],
       |    x -> list_contains(string_split_regex(lower(text), '\\s+'), x))) AS DOUBLE)
       |  / ${rrTerms.length}.0 AS rerank_score FROM top)
       |SELECT doc_id, round(vscore, 6) AS vscore, rerank_score FROM rr
       |ORDER BY rr.rerank_score DESC, rr.vscore DESC, doc_id LIMIT 10""".stripMargin
  }

  /** MaxSim oracle: same 64-char patching, same dim-4 md5 stub
    * embedding, dot products in the exact op order of
    * Multimodal.maxSim (0.0-seeded left fold). */
  private def maxSimOracleSql: String = {
    val q = maxSimQueryText
    def emb(x: String, pfx: String): String =
      (0 until 4).map(k => s"${stubEmbSqlFor(x, k)} AS $pfx$k").mkString(", ")
    val dot = (0 until 4).map(k => s"q$k * p$k").mkString("0.0 + ", " + ", "")
    s"""WITH pat AS (SELECT doc_id, i, substr(text, CAST(i * 64 + 1 AS INT), 64) AS ptext
       |  FROM (SELECT doc_id, text,
       |        unnest(range(0, CAST(ceil(length(text) / 64.0) AS BIGINT))) AS i
       |        FROM documents)),
       |pe AS (SELECT doc_id, i, ${emb("ptext", "p")} FROM pat),
       |qp AS (SELECT qi, CASE qi WHEN 0 THEN substr('$q', 1, 64)
       |                  ELSE substr('$q', 65, 64) END AS qtext
       |       FROM (SELECT unnest([0, 1]) AS qi)),
       |qe AS (SELECT qi, ${emb("qtext", "q")} FROM qp),
       |mx AS (SELECT doc_id, qi, MAX($dot) AS m
       |       FROM pe CROSS JOIN qe GROUP BY doc_id, qi),
       |sc AS (SELECT doc_id, SUM(m) AS raw FROM mx GROUP BY doc_id),
       |np AS (SELECT doc_id, COUNT(*) AS n_patches FROM pat GROUP BY doc_id)
       |SELECT sc.doc_id, CAST(np.n_patches AS INT) AS n_patches,
       |round(sc.raw, 6) AS maxsim
       |FROM sc JOIN np USING (doc_id)
       |ORDER BY sc.raw DESC, sc.doc_id LIMIT 10""".stripMargin
  }

  /** The winnowing CTE chain: same base-257 mod-2^31 gram hashes as
    * the Spark side (powers precomputed here so both sides share
    * them), MIN per w-window, distinct sorted, through `fp` (per-doc
    * fingerprint lists). k=8, w=4, ASCII docs (char == byte).
    * Shared by the q61 digest and the q188 span-pair join — the
    * qualitySignalsOracleSql double-strip editing note applies. */
  private def winnowFpsCtes: String = {
    val Mod = 1L << 31
    val pows = Array.iterate(1L, 8)(p => (p * 257L) % Mod).reverse // 257^7..257^0
    val hashSum = pows.zipWithIndex
      .map { case (p, j) =>
        s"CAST(ord(substr(text, CAST(i + $j AS INT), 1)) AS BIGINT) * ${p}" }
      .mkString("(", " + ", s") % ${Mod}")
    s"""d AS (SELECT doc_id, text, length(text) - 7 AS ng
       |  FROM documents WHERE length(text) >= 8),
       |g AS (SELECT doc_id, i, $hashSum AS h
       |  FROM (SELECT doc_id, text, unnest(range(1, ng + 1)) AS i FROM d)),
       |s AS (SELECT doc_id, ng, unnest(range(1, greatest(ng - 4, 0) + 2)) AS s FROM d),
       |m AS (SELECT s.doc_id, s.s, MIN(g.h) AS m FROM s
       |  JOIN g ON g.doc_id = s.doc_id AND g.i BETWEEN s.s AND least(s.s + 3, s.ng)
       |  GROUP BY s.doc_id, s.s),
       |fp AS (SELECT doc_id, list_sort(list(DISTINCT m)) AS fps FROM m GROUP BY doc_id)""".stripMargin
  }

  private def winnowOracleSql: String =
    s"""WITH $winnowFpsCtes
       |SELECT doc_id, CAST(len(fps) AS INT) AS n_fp,
       |md5(array_to_string(list_transform(fps, x -> CAST(x AS VARCHAR)), '|')) AS fp_digest
       |FROM fp""".stripMargin

  /** Sessionization oracle — shared by the window-based (q08) and the
    * flatMapGroupsWithState-based (q33) implementations: two different
    * physical strategies, one semantic contract. */
  private val sessionizeOracleSql: String =
    """WITH g AS (
      |SELECT user_id, epoch_us(ts) AS ts_us,
      |CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
      |  OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_session
      |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
      |r AS (SELECT user_id, ts_us,
      |SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_us ROWS UNBOUNDED PRECEDING) AS session_index
      |FROM g)
      |SELECT user_id, CAST(session_index AS BIGINT) AS session_index, COUNT(*) AS n_events,
      |MIN(ts_us) AS start_us, MAX(ts_us) AS end_us,
      |MAX(ts_us) - MIN(ts_us) AS duration_us
      |FROM r GROUP BY user_id, session_index""".stripMargin

  // ---- entity-pipeline oracle fragments (generated from the Scala
  //      Seqs in Entities so the two sides cannot drift) ----

  /** DuckDB twin of Entities.normalizeName(x). */
  private def normNameSql(x: String): String =
    s"trim(regexp_replace(regexp_replace(regexp_replace(lower($x), " +
      s"'^(the|a|an)\\s+', ''), '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g'))"

  /** DuckDB twin of Entities.normalizeType(x). */
  private def normTypeSql(x: String): String = {
    val up = s"upper(regexp_replace(regexp_replace($x, '[^A-Za-z0-9]+', '_', 'g'), '^_+|_+$$', '', 'g'))"
    val allowed = Entities.allowedTypes.map(t => s"'$t'").mkString(", ")
    val synCases = Entities.typeSynonyms
      .map { case (f, to) => s"WHEN $up = '$f' THEN '$to'" }.mkString(" ")
    s"(CASE $synCases WHEN $up IN ($allowed) THEN $up ELSE 'OTHER' END)"
  }

  /** DuckDB twin of rawPartType (regexp_matches ~ rlike substring). */
  private val rawPartTypeSql =
    "(CASE WHEN regexp_matches(p_name, 'widget|gizmo') THEN 'Prod' ELSE 'component' END)"

  /** DuckDB twin of Entities.normalizeConfidence(x). */
  private def normConfSql(x: String): String =
    s"(CASE WHEN TRY_CAST($x AS DOUBLE) IS NULL THEN 0.5 " +
      s"WHEN TRY_CAST($x AS DOUBLE) < 0 THEN 0.0 " +
      s"WHEN TRY_CAST($x AS DOUBLE) > 1 AND TRY_CAST($x AS DOUBLE) <= 100 THEN TRY_CAST($x AS DOUBLE) / 100.0 " +
      s"WHEN TRY_CAST($x AS DOUBLE) > 100 THEN 1.0 ELSE TRY_CAST($x AS DOUBLE) END)"

  /** DuckDB twin of Entities.normalizeForMatch(x). */
  private def normMatchSql(x: String): String =
    s"regexp_replace(regexp_replace(trim(regexp_replace(regexp_replace(" +
      s"lower(trim($x)), '[^a-z0-9_\\s-]', ' ', 'g'), '\\s+', ' ', 'g')), " +
      s"'^(the|a|an)\\s+', ''), '\\s+(the|a|an)$$', '')"

  /** DuckDB twin of Entities.expandAbbreviations(x) — generated from
    * the same table so the sides cannot drift. */
  private def expandAbbrSql(x: String): String = {
    val cases = Entities.abbreviations
      .map { case (k, v) => s"WHEN w = '$k' THEN '$v'" }.mkString(" ")
    s"array_to_string(list_transform(string_split($x, ' '), " +
      s"w -> CASE $cases ELSE w END), ' ')"
  }

  /** DuckDB twin of Entities.pluralEq(a, b); `wa`/`wb` are word-array
    * columns (string_split of a/b) materialized in the calling CTE. */
  private def pluralEqSql(a: String, b: String, wa: String, wb: String): String = {
    val sPair = s"($wa[i] || 's' = $wb[i] OR $wb[i] || 's' = $wa[i] " +
      s"OR $wa[i] || 'es' = $wb[i] OR $wb[i] || 'es' = $wa[i])"
    s"(($a || 's' = $b) OR ($b || 's' = $a) OR ($a || 'es' = $b) OR ($b || 'es' = $a)" +
      s" OR ($a LIKE '%y' AND substr($a, 1, len($a) - 1) || 'ies' = $b)" +
      s" OR ($b LIKE '%y' AND substr($b, 1, len($b) - 1) || 'ies' = $a)" +
      s" OR (len($wa) = len($wb) AND len($wa) > 1" +
      s" AND list_sum(list_transform(generate_series(1, len($wa)), i -> CASE WHEN $wa[i] <> $wb[i] THEN 1 ELSE 0 END)) = 1" +
      s" AND list_sum(list_transform(generate_series(1, len($wa)), i -> CASE WHEN $wa[i] <> $wb[i] AND NOT $sPair THEN 1 ELSE 0 END)) = 0))"
  }

  /** DuckDB twin of Entities.tieredSim's levenshtein ratio. */
  private def levRatioSql(a: String, b: String): String =
    s"(1.0 - CAST(levenshtein($a, $b) AS DOUBLE) / CAST(greatest(len($a), len($b)) AS DOUBLE))"

  /** DuckDB twin of the CAPPED per-doc mention selection feeding the
    * co-occurrence pairs: top-`coocCap` entities per doc by mention
    * count (ties: lexicographic — cooccurrenceCapped's window). */
  private val coocTopSql =
    s"""SELECT doc, entity FROM (
       |  SELECT l_orderkey AS doc, p_name AS entity,
       |         ROW_NUMBER() OVER (PARTITION BY l_orderkey
       |           ORDER BY COUNT(*) DESC, p_name) AS rn
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |  GROUP BY l_orderkey, p_name) WHERE rn <= $coocCap""".stripMargin

  /** Shared co-occurrence CTE body (q30/q31/q32) — capped, mirroring
    * Entities.cooccurrenceCapped. */
  private val coocSql =
    s"""SELECT a.entity AS entity_a, b.entity AS entity_b, COUNT(*) AS n_docs
       |FROM ($coocTopSql) a
       |JOIN ($coocTopSql) b
       |  ON a.doc = b.doc AND a.entity < b.entity
       |GROUP BY a.entity, b.entity""".stripMargin

  private def entityOracles: Map[String, String] = Map(
    "q64_state_machine" -> {
      // generated from StateMachine.allowed/states so the sides can't drift
      val statesArr = "['" + operators.StateMachine.states.mkString("','") + "']"
      val validSql = operators.StateMachine.allowed
        .map { case (f, to) => s"(status = '$f' AND to_status = '$to')" }
        .mkString("(", " OR ", ")")
      s"""WITH d AS (SELECT doc_id,
         |  $statesArr[CAST(doc_id % 7 AS INT) + 1] AS status,
         |  $statesArr[CAST(doc_id % 5 AS INT) + 1] AS to_status FROM documents),
         |j AS (SELECT *, $validSql AS valid FROM d),
         |b AS (SELECT status, COUNT(*) AS n_before FROM d GROUP BY status),
         |a AS (SELECT CASE WHEN valid THEN to_status ELSE status END AS status,
         |      COUNT(*) AS n_after FROM j GROUP BY 1),
         |rj AS (SELECT status, COUNT(*) AS n_rejected FROM j WHERE NOT valid GROUP BY status)
         |SELECT coalesce(b.status, a.status, rj.status) AS status,
         |coalesce(b.n_before, 0) AS n_before,
         |coalesce(a.n_after, 0) AS n_after,
         |coalesce(rj.n_rejected, 0) AS n_rejected
         |FROM b FULL JOIN a ON b.status = a.status
         |FULL JOIN rj ON coalesce(b.status, a.status) = rj.status""".stripMargin
    },
    "q65_entity_suggest" ->
      s"""WITH c AS (SELECT ${normNameSql("p_name")} AS canonical_name,
         |${normTypeSql(rawPartTypeSql)} AS entity_type, COUNT(*) AS n_mentions
         |FROM part GROUP BY 1, 2)
         |SELECT canonical_name, entity_type, n_mentions FROM c
         |WHERE canonical_name LIKE 's%'
         |ORDER BY n_mentions DESC, canonical_name LIMIT 10""".stripMargin,
    "q60_graph_export" ->
      s"""WITH cooc AS ($coocSql),
         |f AS (SELECT DISTINCT p_name FROM part WHERE regexp_matches(p_name, 'widget|gizmo')),
         |ep AS (SELECT DISTINCT entity FROM (
         |  SELECT entity_a AS entity FROM cooc UNION SELECT entity_b AS entity FROM cooc))
         |SELECT CAST((SELECT COUNT(*) FROM f) AS BIGINT) AS n_full,
         |CAST((SELECT COUNT(*) FROM ep WHERE entity NOT IN (SELECT p_name FROM f)) AS BIGINT) AS n_stub,
         |CAST((SELECT COUNT(*) FROM cooc) AS BIGINT) AS n_rels""".stripMargin,
    "q57_graph_search" ->
      s"""WITH cooc AS ($coocSql),
         |d AS (SELECT entity_a AS entity, entity_b AS neighbor FROM cooc
         |      UNION ALL SELECT entity_b, entity_a FROM cooc)
         |SELECT entity, COUNT(*) AS n_connected,
         |array_to_string(list_sort(list(neighbor)), '|') AS connected
         |FROM d WHERE strpos(entity, 'bolt') > 0 GROUP BY entity""".stripMargin,
    "q58_rag_context" ->
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |sc AS (SELECT doc_id, text, ${cosSql("embedding", "qv")} AS s
         |  FROM documents JOIN embeddings ON doc_id = vec_id CROSS JOIN q
         |  WHERE lang = 'en'),
         |top AS (SELECT * FROM sc ORDER BY sc.s DESC, doc_id LIMIT 5)
         |SELECT COUNT(*) AS n_docs, CAST(SUM(length(text)) AS BIGINT) AS n_chars,
         |string_agg('[doc:' || CAST(doc_id AS VARCHAR) || '] ' || substr(text, 1, 120),
         |  chr(10) || chr(10) ORDER BY top.s DESC, doc_id) AS context
         |FROM top""".stripMargin,
    "q59_filtered_vector" ->
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |sc AS (SELECT doc_id, source, ${cosSql("embedding", "qv")} AS s
         |  FROM documents JOIN embeddings ON doc_id = vec_id CROSS JOIN q
         |  WHERE lang = 'en' AND source IN ('src1', 'src2', 'src3'))
         |SELECT doc_id, source, round(sc.s, 6) AS score FROM sc
         |ORDER BY sc.s DESC, doc_id LIMIT 10""".stripMargin,
    "q56_canonical_desc" ->
      s"""WITH c AS (SELECT DISTINCT ${normNameSql("p_name")} AS canonical_name,
         |${normTypeSql(rawPartTypeSql)} AS entity_type FROM part)
         |SELECT canonical_name, entity_type,
         |'CTX: ' || array_to_string(list_slice(list_filter(
         |  string_split(canonical_name || ' (' || lower(entity_type) || ')', ' '),
         |  w -> w <> ''), 1, 8), ' ') AS description
         |FROM c""".stripMargin,
    "q27_entity_normalize" ->
      s"""SELECT p_partkey, ${normNameSql("p_name")} AS canonical_name,
         |${normTypeSql(rawPartTypeSql)} AS entity_type FROM part""".stripMargin,
    "q28_canonicalize" ->
      s"""SELECT ${normNameSql("p_name")} AS canonical_name,
         |${normTypeSql(rawPartTypeSql)} AS entity_type,
         |MIN(p_partkey) AS canonical_id, COUNT(*) AS n_mentions
         |FROM part GROUP BY 1, 2""".stripMargin,
    "q73_fuzzy_tiers" ->
      s"""WITH n0 AS (SELECT DISTINCT ${normMatchSql("p_name")} AS name FROM part),
         |n1 AS (SELECT name, ${expandAbbrSql("name")} AS exp
         |      FROM n0 WHERE len(name) > 0),
         |n AS (SELECT name, exp,
         |      unnest(list_distinct([substr(name, 1, 2), substr(exp, 1, 2)])) AS blk
         |      FROM n1),
         |p AS (SELECT DISTINCT a.name AS name_a, b.name AS name_b,
         |      a.exp AS exp_a, b.exp AS exp_b,
         |      string_split(a.name, ' ') AS wa, string_split(b.name, ' ') AS wb
         |      FROM n a JOIN n b
         |        ON a.blk = b.blk AND a.name < b.name),
         |s AS (SELECT name_a, name_b,
         |  CASE WHEN name_a = name_b THEN CAST(1.0 AS DOUBLE)
         |       WHEN ${pluralEqSql("name_a", "name_b", "wa", "wb")} THEN CAST(0.98 AS DOUBLE)
         |       WHEN exp_a = exp_b THEN CAST(0.95 AS DOUBLE)
         |       ELSE greatest(
         |         greatest(${levRatioSql("name_a", "name_b")}, ${levRatioSql("exp_a", "exp_b")},
         |                  ${levRatioSql("name_a", "exp_b")}, ${levRatioSql("exp_a", "name_b")}),
         |         CASE WHEN strpos(name_b, name_a) > 0 OR strpos(name_a, name_b) > 0
         |              THEN CAST(0.85 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END,
         |         CASE WHEN regexp_replace(name_a, '[^a-z0-9]', '', 'g') = regexp_replace(name_b, '[^a-z0-9]', '', 'g')
         |              THEN CAST(0.9 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END)
         |  END AS sim FROM p)
         |SELECT name_a, name_b, sim FROM s WHERE sim >= 0.5""".stripMargin,
    "q29_fuzzy_pairs" ->
      s"""WITH n AS (SELECT DISTINCT ${normNameSql("p_name")} AS name FROM part),
         |p AS (SELECT a.name AS name_a, b.name AS name_b,
         |      levenshtein(a.name, b.name) AS lev
         |      FROM n a JOIN n b
         |        ON substr(a.name, 1, 2) = substr(b.name, 1, 2) AND a.name < b.name)
         |SELECT name_a, name_b, lev,
         |1.0 - CAST(lev AS DOUBLE) / CAST(greatest(len(name_a), len(name_b)) AS DOUBLE) AS sim
         |FROM p
         |WHERE 1.0 - CAST(lev AS DOUBLE) / CAST(greatest(len(name_a), len(name_b)) AS DOUBLE) >= 0.5""".stripMargin,
    "q30_cooccurrence" -> coocSql,
    "q31_entity_2hop" ->
      s"""WITH cooc AS ($coocSql),
         |directed AS (SELECT entity_a AS u, entity_b AS v, n_docs FROM cooc
         |             UNION ALL SELECT entity_b, entity_a, n_docs FROM cooc),
         |ranked AS (SELECT u, v,
         |           ROW_NUMBER() OVER (PARTITION BY u ORDER BY n_docs DESC, v) AS rnk
         |           FROM directed),
         |e AS (SELECT DISTINCT least(u, v) AS entity_a, greatest(u, v) AS entity_b
         |      FROM ranked WHERE rnk <= 3),
         |und AS (SELECT entity_a AS s, entity_b AS d FROM e
         |        UNION SELECT entity_b, entity_a FROM e),
         |h2 AS (SELECT DISTINCT a.s, b.d FROM und a JOIN und b
         |       ON a.d = b.s AND a.s <> b.d),
         |allh AS (SELECT s, d, 1 AS hops FROM und
         |         UNION ALL SELECT s, d, 2 FROM h2),
         |mh AS (SELECT s, d, MIN(hops) AS h FROM allh GROUP BY s, d)
         |SELECT s AS entity,
         |CAST(COUNT(*) FILTER (h = 1) AS BIGINT) AS n_1hop,
         |CAST(COUNT(*) FILTER (h = 2) AS BIGINT) AS n_2hop
         |FROM mh GROUP BY s""".stripMargin,
    "q32_validate_rels" -> {
      // generated from Entities.relTaxonomy so the sides cannot drift
      val typesSql = "['" + q32Types.mkString("','") + "']"
      val labelsSql = "['" + Entities.relTaxonomy.map(_._1).mkString("','") + "']"
      val validCase = Entities.relTaxonomy.map { case (l, ss, ts) =>
        def cond(c: String, allowed: Seq[String]) =
          if (allowed == Seq("Any")) "TRUE"
          else s"$c IN (${allowed.map(t => s"'$t'").mkString(", ")})"
        s"WHEN relationship_type = '$l' THEN (${cond("src_type", ss)}) AND (${cond("tgt_type", ts)})"
      }.mkString(" ")
      s"""WITH cooc AS ($coocSql),
         |rels AS (
         |  SELECT entity_a AS src, entity_b AS tgt, n_docs FROM cooc
         |  UNION ALL
         |  SELECT entity_b AS src, entity_a AS tgt, n_docs FROM cooc),
         |typed AS (SELECT src, tgt, n_docs,
         |  $typesSql[CAST(len(src) % 8 + 1 AS INT)] AS src_type,
         |  $typesSql[CAST(len(tgt) % 8 + 1 AS INT)] AS tgt_type,
         |  $labelsSql[CAST((len(src) * 7 + len(tgt) * 13 + n_docs) % 14 + 1 AS INT)] AS relationship_type,
         |  ${normConfSql("n_docs")} AS conf
         |  FROM rels)
         |SELECT src, tgt, relationship_type, MAX(conf) AS confidence
         |FROM typed
         |WHERE CASE $validCase ELSE FALSE END
         |GROUP BY src, tgt, relationship_type""".stripMargin
    })

  /** hex→int of the first `n` hex chars of md5(x) (DuckDB fragment —
    * twin of Multimodal.decodeStub's leading-bytes extraction). */
  private def md5HexValSql(x: String, n: Int): String = {
    val terms = (0 until n).map { i =>
      val p = n - 1 - i
      s"(strpos('0123456789abcdef', substr(md5($x), ${i + 1}, 1)) - 1) * ${math.pow(16, p).toLong}"
    }
    terms.mkString("(", " + ", ")")
  }

  private def twoTierOracles: Map[String, String] = Map(
    "q67_frame_sample" ->
      s"""WITH f AS (SELECT doc_id AS media_id, CAST(i AS INT) AS frame_index,
         |  CAST(i * 48 AS INT) AS "offset",
         |  substr(text, CAST(i * 48 + 1 AS INT), 64) AS ftext
         |  FROM (SELECT doc_id, text,
         |        unnest(range(0, CAST(ceil(length(text) / 48.0) AS BIGINT))) AS i
         |        FROM documents))
         |SELECT media_id, frame_index, "offset",
         |CAST(length(ftext) AS INT) AS n_bytes,
         |${stubEmbSqlFor("ftext", 0)} AS f0
         |FROM f""".stripMargin,
    "q80_bloom_prefilter" -> {
      def posExpr(i: Int, itemSql: String) =
        s"(${md5HexValSql(s"'$i:' || $itemSql", 12)}) % 4096"
      val u = "CAST(user_id AS VARCHAR)"
      s"""WITH pos AS (SELECT event_type,
         |  unnest([${posExpr(0, u)}, ${posExpr(1, u)}, ${posExpr(2, u)}]) AS p
         |  FROM events),
         |b AS (SELECT event_type, list(DISTINCT p) AS bl,
         |  COUNT(DISTINCT p) AS n_bits FROM pos GROUP BY event_type),
         |pp AS (SELECT [${posExpr(0, "pr")}, ${posExpr(1, "pr")},
         |  ${posExpr(2, "pr")}] AS plist
         |  FROM (SELECT 'probe:' || CAST(x AS VARCHAR) AS pr
         |        FROM range(1, 201) AS t(x))),
         |f AS (SELECT event_type, COUNT(*) AS n_fp FROM b CROSS JOIN pp
         |  WHERE list_has_all(b.bl, pp.plist) GROUP BY event_type)
         |SELECT b.event_type, CAST(b.n_bits AS INT) AS n_bits,
         |coalesce(f.n_fp, 0) AS n_fp
         |FROM b LEFT JOIN f USING (event_type)""".stripMargin
    },
    "q78_audio_segments" ->
      s"""WITH s AS (SELECT doc_id AS media_id, CAST(i AS INT) AS segment_index,
         |  CAST(i * 48 AS BIGINT) AS so,
         |  substr(text, CAST(i * 48 + 1 AS INT), 64) AS stext
         |  FROM (SELECT doc_id, text,
         |        unnest(range(0, CAST(ceil(length(text) / 48.0) AS BIGINT))) AS i
         |        FROM documents))
         |SELECT media_id, segment_index,
         |CAST((so * 1000) // 8000 AS BIGINT) AS start_ms,
         |CAST(((so + length(stext)) * 1000) // 8000 AS BIGINT) AS end_ms,
         |CAST(length(stext) AS INT) AS n_bytes,
         |${stubEmbSqlFor("stext", 0)} AS f0
         |FROM s""".stripMargin,
    "q62_ingest_pipeline" ->
      s"""WITH d AS (SELECT doc_id, $allToksSql AS toks FROM documents),
         |p AS (SELECT doc_id, i AS page_index,
         |      list_slice(toks, i*80+1, i*80+100) AS ptoks
         |      FROM (SELECT doc_id, toks,
         |            unnest(generate_series(0, CAST(floor((greatest(len(toks),1)-1)/80) AS INT))) AS i
         |            FROM d)),
         |c AS (SELECT doc_id, page_index,
         |      array_to_string(list_slice(ptoks, j*25+1, j*25+25), ' ') AS chunk_text
         |      FROM (SELECT doc_id, page_index, ptoks,
         |            unnest(generate_series(0, CAST(floor((greatest(len(ptoks),1)-1)/25) AS INT))) AS j
         |            FROM p)),
         |ca AS (SELECT doc_id, COUNT(DISTINCT page_index) AS n_pages, COUNT(*) AS n_chunks,
         |       SUM(${stubEmbSqlFor("chunk_text", 0)}) AS sum_e0
         |       FROM c GROUP BY doc_id),
         |idx AS (SELECT doc_id, unnest($toksSql) AS token FROM documents),
         |rare AS (SELECT token FROM (SELECT token, COUNT(DISTINCT doc_id) AS df
         |  FROM idx GROUP BY token) WHERE df <= 2),
         |m AS (SELECT doc_id, COUNT(*) AS n_mentions FROM idx JOIN rare USING (token)
         |  GROUP BY doc_id)
         |SELECT ca.doc_id, ca.n_pages, ca.n_chunks, ca.sum_e0,
         |coalesce(m.n_mentions, 0) AS n_mentions
         |FROM ca LEFT JOIN m ON ca.doc_id = m.doc_id""".stripMargin,
    "q34_two_tier_chunks" ->
      s"""WITH d AS (SELECT doc_id, $allToksSql AS toks FROM documents),
         |p AS (SELECT doc_id, i AS page_index,
         |      list_slice(toks, i*80+1, i*80+100) AS ptoks
         |      FROM (SELECT doc_id, toks,
         |            unnest(generate_series(0, CAST(floor((greatest(len(toks),1)-1)/80) AS INT))) AS i
         |            FROM d)),
         |c AS (SELECT doc_id, page_index, j AS child_index,
         |      list_slice(ptoks, j*25+1, j*25+25) AS ctoks
         |      FROM (SELECT doc_id, page_index, ptoks,
         |            unnest(generate_series(0, CAST(floor((greatest(len(ptoks),1)-1)/25) AS INT))) AS j
         |            FROM p))
         |SELECT doc_id, page_index, child_index,
         |md5(concat_ws('_', CAST(doc_id AS VARCHAR), 'page', CAST(page_index AS VARCHAR))) AS page_id,
         |md5(concat_ws('_',
         |  md5(concat_ws('_', CAST(doc_id AS VARCHAR), 'page', CAST(page_index AS VARCHAR))),
         |  'child', CAST(child_index AS VARCHAR))) AS chunk_id,
         |array_to_string(ctoks, ' ') AS chunk_text, len(ctoks) AS n_tokens
         |FROM c""".stripMargin,
    "q35_contextualized" ->
      s"""WITH d AS (SELECT doc_id, $allToksSql AS toks FROM documents),
         |p AS (SELECT doc_id, i AS page_index,
         |      list_slice(toks, i*80+1, i*80+100) AS ptoks
         |      FROM (SELECT doc_id, toks,
         |            unnest(generate_series(0, CAST(floor((greatest(len(toks),1)-1)/80) AS INT))) AS i
         |            FROM d))
         |SELECT doc_id, page_index,
         |md5(concat_ws('_', CAST(doc_id AS VARCHAR), 'page', CAST(page_index AS VARCHAR))) AS page_id,
         |'CTX: ' || array_to_string(list_slice(ptoks, 1, 8), ' ') AS contextual_summary,
         |'CTX: ' || array_to_string(list_slice(ptoks, 1, 8), ' ') || ' | ' || array_to_string(ptoks, ' ') AS contextualized_text
         |FROM p""".stripMargin,
    "q36_multimodal_features" ->
      s"""SELECT doc_id AS media_id, 'image' AS kind,
         |strlen(text) AS n_bytes,
         |CAST(${md5HexValSql("text || chr(48)", 6)} AS DOUBLE) / 16777216.0 AS f0,
         |16 AS dim
         |FROM documents""".stripMargin,
    "q37_json_extract" ->
      """SELECT event_type, COUNT(*) AS n,
        |CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        |MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type""".stripMargin,
    "q55_semantic_focus" ->
      s"""WITH d AS (SELECT doc_id, $allToksSql AS toks FROM documents),
         |p AS (SELECT doc_id, i AS page_index,
         |      list_slice(toks, i*80+1, i*80+100) AS ptoks
         |      FROM (SELECT doc_id, toks,
         |            unnest(generate_series(0, CAST(floor((greatest(len(toks),1)-1)/80) AS INT))) AS i
         |            FROM d))
         |SELECT doc_id, page_index,
         |md5(concat_ws('_', CAST(doc_id AS VARCHAR), 'page', CAST(page_index AS VARCHAR))) AS page_id,
         |'CTX: ' || array_to_string(list_slice(ptoks, 1, 4), ' ') AS semantic_focus
         |FROM p""".stripMargin)

  /** DuckDB cosine fragment (same op order as VectorFunctions.cosine):
    * dot(a,b) / (||a|| * ||b||). */
  private def cosSql(a: String, b: String): String =
    s"""(list_sum(list_transform(generate_series(1, len($a)),
       |  i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))
       |/ (sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       | * sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))))""".stripMargin

  /** BM25 scored-docs CTE body (shared by q39/q42 oracles). */
  private def bm25CteSql: String = {
    val terms = bm25QueryTerms.map(q => s"'$q'").mkString(", ")
    s"""idx AS (SELECT doc_id, token, COUNT(*) AS tf FROM (
       |  SELECT doc_id, unnest($toksSql) AS token FROM documents) GROUP BY doc_id, token),
       |dls AS (SELECT doc_id, len($toksSql) AS dl FROM documents),
       |stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM dls),
       |m AS (SELECT * FROM idx WHERE token IN ($terms)),
       |dfreq AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM m GROUP BY token),
       |lex AS (SELECT m.doc_id, SUM(
       |  ln(1.0 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
       |    * (m.tf * (1.2 + 1)) / (m.tf + 1.2 * (1.0 - 0.75 + 0.75 * dls.dl / stats.avgdl))) AS score
       |  FROM m JOIN dfreq USING (token) JOIN dls USING (doc_id) CROSS JOIN stats GROUP BY m.doc_id)""".stripMargin
  }

  /** Embedding-stub component k (DuckDB) — twin of StubEmbedder. */
  private def stubEmbSql(k: Int): String =
    s"(CAST(${md5HexValSql(s"text || chr(${48 + k})", 6)} AS DOUBLE) / 16777216.0)"

  private def searchOracles: Map[String, String] = {
    val terms = bm25QueryTerms.map(q => s"'$q'").mkString(", ")
    Map(
      "q38_metadata_tags" ->
        """SELECT p_partkey,
          |CAST(regexp_extract(p_brand, '([0-9]+)', 1) AS INT) AS brand_num,
          |array_to_string(list_sort(list_distinct(
          |  list_concat(string_split(p_name, ' '), [lower(p_type)]))), ',') AS tags
          |FROM part""".stripMargin,
      "q39_weighted_merge" ->
        s"""WITH $bm25CteSql,
           |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
           |vec AS (SELECT vec_id AS doc_id, ${cosSql("embedding", "qv")} AS score
           |        FROM embeddings, q),
           |lmax AS (SELECT MAX(score) AS m FROM lex),
           |merged AS (SELECT coalesce(vec.doc_id, lex.doc_id) AS doc_id,
           |  0.7 * coalesce(vec.score, 0.0) + 0.3 * (coalesce(lex.score, 0.0) / lmax.m) AS blended
           |  FROM vec FULL OUTER JOIN lex ON vec.doc_id = lex.doc_id CROSS JOIN lmax)
           |SELECT doc_id, round(blended, 6) AS blended FROM merged
           |ORDER BY merged.blended DESC, doc_id LIMIT 10""".stripMargin,
      "q40_multivector_fusion" ->
        s"""WITH q0 AS (SELECT embedding AS qt FROM embeddings WHERE vec_id = 0),
           |q1 AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 1),
           |sc AS (SELECT vec_id,
           |  ${cosSql("embedding", "qt")} AS ts, ${cosSql("embedding", "qv")} AS vs
           |  FROM embeddings, q0, q1),
           |f AS (SELECT vec_id, 0.6 * ts + 0.4 * vs AS fused FROM sc)
           |SELECT vec_id, round(fused, 6) AS fused FROM f
           |ORDER BY f.fused DESC, vec_id LIMIT 10""".stripMargin,
      "q41_suggestions" ->
        """SELECT DISTINCT p_name FROM part WHERE p_name LIKE 'sm%'
          |ORDER BY p_name LIMIT 10""".stripMargin,
      "q42_rerank_boost" ->
        s"""WITH $bm25CteSql,
           |top20 AS (SELECT doc_id, score FROM lex ORDER BY score DESC, doc_id LIMIT 20),
           |wt AS (SELECT t.doc_id, t.score,
           |  len(list_filter(list_distinct($toksSql), x -> x IN ($terms))) AS overlap
           |  FROM top20 t JOIN documents USING (doc_id)),
           |b AS (SELECT doc_id, overlap,
           |  score * (1.0 + 0.1 * CAST(overlap AS DOUBLE)) AS boosted FROM wt)
           |SELECT doc_id, overlap, round(boosted, 6) AS boosted FROM b
           |ORDER BY b.boosted DESC, doc_id LIMIT 10""".stripMargin,
      "q43_embed_stub" ->
        s"""SELECT doc_id, ${stubEmbSql(0)} AS e0,
           |sqrt(${(0 until 8).map(k => s"${stubEmbSql(k)} * ${stubEmbSql(k)}").mkString(" + ")}) AS norm
           |FROM documents""".stripMargin)
  }

  /** Stub-embedding component k over an arbitrary SQL text expr. */
  private def stubEmbSqlFor(x: String, k: Int): String =
    s"(CAST(${md5HexValSql(s"$x || chr(${48 + k})", 6)} AS DOUBLE) / 16777216.0)"

  private def semanticOracles: Map[String, String] = {
    // dim-4 stub embeddings of the pseudo-sentence text; cosine with
    // the previous sentence in EXACTLY VectorFunctions.cosine op order
    def dot(p: String, c: String) =
      (0 until 4).map(k => s"${p}$k * ${c}$k").mkString("0.0 + ", " + ", "")
    def norm(v: String) =
      "sqrt(" + (0 until 4).map(k => s"${v}$k * ${v}$k").mkString("0.0 + ", " + ", "") + ")"
    val embCols = (0 until 4).map(k => s"${stubEmbSqlFor("stext", k)} AS c$k").mkString(",\n")
    val lagCols = (0 until 4).map(k => s"lag(c$k) OVER w AS p$k").mkString(", ")
    // table-qualified twins of dot/norm for the adjacent-chunk
    // cross join in the merge pass
    def normAB(t: String) =
      "sqrt(" + (0 until 4).map(k => s"$t.c$k * $t.c$k").mkString("0.0 + ", " + ", "") + ")"
    val dotXY = (0 until 4).map(k => s"x.c$k * y.c$k").mkString("0.0 + ", " + ", "")
    Map(
      "q44_semantic_chunks" ->
        s"""WITH d AS (SELECT doc_id, $allToksSql AS toks FROM documents),
           |sn AS (SELECT doc_id, i AS sent_index,
           |  array_to_string(list_slice(toks, i*10+1, i*10+10), ' ') AS stext
           |  FROM (SELECT doc_id, toks,
           |        unnest(generate_series(0, CAST(floor((greatest(len(toks),1)-1)/10) AS INT))) AS i
           |        FROM d)),
           |e AS (SELECT doc_id, sent_index, stext,
           |$embCols
           |FROM sn),
           |l AS (SELECT doc_id, sent_index, stext, c0, c1, c2, c3, $lagCols
           |      FROM e WINDOW w AS (PARTITION BY doc_id ORDER BY sent_index)),
           |b AS (SELECT doc_id, sent_index, stext, c0, c1, c2, c3,
           |  CASE WHEN p0 IS NULL THEN 1
           |       WHEN (CASE WHEN ${norm("p")} > 0 AND ${norm("c")} > 0
           |             THEN (${dot("p", "c")}) / (${norm("p")} * ${norm("c")})
           |             ELSE 0.0 END) < 0.85 THEN 1 ELSE 0 END AS boundary
           |  FROM l),
           |r AS (SELECT doc_id, sent_index, stext, c0, c1, c2, c3,
           |  SUM(boundary) OVER (PARTITION BY doc_id ORDER BY sent_index
           |                      ROWS UNBOUNDED PRECEDING) AS chunk_index
           |  FROM b),
           |ck AS (SELECT doc_id, chunk_index,
           |  string_agg(stext, ' ' ORDER BY sent_index) AS ctext,
           |  COUNT(*) AS n_sent,
           |  SUM(len(list_filter(string_split(stext, ' '), x -> x <> ''))) AS tokens
           |  FROM r GROUP BY doc_id, chunk_index),
           |-- mean pairwise cosine between adjacent chunks' sentences
           |-- (semantic_chunker.py:128-130 similarity-matrix block mean)
           |xs AS (SELECT x.doc_id, x.chunk_index,
           |  AVG(CASE WHEN ${normAB("x")} > 0 AND ${normAB("y")} > 0
           |      THEN ($dotXY) / (${normAB("x")} * ${normAB("y")})
           |      ELSE 0.0 END) AS nxt_sim
           |  FROM r x JOIN r y
           |    ON x.doc_id = y.doc_id AND y.chunk_index = x.chunk_index + 1
           |  GROUP BY x.doc_id, x.chunk_index),
           |-- merge_short_chunks (semantic_chunker.py:105-141): a chunk
           |-- under 15 tokens merges into its next neighbor when
           |-- nxt_sim >= 0.8*0.85; the sequential scan = merges at even
           |-- offsets within each run of consecutive eligible chunks
           |el AS (SELECT ck.doc_id, ck.chunk_index, ck.ctext, ck.n_sent,
           |  CASE WHEN xs.nxt_sim IS NOT NULL AND ck.tokens < 15
           |            AND xs.nxt_sim >= 0.85 * 0.8 THEN 1 ELSE 0 END AS elig
           |  FROM ck LEFT JOIN xs USING (doc_id, chunk_index)),
           |sg AS (SELECT *, SUM(1 - elig) OVER (PARTITION BY doc_id
           |  ORDER BY chunk_index ROWS UNBOUNDED PRECEDING) AS seg FROM el),
           |mg AS (SELECT *, CASE WHEN elig = 1 AND (chunk_index -
           |    MIN(CASE WHEN elig = 1 THEN chunk_index END)
           |      OVER (PARTITION BY doc_id, seg)) % 2 = 0
           |  THEN 1 ELSE 0 END AS merge_at FROM sg),
           |cs AS (SELECT *, COALESCE(LAG(merge_at)
           |  OVER (PARTITION BY doc_id ORDER BY chunk_index), 0) AS consumed FROM mg),
           |f AS (SELECT doc_id, chunk_index - consumed AS grp,
           |  string_agg(ctext, ' ' ORDER BY chunk_index) AS chunk_text,
           |  SUM(n_sent) AS n_sentences
           |  FROM cs GROUP BY doc_id, chunk_index - consumed)
           |SELECT doc_id,
           |CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY grp) AS BIGINT) AS chunk_index,
           |chunk_text, CAST(n_sentences AS BIGINT) AS n_sentences
           |FROM f""".stripMargin,
      "q45_fanout" ->
        """SELECT source, COUNT(*) AS n_hits, MIN(id) AS min_id, MAX(id) AS max_id FROM (
          |SELECT 'documents' AS source, doc_id AS id FROM documents
          |  WHERE strpos(lower(text), 'small') > 0
          |UNION ALL
          |SELECT 'part', p_partkey FROM part WHERE strpos(lower(p_name), 'small') > 0
          |UNION ALL
          |SELECT 'supplier', s_suppkey FROM supplier WHERE strpos(lower(s_name), 'small') > 0)
          |GROUP BY source""".stripMargin,
      "q48_ivf_ann" ->
        s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
           |comps AS (SELECT label, dim, avg(v) AS c FROM (
           |          SELECT label,
           |          unnest(generate_series(1, len(embedding))) AS dim,
           |          unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS v
           |          FROM embeddings) GROUP BY label, dim),
           |cents AS (SELECT label, list(c ORDER BY dim) AS centroid
           |          FROM comps GROUP BY label),
           |ps AS (SELECT label, ${cosSql("centroid", "qv")} AS rep_score FROM cents, q),
           |probed AS (SELECT label FROM ps ORDER BY rep_score DESC, label LIMIT 4),
           |c AS (SELECT e.vec_id, e.label, ${cosSql("e.embedding", "qv")} AS cos
           |      FROM embeddings e JOIN probed USING (label) CROSS JOIN q
           |      WHERE e.vec_id <> 0)
           |SELECT vec_id, label, round(cos, 6) AS score FROM c
           |ORDER BY c.cos DESC, vec_id LIMIT 10""".stripMargin,
      "q49_rerank_client" -> {
        val qts = bm25QueryTerms.distinct
        val qlist = qts.map(t => s"'$t'").mkString(", ")
        s"""WITH $bm25CteSql,
           |top20 AS (SELECT doc_id FROM lex ORDER BY score DESC, doc_id LIMIT 20),
           |scored AS (SELECT t.doc_id,
           |  CAST(len(list_filter([$qlist],
           |    x -> list_contains(string_split_regex(lower(d.text), '\\s+'), x))) AS DOUBLE)
           |  / ${qts.length}.0 AS rerank_score
           |  FROM top20 t JOIN documents d USING (doc_id))
           |SELECT doc_id, rerank_score FROM scored
           |ORDER BY rerank_score DESC, doc_id LIMIT 10""".stripMargin
      },
      "q50_graph_stats" ->
        s"""WITH cooc AS ($coocSql),
           |typed AS (SELECT DISTINCT ${normNameSql("p_name")} AS name,
           |          ${normTypeSql(rawPartTypeSql)} AS etype FROM part),
           |deg AS (SELECT name, COUNT(*) AS deg FROM (
           |  SELECT entity_a AS name FROM cooc
           |  UNION ALL SELECT entity_b FROM cooc) GROUP BY name)
           |SELECT etype, COUNT(*) AS n_nodes,
           |CAST(coalesce(SUM(deg), 0) AS BIGINT) AS total_degree,
           |CAST(MAX(coalesce(deg, 0)) AS BIGINT) AS max_degree
           |FROM typed LEFT JOIN deg USING (name)
           |GROUP BY etype""".stripMargin,
      "q46_dedup_groups" ->
        s"""WITH RECURSIVE $fuzzyGroupsCteSql
           |SELECT node, MIN(r) AS comp FROM reach GROUP BY node""".stripMargin,
      "q79_dedup_merge" ->
        s"""WITH RECURSIVE $fuzzyGroupsCteSql,
           |m AS (SELECT node, MIN(r) AS comp FROM reach GROUP BY node),
           |c AS (SELECT node, comp,
           |      CAST(length(node) % 7 AS DOUBLE) / 10 + 0.3 AS confidence FROM m),
           |rk AS (SELECT *, row_number() OVER (
           |        PARTITION BY comp ORDER BY confidence DESC, node ASC) AS rn
           |      FROM c)
           |SELECT comp,
           |MAX(CASE WHEN rn = 1 THEN node END) AS canonical_name,
           |MAX(confidence) AS confidence,
           |COUNT(*) AS n_members,
           |coalesce(string_agg(node, '|' ORDER BY node)
           |  FILTER (WHERE rn > 1), '') AS aliases
           |FROM rk GROUP BY comp""".stripMargin)
  }

  /** Language-ID oracle generated from TextFunctions.langMarkers so the
    * lexicons can never drift between Spark and DuckDB. */
  private def langIdOracleSql: String = {
    val scores = TextFunctions.langMarkers.map { case (lang, ms) =>
      val lst = ms.map(m => s"'$m'").mkString(", ")
      s"len(list_filter($allToksSql, t -> t IN ($lst))) AS s_$lang"
    }.mkString(",\n")
    val langs = TextFunctions.langMarkers.map(_._1)
    val best = langs.map(l => s"s_$l").mkString("greatest(", ", ", ")")
    val cases = langs.map(l => s"WHEN best > 0 AND s_$l = best THEN '$l'").mkString(" ")
    s"""WITH s AS (SELECT doc_id,
       |$scores
       |FROM documents),
       |b AS (SELECT doc_id, s.*, $best AS best FROM s)
       |SELECT doc_id, CASE $cases ELSE 'unk' END AS lang_pred FROM b""".stripMargin
  }

  /** SimHash oracle: same md5-hex bit extraction and ±1 voting as
    * Dedup.simhash (all-integer math → exact parity). */
  /** The simhash WITH-body (tok/bits/nib/hx), shared by q19 and the
    * q216 hamming-candidate twin; hx carries token-bearing docs only. */
  private def simhashCtes: String =
    s"""tok AS (SELECT doc_id, unnest($toksSql) AS t FROM documents),
       |bits AS (SELECT doc_id, i,
       |  SUM(CASE WHEN CAST(floor((strpos('0123456789abcdef',
       |      substr(md5(t), CAST(floor(i / 4) AS INT) + 1, 1)) - 1)
       |      / power(2.0, i % 4)) AS INT) % 2 = 1 THEN 1 ELSE -1 END) AS vote
       |  FROM tok CROSS JOIN generate_series(0, 63) g(i) GROUP BY doc_id, i),
       |nib AS (SELECT doc_id, CAST(floor(i / 4) AS INT) AS ni,
       |  CAST(SUM(CASE WHEN vote > 0 THEN CAST(power(2.0, i % 4) AS INT) ELSE 0 END) AS INT) AS nibval
       |  FROM bits GROUP BY doc_id, CAST(floor(i / 4) AS INT)),
       |hx AS (SELECT doc_id,
       |  string_agg(substr('0123456789abcdef', nibval + 1, 1), '' ORDER BY ni) AS sh
       |  FROM nib GROUP BY doc_id)""".stripMargin

  /** One-shot RefinedWeb line-dedup law over the synthesized crawl
    * layout: distinct-doc df >= 20 convicts (trim-empty lines never
    * do); survivors string_agg in position order; a doc losing every
    * line renders ''. Shared by q211 (one-shot TRAIN) and q222 (the
    * three-snapshot merged conviction must EQUAL it). */
  private def boilerplateLinesOracleSql: String =
    s"""WITH d AS (SELECT doc_id, concat_ws(chr(10),
         |  'cookie notice: we use cookies to improve your experience.',
         |  '   ', text,
         |  CASE WHEN doc_id % 4 = 0
         |    THEN 'subscribe to our newsletter today.' END,
         |  'footer variant ' || CAST(doc_id % 30 AS VARCHAR)) AS text
         |  FROM documents),
         |l AS (SELECT doc_id,
         |  generate_subscripts(string_split(text, chr(10)), 1) AS pos,
         |  unnest(string_split(text, chr(10))) AS line FROM d),
         |f AS (SELECT line FROM l WHERE trim(line) <> ''
         |  GROUP BY line HAVING count(DISTINCT doc_id) >= 20),
         |k AS (SELECT l.doc_id, count(*) AS nk,
         |  string_agg(l.line, chr(10) ORDER BY l.pos) AS clean
         |  FROM l LEFT JOIN f ON l.line = f.line
         |  WHERE f.line IS NULL GROUP BY l.doc_id),
         |n AS (SELECT doc_id,
         |  len(string_split(text, chr(10))) AS nl FROM d)
         |SELECT n.doc_id, CAST(nl AS BIGINT) AS n_lines,
         |  CAST(nl - coalesce(nk, 0) AS BIGINT) AS n_removed,
         |  coalesce(clean, '') AS clean_text
         |FROM n LEFT JOIN k USING (doc_id)""".stripMargin

  /** The 56 five-of-eight block subsets of the q216 Manku tables. */
  private def simhashCombosValues: String =
    (0 until 8).combinations(5).zipWithIndex
      .map { case (c, tid) => s"($tid, ${c.mkString(", ")})" }
      .mkString(", ")

  private def simhashOracleSql: String =
    s"""WITH $simhashCtes
       |SELECT d.doc_id, coalesce(hx.sh, '0000000000000000') AS simhash
       |FROM documents d LEFT JOIN hx ON d.doc_id = hx.doc_id""".stripMargin

  /** BM25 oracle: identical formula/op-order as Search.scoreWith. */
  private def bm25OracleSql(limit: Int): String = {
    val terms = bm25QueryTerms.map(q => s"'$q'").mkString(", ")
    s"""WITH idx AS (SELECT doc_id, token, COUNT(*) AS tf FROM (
       |  SELECT doc_id, unnest($toksSql) AS token FROM documents) GROUP BY doc_id, token),
       |dls AS (SELECT doc_id, len($toksSql) AS dl FROM documents),
       |stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM dls),
       |m AS (SELECT * FROM idx WHERE token IN ($terms)),
       |dfreq AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM m GROUP BY token),
       |scored AS (SELECT m.doc_id,
       |  ln(1.0 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
       |    * (m.tf * (1.2 + 1)) / (m.tf + 1.2 * (1.0 - 0.75 + 0.75 * dls.dl / stats.avgdl)) AS term_score
       |  FROM m JOIN dfreq USING (token) JOIN dls USING (doc_id) CROSS JOIN stats)
       |SELECT doc_id, round(SUM(term_score), 6) AS score FROM scored
       |GROUP BY doc_id ORDER BY SUM(term_score) DESC, doc_id LIMIT $limit""".stripMargin
  }

  /** RRF oracle: BM25 ranks ⊕ cosine ranks, 1/(60+rank), top 10. */
  /** Shared lex+vec RRF CTE chain (through `ranked`) for the q24 and
    * q88 oracles. */
  private def rrfCoreSql: String = {
    val terms = bm25QueryTerms.map(q => s"'$q'").mkString(", ")
    s"""idx AS (SELECT doc_id, token, COUNT(*) AS tf FROM (
       |  SELECT doc_id, unnest($toksSql) AS token FROM documents) GROUP BY doc_id, token),
       |dls AS (SELECT doc_id, len($toksSql) AS dl FROM documents),
       |stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM dls),
       |m AS (SELECT * FROM idx WHERE token IN ($terms)),
       |dfreq AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM m GROUP BY token),
       |lex AS (SELECT m.doc_id, SUM(
       |  ln(1.0 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
       |    * (m.tf * (1.2 + 1)) / (m.tf + 1.2 * (1.0 - 0.75 + 0.75 * dls.dl / stats.avgdl))) AS score
       |  FROM m JOIN dfreq USING (token) JOIN dls USING (doc_id) CROSS JOIN stats GROUP BY m.doc_id),
       |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |vec AS (SELECT vec_id AS doc_id,
       |  list_sum(list_transform(generate_series(1, len(embedding)),
       |    i -> CAST(embedding[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)))
       |  / (sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       |   * sqrt(list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS score
       |  FROM embeddings, q),
       |ranked AS (
       |  SELECT doc_id, 1.0 / (60 + ROW_NUMBER() OVER (ORDER BY score DESC, doc_id)) AS contrib FROM lex
       |  UNION ALL
       |  SELECT doc_id, 1.0 / (60 + ROW_NUMBER() OVER (ORDER BY score DESC, doc_id)) AS contrib FROM vec)""".stripMargin
  }

  private def rrfOracleSql: String =
    s"""WITH $rrfCoreSql
       |SELECT doc_id, round(SUM(contrib), 6) AS rrf FROM ranked
       |GROUP BY doc_id ORDER BY SUM(contrib) DESC, doc_id LIMIT 10""".stripMargin

  /** q126: the q24 fusion projected through the /search/quick response
    * frame — snippet cut at 200 + "..." only when strictly longer. */
  private def quickSearchOracleSql: String =
    s"""WITH $rrfCoreSql,
       |fused AS (SELECT doc_id, round(SUM(contrib), 6) AS score
       |  FROM ranked GROUP BY doc_id
       |  ORDER BY SUM(contrib) DESC, doc_id LIMIT 10)
       |SELECT f.doc_id, 'doc:' || f.doc_id AS title,
       |  CASE WHEN length(d.text) > 200 THEN substr(d.text, 1, 200) || '...'
       |       ELSE d.text END AS snippet,
       |  f.score, 'document' AS type
       |FROM fused f JOIN documents d USING (doc_id)""".stripMargin

  /** q88: the full three-source hybrid (search_service.py:370-423) —
    * the q24 fusion unlimited, then graph-only hits appended with
    * their raw scores, re-ranked to 10. */
  private def hybridGraphOracleSql: String =
    s"""WITH $rrfCoreSql,
       |fused AS (SELECT doc_id, round(SUM(contrib), 6) AS score
       |  FROM ranked GROUP BY doc_id),
       |graph AS (SELECT u AS doc_id,
       |  round(1.0 / (10.0 + CAST(u % 50 AS DOUBLE)), 6) AS score
       |  FROM (SELECT unnest([doc_id, doc_id + 1000000]) AS u
       |        FROM documents WHERE doc_id % 7 = 0)),
       |sel AS (SELECT doc_id, score FROM fused
       |  UNION ALL
       |  SELECT g.doc_id, g.score FROM graph g
       |  WHERE g.doc_id NOT IN (SELECT doc_id FROM fused))
       |SELECT doc_id, round(score, 6) AS score FROM sel
       |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin
}
