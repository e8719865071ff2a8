package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Partitioning
import graft.functions.TextFunctions

/** Lexical (BM25) search and hybrid reciprocal-rank fusion.
  *
  * Reference semantics:
  *  - BM25 k1=1.2 b=0.75, idf over the candidate corpus, doc-length
  *    norm vs average: app/services/search_service.py:287-368.
  *  - RRF fusion score = Σ_sources 1/(60 + rank): search_service.py:370-423.
  *
  * Spark-first shape: the inverted index (doc, term, tf) is a
  * precomputed DataFrame (one explode + groupBy at ingest — amortized);
  * a query is then `terms ⋈ index` (query terms broadcast — tiny) +
  * one groupBy(doc). Corpus stats (N, avgdl) are scalar aggregates the
  * optimizer evaluates once. No per-query full-text scan at 100 TB.
  */
object Search {

  /** Precomputed lexical index — the ingest-time artifact
    * (contextual_retrieval_schema.sql:33 bm25_statistics analogue).
    * Build once per corpus version, score many queries against it.
    *
    * `impacts` is the impact-ordered form: per (doc, token) the full
    * BM25 term contribution (idf × tf-saturation × length-norm) is
    * already folded in at the DEFAULT k1/b, so a query is
    * `filter(token ∈ terms) → groupBy(doc).sum` — one shuffle, no
    * joins, no corpus scan. Standard top-k search index shape. */
  final case class Bm25Index(idx: DataFrame, dls: DataFrame, stats: DataFrame,
      impacts: DataFrame, idCol: String)

  val defaultK1 = 1.2
  val defaultB = 0.75

  /** The shared (id, dl, _toks) token frame — ONE tokenization pass
    * that both the BM25 index and the shingle index derive from
    * (CorpusArtifacts builds it once per corpus). */
  def tokenBase(df: DataFrame, idCol: String, textCol: String): DataFrame =
    Partitioning.spread(df.select(col(idCol), col(textCol)))
      .withColumn("_toks", TextFunctions.bm25Tokens(col(textCol)))
      .select(col(idCol), size(col("_toks")).as("dl"), col("_toks"))

  /** Build the reusable index from a [[tokenBase]] frame; the caller
    * owns the base's lifecycle (persist it when several consumers read
    * it — the lazy frames reference it 4-5× per query plan — as
    * CorpusArtifacts does).
    *
    * `eager = true` is the ingest-job mode: the four output frames are
    * persisted and materialized NOW, so the returned index holds only
    * the compact artifacts and no query re-reads the base. */
  def buildIndexFromTokens(base: DataFrame, idCol: String,
      eager: Boolean = false): Bm25Index = {
    val idx = base
      .select(col(idCol), explode(col("_toks")).as("token"))
      .groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("tf"))
    val dls = base.select(col(idCol), col("dl"))
    val stats = dls.agg(count(lit(1)).cast("double").as("n_docs"),
      avg(col("dl")).as("avgdl"))
    // df per token: (id, token) rows are unique after the tf groupBy,
    // so count(1) per token IS the document frequency — a map-side-
    // combinable aggregate (only vocab-sized partials shuffle, unlike
    // the old countDistinct's Expand + double shuffle) joined back to
    // the postings. Deliberately NOT a count().over(partitionBy(token))
    // window: that shuffles the FULL postings frame by token and
    // buffers each token's rows in one unsplittable window partition —
    // a stopword token at corpus scale becomes a straggler AQE cannot
    // split (it can for joins, not windows).
    val impacts = termScores(
      idx.join(idx.groupBy(col("token")).agg(count(lit(1)).as("df")),
          Seq("token"))
        .join(dls, Seq(idCol))
        .crossJoin(broadcast(stats)),
      defaultK1, defaultB)
      .select(col(idCol), col("token"), col("term_score"))
    if (eager) {
      val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      // Range-partition + sort the impact index by token before
      // caching: the in-memory columnar scan keeps per-batch min/max
      // stats, so a query's `token IN (...)` filter PRUNES whole
      // cached batches instead of scanning the corpus-sized index
      // (sf1 measured: q23 0.49 s → ~0.2 s warm; the same layout a
      // storage-backed index would get from token-bucketed files).
      // One extra shuffle at INGEST time, amortized over every query.
      val impactsSorted = impacts
        .repartitionByRange(col("token"))
        .sortWithinPartitions("token")
      val out = Bm25Index(idx.persist(lvl), dls.persist(lvl),
        stats.persist(lvl), impactsSorted.persist(lvl), idCol)
      out.idx.count(); out.dls.count(); out.stats.count(); out.impacts.count()
      out
    } else Bm25Index(idx, dls, stats, impacts, idCol)
  }

  /** The BM25 per-(doc,token) contribution. One expression tree shared
    * by the ingest-time impact index and the ad-hoc k1/b path, so both
    * produce bit-identical doubles (and the DuckDB oracle mirrors it
    * verbatim). */
  private def termScores(joined: DataFrame, k1: Double, b: Double): DataFrame =
    joined
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("term_score",
        col("idf") * (col("tf") * (lit(k1) + 1)) /
          (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl"))))

  /** BM25 scores of `queryTerms` against a prebuilt index; one row
    * per matching doc: (id, score), with
    * idf = ln(1 + (N - df + 0.5)/(df + 0.5)). At the default k1/b this
    * reads the precomputed impact index (filter + one groupBy); custom
    * k1/b fall back to scoring from the raw postings.
    *
    * df over the matched postings == corpus df per matched token, so
    * precomputing idf at ingest is value-identical to the reference's
    * query-time candidate-relative idf (search_service.py:321-328). */
  def scoreWith(index: Bm25Index, queryTerms: Seq[String],
      k1: Double = defaultK1, b: Double = defaultB): DataFrame = {
    val qt = queryTerms.distinct
    if (k1 == defaultK1 && b == defaultB)
      index.impacts.where(col("token").isin(qt: _*))
        .groupBy(col(index.idCol))
        .agg(sum(col("term_score")).as("score"))
    else {
      val matched = index.idx.where(col("token").isin(qt: _*))
      val dfreq = matched.groupBy(col("token"))
        .agg(countDistinct(col(index.idCol)).as("df"))
      termScores(
        matched.join(broadcast(dfreq), Seq("token"))
          .join(index.dls, Seq(index.idCol))
          .crossJoin(broadcast(index.stats)), k1, b)
        .groupBy(col(index.idCol))
        .agg(sum(col("term_score")).as("score"))
    }
  }

  /** Legacy weighted merge (search_service.py:502-542): blended =
    * w·vector + (1-w)·(lexical/max_lexical), missing scores as 0,
    * over the full outer union of both result sets.
    */
  def weightedMerge(vec: DataFrame, lex: DataFrame, idCol: String,
      vecWeight: Double): DataFrame = {
    val v = vec.select(col(idCol), col("score").as("_v"))
    // not cached: a cache here has no release path. The max()
    // normalization branch evaluates the lexical subtree a second
    // time (AQE does not reuse its exchange: q39 plans two shuffle
    // stages over the impact index); a caller whose `lex` is
    // expensive to recompute passes an already-materialized frame and
    // owns its lifecycle.
    val l = lex.select(col(idCol), col("score").as("_l"))
    val maxLex = broadcast(l.agg(max(col("_l")).as("_lmax")))
    v.join(l, Seq(idCol), "full_outer")
      .crossJoin(maxLex)
      .withColumn("blended",
        lit(vecWeight) * coalesce(col("_v"), lit(0.0)) +
          lit(1.0 - vecWeight) * (coalesce(col("_l"), lit(0.0)) / col("_lmax")))
      .select(col(idCol), col("blended"))
  }

  /** Multi-vector (text/visual) linear fusion
    * (qdrant_service.py:306-389): w·text + (1-w)·visual. */
  def multiVectorFuse(scores: DataFrame, textCol: String, visualCol: String,
      w: Double): org.apache.spark.sql.Column =
    lit(w) * col(textCol) + lit(1.0 - w) * col(visualCol)

  /** Rerank fallback (search_service.py:544-567): boost =
    * score · (1 + 0.1 · |query_terms ∩ doc_tokens|). */
  def rerankLexicalBoost(results: DataFrame, idCol: String, scoreCol: String,
      tokensCol: String, terms: Seq[String]): DataFrame =
    results.withColumn("overlap",
        size(filter(array_distinct(col(tokensCol)), t => t.isin(terms: _*))))
      .withColumn("boosted",
        col(scoreCol) * (lit(1.0) + lit(0.1) * col("overlap").cast("double")))

  /** Reciprocal-rank fusion over N score DataFrames, each (id, score).
    * Per source: rank = row_number by (score desc, id asc);
    * fused = Σ 1/(rrfK + rank). Output: (id, rrf) top `limit`.
    */
  def rrf(sources: Seq[DataFrame], idCol: String, scoreCol: String,
      rrfK: Int = 60, limitN: Int = 10): DataFrame =
    rrfRaw(sources, idCol, scoreCol, rrfK)
      .orderBy(col("rrf_raw").desc, col(idCol).asc)
      .select(col(idCol), round(col("rrf_raw"), 6).as("rrf"))
      .limit(limitN)

  /** The fused (id, rrf_raw) set with NO global sort or limit — for
    * callers that feed the whole fused set into a further blend
    * (e.g. [[fuseWithGraph]], which re-ranks after appending): a
    * top-k cut here would be wasted work, and a huge `limit` would
    * plan as TakeOrderedAndProject pulling the corpus to the driver. */
  def rrfRaw(sources: Seq[DataFrame], idCol: String, scoreCol: String,
      rrfK: Int = 60): DataFrame = {
    val ranked = sources.map { s =>
      // global rank per source: range-sorted zipWithIndex, not a
      // no-partition window (which would single-partition the corpus)
      Ranking.withGlobalRank(
          s.select(col(idCol), col(scoreCol)),
          "rank", col(scoreCol).desc, col(idCol).asc)
        .select(col(idCol), (lit(1.0) / (lit(rrfK) + col("rank"))).as("contrib"))
    }
    ranked.reduce(_ unionByName _)
      .groupBy(col(idCol))
      .agg(sum(col("contrib")).as("rrf_raw"))
  }

  /** Blend graph hits into an RRF-fused set
    * (search_service.py:416-423): graph results whose id is ABSENT
    * from the fused set append with their own raw score (the
    * reference's documented simplification — no rescaling); ids
    * already fused keep their fused entry. The whole set then
    * re-ranks to `limitN`. The append is a left-anti join on id —
    * no shuffle of the corpus, only of the two result sets. */
  def fuseWithGraph(fused: DataFrame, graph: DataFrame, idCol: String,
      scoreCol: String, limitN: Int = 10): DataFrame = {
    val extra = graph.select(col(idCol), col(scoreCol))
      .join(fused.select(col(idCol)), Seq(idCol), "left_anti")
    fused.select(col(idCol), col(scoreCol))
      .unionByName(extra)
      .orderBy(col(scoreCol).desc, col(idCol).asc)
      .limit(limitN)
  }

  /** The RAG answer prompt (api/query.py:60-76 _build_prompt): fixed
    * preamble lines, contexts numbered `[i] (doc:ID) snippet` in
    * array order (null ids render "None" like Python's f-string, null
    * snippets render empty), question/answer scaffold, '\n'-joined.
    * `contexts` is an ordered array<struct<document_id, content>>. */
  def ragPrompt(userQuery: Column, contexts: Column): Column = {
    val head = array(
      lit("You are a helpful assistant answering using the provided context."),
      lit("If the answer is not in the context, say you don't have enough information."),
      lit("Cite the document ids inline like [doc:ID] where relevant."),
      lit("\nContext:"))
    val ctxLines = transform(contexts, (c, i) =>
      concat(lit("["), (i + 1).cast("string"), lit("] (doc:"),
        coalesce(c.getField("document_id").cast("string"), lit("None")),
        lit(") "), coalesce(c.getField("content"), lit(""))))
    val tail = array(lit("\nUser question:"), userQuery, lit("\nAnswer:"))
    array_join(concat(head, ctxLines, tail), "\n")
  }

  /** GET /search/quick (search.py:211-247): the simplified response
    * frame over any scored result set — title, a snippet that
    * truncates to `snippetLen` chars plus a LITERAL "..." only when
    * the content is strictly longer (a 200-char document passes
    * through untouched), the score, and the metadata type defaulted
    * to "document". The hybrid search underneath is the caller's
    * (same fusion as the /hybrid endpoint — compose with [[rrf]]).
    *
    * `results` is already top-k (bounded); the join to the corpus for
    * content broadcasts the small result side, never the corpus. */
  def quickSearch(results: DataFrame, docs: DataFrame, idCol: String,
      scoreCol: String, snippetLen: Int = 200): DataFrame = {
    val content = col("content")
    broadcast(results.select(col(idCol), col(scoreCol)))
      .join(docs.select(col(idCol), content,
        col("title"), col("doc_type")), Seq(idCol))
      .select(col(idCol), col("title"),
        when(length(content) > snippetLen,
          concat(content.substr(1, snippetLen), lit("...")))
          .otherwise(content).as("snippet"),
        col(scoreCol).as("score"),
        coalesce(col("doc_type"), lit("document")).as("type"))
  }

  /** GET /search/health (search.py:317-347) over health_check
    * (search_service.py:599-621), batched over a probe-outcome frame
    * (check_id, qdrant_ok, neo4j_ok, service_error).
    *
    * BOTH probes fail soft: qdrant under the service's bare
    * `except: pass`, and neo4j inside Neo4jService.health_check's own
    * try/except (neo4j_service.py:718-729) — a refused connection on
    * either side reads as False and lands in the 503 'unhealthy' arm
    * WITH the per-service booleans. overall = qdrant AND neo4j; 200
    * 'healthy' only when both are up.
    *
    * `service_error` renders the route's own `except` arm
    * (search.py:341-347: 503 {'status':'error','message'}, NO
    * services payload) — DEAD CODE for driver failures, since both
    * probes swallow them; it fires only if health_check itself blows
    * up (e.g. a missing service attribute). Pinned as a shape, not a
    * live driver-failure outcome — the dead-arm convention. */
  def healthCheck(probes: DataFrame): DataFrame = {
    val raised = col("service_error").isNotNull
    val overall = col("qdrant_ok") && col("neo4j_ok")
    probes.select(col("check_id"),
      when(raised, lit("error"))
        .when(overall, lit("healthy"))
        .otherwise(lit("unhealthy")).as("status"),
      when(raised || !overall, lit(503)).otherwise(lit(200))
        .as("status_code"),
      when(!raised, col("qdrant_ok")).as("svc_qdrant"),
      when(!raised, col("neo4j_ok")).as("svc_neo4j"),
      when(!raised, overall).as("svc_overall"),
      when(raised, col("service_error")).as("message"))
  }
}
