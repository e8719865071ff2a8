package graft.incremental

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import graft.operators.Search

/** Incremental BM25 index maintenance — the index-side twin of the
  * source sync (SURVEY §2.8 applied to the search artifacts of
  * bm25_statistics / search_service.py:287-368).
  *
  * At corpus scale the expensive phase of an index rebuild is
  * tokenizing every document; the score artifacts are cheap,
  * vocab-sized aggregations over the token frame. So the maintained
  * artifact is the TOKEN BASE `(id, dl, _toks)` — kept current by a
  * primary-key MERGE that re-tokenizes ONLY the changed documents —
  * and the per-corpus artifacts (df, stats, impacts) recompute from
  * it on demand: an eager rebuild is one narrow pass over the base's
  * part files for df and the corpus stats, then one persisted impact
  * frame, partitioned by document and token-sorted
  * ([[Search.buildIndexFromTokens]]); the
  * postings and document lengths stay projections of the base.
  * Recomputing them is not wasted work: BM25's idf and
  * length normalization are corpus-global, so ANY delta legitimately
  * moves every impact value (N, avgdl, and the changed tokens' df all
  * shift); what an incremental design must avoid is re-reading and
  * re-tokenizing the unchanged 99.99% of a 100 TB corpus, and the
  * merged base avoids exactly that.
  *
  * A sync is one write of the base through [[ParquetSink.merge]]: a
  * rename-aside swap, so a crash mid-swap leaves the previous base,
  * which [[index]] finds through [[ParquetSink.exists]]. The parquet
  * PK-merge swaps to Delta `MERGE INTO` on a cluster (ParquetSink
  * scaladoc) — rewrite cost then becomes O(delta). */
object IncrementalIndex {

  /** Apply one change batch to the token-base artifact at `basePath`:
    * rows of `changedDocs` (`idCol`, `textCol`) re-tokenize — only
    * the delta — and merge by id; ids in `deletedIds` drop. Returns
    * the number of documents (re)tokenized.
    *
    * One write, and no pass of its own: the row count is an
    * [[org.apache.spark.sql.Observation]] on the tokenized delta,
    * taken by the merge's write. The merge reads the delta twice, for
    * its rows and for its keys; column pruning passes the observation,
    * so only the rows branch tokenizes. */
  def syncTokenBase(spark: SparkSession, basePath: String,
      changedDocs: DataFrame, idCol: String, textCol: String,
      deletedIds: Option[DataFrame] = None): Long = {
    val observed = Observation()
    ParquetSink.merge(spark, basePath,
      Search.tokenBase(changedDocs, idCol, textCol)
        .observe(observed, count(lit(1)).as("n")),
      Seq(idCol), deletedIds.map(_.select(idCol)))
    // the optimizer drops the observation of a provably empty delta
    observed.get.get("n").fold(0L)(_.asInstanceOf[Long])
  }

  /** The queryable index over the maintained base: vocab-sized
    * aggregations and joins only — no document is re-read.
    *
    * The index reads the base's current part files, not its directory.
    * Spark's cache matches a file relation by its paths, so a plan over
    * the directory would be served the frames of a still-persisted
    * index over an earlier base. Every merge writes new part files, so
    * the plan names this snapshot, and no cache entry has to be
    * invalidated or re-planned after a sync. */
  def index(spark: SparkSession, basePath: String, idCol: String,
      eager: Boolean = false): Search.Bm25Index = {
    if (!ParquetSink.exists(basePath))
      throw new IllegalStateException(s"no token base at $basePath — " +
        "run syncTokenBase with the initial corpus first")
    val parts = new java.io.File(basePath).listFiles().toSeq
      .map(_.getPath).filter(_.endsWith(".parquet")).sorted
    Search.buildIndexFromTokens(spark.read.parquet(parts: _*), idCol, eager)
  }
}
