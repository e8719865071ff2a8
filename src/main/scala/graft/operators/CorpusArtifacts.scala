package graft.operators

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Ingest-time artifacts, memoized per corpus.
  *
  * The reference precomputes its lexical statistics at ingest
  * (contextual_retrieval_schema.sql:33 `bm25_statistics`; chunk tables
  * carry `bm25_tokens`) and every query reuses them — queries never
  * re-tokenize the corpus. This object is the Spark analogue: the
  * first caller of an artifact for a given corpus key builds and
  * persists it; later queries (BM25 scoring, hybrid RRF, Jaccard /
  * MinHash dedup) reuse the same persisted frames.
  *
  * At cluster scale these frames are written once as parquet/Delta by
  * the ingest job; the in-session memo is the local[n] stand-in with
  * identical dataflow shape. Keyed memoization also fixes the re-cache
  * leak of building a fresh `.cache()` plan per query invocation.
  */
object CorpusArtifacts {

  /** Session-aware persisted-DataFrame memo (r19 ADVICE: the plain
    * JVM-lifetime maps served frames bound to a STOPPED SparkSession
    * when a new session reused the same corpus key). Entries are
    * keyed by corpus key but validated against their owning session:
    * a hit whose session has stopped is rebuilt in place — no
    * unpersist needed, the dead session's block manager went with it.
    * `compute` gives per-key build exclusion, same as the old
    * computeIfAbsent. One definition for all six frame caches. */
  private final class DfMemo {
    private val m = new ConcurrentHashMap[String, DataFrame]()
    // eager = materialize the persisted frame inside the build (the
    // ingest artifacts: tokens, shingles, fingerprints); the count runs
    // under the key's compute lock, exactly like the pre-r20
    // computeIfAbsent
    def get(key: String, build: => DataFrame,
        eager: Boolean = false): DataFrame =
      m.compute(key, (_, cur) =>
        if (cur != null && !cur.sparkSession.sparkContext.isStopped) cur
        else {
          val df = build.persist(StorageLevel.MEMORY_AND_DISK)
          if (eager) df.count()
          df
        })
    def clear(): Unit = {
      m.values.forEach { df =>
        if (!df.sparkSession.sparkContext.isStopped) df.unpersist()
      }
      m.clear()
    }
  }

  private val bm25Cache = new ConcurrentHashMap[String, Search.Bm25Index]()
  private val shingleCache = new DfMemo
  private val winnowCache = new DfMemo

  /** Explicit ingest-phase entry: build every lexical artifact of a
    * corpus — the BM25 index, the shingle index and the fingerprints —
    * through the same accessors the queries use. Both indexes derive
    * from ONE persisted tokenization pass ([[tokens]]; tokenizing
    * dominates both builds), whichever is asked for first, so a
    * BM25-only workload never pays for a shingle index it didn't ask
    * for and never tokenizes twice either.
    *
    * The token frame itself STAYS an artifact (r21): the reference
    * stores `bm25_tokens` on every chunk row — tokens are ingest
    * output, not per-query work — and the MinHash faces re-derive
    * their signatures from exactly this frame, so keeping it
    * persisted removes their per-query re-tokenization.
    * (~tokens-sized memory, the same class as the shingle index.) */
  def buildAll(key: String, df: => DataFrame, idCol: String,
      textCol: String, n: Int): Unit = {
    bm25Index(key, df, idCol, textCol)
    shingleIndex(key, df, idCol, textCol, n)
    fingerprints(key, df, idCol, textCol)
  }

  /** The tokenized corpus ((id, dl, _toks) — [[Search.tokenBase]]),
    * persisted: the reference's stored `bm25_tokens` column as a
    * frame. Every token-consuming artifact/query (BM25 build, shingle
    * build, MinHash signatures) derives from this one pass; the
    * memo is keyed by the corpus key alone, so every caller of a key
    * must pass the same corpus and columns. */
  def tokens(key: String, df: => DataFrame, idCol: String,
      textCol: String): DataFrame =
    tokenCache.get(key, Search.tokenBase(df, idCol, textCol), eager = true)

  private val tokenCache = new DfMemo

  /** The (id, fingerprint) content-hash frame
    * ([[Dedup.fingerprintFrame]]), persisted — the reference's stored
    * per-row content hash (notion_connector content_hash /
    * row_indexer's fingerprint skip): exact-dedup's md5+normalize
    * pass is ingest output, not per-query work (r22; the q15 face
    * reads this like q17 reads the shingle index). Compact: two
    * narrow columns per document. */
  def fingerprints(key: String, df: => DataFrame, idCol: String,
      textCol: String): DataFrame =
    fingerprintCache.get(key,
      Dedup.fingerprintFrame(df, idCol, textCol), eager = true)

  private val fingerprintCache = new DfMemo

  /** BM25 index (inverted index, doc lengths, corpus stats), built
    * eagerly from [[tokens]] and persisted. `key` identifies the
    * corpus version — at cluster scale the ingest run id; here the sf
    * directory. Per-key compute: cache hits never block behind
    * another corpus's build. Bm25Index entries carry four persisted
    * frames, so they get the same session validation as [[DfMemo]]
    * via the index frame. */
  def bm25Index(key: String, df: => DataFrame, idCol: String,
      textCol: String): Search.Bm25Index =
    bm25Cache.compute(key, (_, cur) =>
      if (cur != null && !cur.idx.sparkSession.sparkContext.isStopped) cur
      else Search.buildIndexFromTokens(tokens(key, df, idCol, textCol),
        idCol, eager = true))

  /** Exploded (id, shingle) inverted index, built eagerly from
    * [[tokens]] and persisted. */
  def shingleIndex(key: String, df: => DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame =
    shingleCache.get(s"$key#$n",
      Dedup.shingleIndexFromTokens(tokens(key, df, idCol, textCol), idCol, n),
      eager = true)

  /** Exploded (id, fp) winnowed-fingerprint index, persisted — the
    * span-pair analogue of [[shingleIndex]] (the per-row winnowing
    * hash pass dwarfs scan cost; never rebuild it per branch). */
  def winnowIndex(key: String, df: => DataFrame, idCol: String,
      textCol: String, k: Int, w: Int): DataFrame =
    winnowCache.get(s"$key#$k#$w", Dedup.winnowIndex(df, idCol, textCol, k, w))

  /** DSIR (id, bucket, cnt) gram histogram, persisted — the shared
    * input the raw distribution AND the scoring join derive from
    * (Dsir.importanceWeights' docCounts parameter). Compact: ≤
    * `buckets` rows per document. One tokenize+hash pass per corpus
    * key instead of one per consumer (7.5 s → 2.4 s at sf1). */
  def dsirCounts(key: String, df: => DataFrame, idCol: String,
      textCol: String, buckets: Int): DataFrame =
    dsirCache.get(s"$key#$buckets",
      Dsir.docBucketCounts(df, idCol, textCol, buckets))

  private val dsirCache = new DfMemo

  /** Near-dup component labels ((doc_id, component,
    * is_representative) — the q176 law), persisted. The dedup
    * section's group post-processing (keep-best representative,
    * group-size census) re-reads these labels per report; computing
    * the MinHash walk once at ingest and memoizing is the same
    * "persist the scored frame once" posture as [[nbScores]].
    * `key` must pin corpus AND candidate-generation parameters — a
    * shingle/band change under the same key would serve stale
    * groups. */
  def neardupComponents(key: String, build: => DataFrame): DataFrame =
    componentCache.get(key, build)

  private val componentCache = new DfMemo

  /** LSH band-bucket index ((id, band, bucket) —
    * [[Dedup.bandedBuckets]] over an embedding corpus), persisted —
    * the snapshot artifact [[ContrastiveMining.hardNegativesAgainstSnapshot]]
    * mines a daily anchor delta against (the [[Dedup.nearDupAgainstSnapshot]]
    * posture for embeddings). `key` must pin corpus AND (dim,
    * bandBits, bands) — a signature-parameter change under the same
    * key would serve buckets no batch signature can collide with. */
  def embeddingBuckets(key: String, build: => DataFrame): DataFrame =
    bucketCache.get(key, build)

  private val bucketCache = new DfMemo

  /** NB-quality scored frame ([[LmQuality.nbQualityScore]] output:
    * (idCol, n_tokens, avg_llr, keep)), persisted — the "persist the
    * scored frame once" posture the round-16 SCALING addenda held as
    * prose (the q221 gate plan re-evaluates the uncached NB chain
    * once per downstream branch: 10 totals crosses in one plan).
    * Production writes this at ingest next to the seed models; the
    * memo is the local[n] stand-in, exactly [[dsirCounts]]' shape.
    * `key` must pin corpus AND seed identities — a seed swap under
    * the same key would silently serve stale scores. */
  def nbScores(key: String, docs: => DataFrame, idCol: String,
      textCol: String, pos: => DataFrame, posTextCol: String,
      neg: => DataFrame, negTextCol: String,
      alpha: Double = 0.5): DataFrame =
    nbCache.get(s"$key#$alpha",
      LmQuality.nbQualityScore(docs, idCol, textCol,
        pos, posTextCol, neg, negTextCol, alpha))

  private val nbCache = new DfMemo

  /** Decontaminated-text frame ([[Dedup.removeContaminatedSpans]]
    * output: (idCol, n_tokens, n_dropped, clean_text)), persisted —
    * the shared input every post-decontamination stage reads (NB
    * scoring, the keep join, packing). Without the memo a capstone
    * composition re-runs the span-removal coverage shuffle once per
    * consumer. `key` must pin corpus, eval slice and n. */
  def decontaminated(key: String, train: => DataFrame, idCol: String,
      textCol: String, evalDf: => DataFrame, evalTextCol: String,
      n: Int): DataFrame =
    deconCache.get(s"$key#$n",
      Dedup.removeContaminatedSpans(train, idCol, textCol,
        evalDf, evalTextCol, n))

  private val deconCache = new DfMemo

  /** Drop every memoized artifact (tests / corpus reload). */
  def reset(): Unit = {
    bm25Cache.values.forEach { ix =>
      if (!ix.idx.sparkSession.sparkContext.isStopped) {
        ix.idx.unpersist(); ix.dls.unpersist(); ix.stats.unpersist()
        ix.impacts.unpersist()
      }
    }
    shingleCache.clear(); winnowCache.clear(); dsirCache.clear()
    nbCache.clear(); deconCache.clear(); componentCache.clear()
    bucketCache.clear(); tokenCache.clear(); fingerprintCache.clear()
    bm25Cache.clear()
  }
}
