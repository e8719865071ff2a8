package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{EmbedText, Rerank, Search, SimilaritySearch, StubEmbedder,
  StubReranker}

/** The query operators, one span per layer call. BM25 runs on the live
  * incremental index (ids are source keys, `k0000123`); vector, IVF and
  * the vector side of hybrid run on an index built once from the
  * initial corpus (ids are the numeric document ids). Results come back
  * as (numeric id, score). */
object Queries {
  val K = 10
  val Probes = 4

  final case class Vectors(vecs: DataFrame, assigned: DataFrame,
      cents: Array[Array[Double]], texts: DataFrame)

  /** Stub embeddings and the k-means IVF index over `docs` (doc_id, text). */
  def vectors(ctx: Ctx, docs: DataFrame): Vectors = {
    val vecs = ctx.span("embed.stub") {
      Main.force(EmbedText.embed(docs, "doc_id", "text", () => StubEmbedder(Pipeline.Dim)))
    }
    val (assigned, cents) = ctx.span("ivf.build") {
      SimilaritySearch.kmeansIvf(vecs, "id", "embedding", Pipeline.IvfClusters, Pipeline.IvfIters)
    }
    Vectors(vecs, assigned, cents, Main.force(docs.select(col("doc_id").as("id"), col("text"))))
  }

  def numericId(key: String): Long = key.substring(1).toLong

  private val keyToId = expr("cast(substring(source_key, 2) as long)")

  def bm25(ctx: Ctx, bm: Search.Bm25Index, terms: Seq[String], k: Int): Seq[(Long, Double)] =
    ctx.span("search.bm25") {
      Search.scoreWith(bm, terms).orderBy(col("score").desc, col(bm.idCol).asc).limit(k)
        .collect().map(r => (numericId(r.getString(0)), r.getDouble(1))).toSeq
    }

  def run(ctx: Ctx, bm: Search.Bm25Index, v: Vectors, q: Gen.Query): Seq[(Long, Double)] =
    q match {
      case Gen.Bm25Q(terms) => bm25(ctx, bm, terms, K)
      case Gen.VecQ(p) => ctx.span("search.vector_topk") {
        SimilaritySearch.topK(v.vecs, "id", "embedding", SimilaritySearch.vecLit(p), K)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      }
      case Gen.IvfQ(p) => ctx.span("search.ivf") {
        SimilaritySearch.ivfSearch(v.assigned, v.cents, "id", "embedding",
          SimilaritySearch.vecLit(p), Probes, K)
          .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
      }
      case Gen.HybridQ(terms, p) =>
        val lex = ctx.span("search.bm25") {
          Main.force(Search.scoreWith(bm, terms)
            .orderBy(col("score").desc, col("source_key").asc).limit(50)
            .select(keyToId.as("id"), col("score")))
        }
        val vec = ctx.span("search.vector_topk") {
          Main.force(SimilaritySearch.topK(v.vecs, "id", "embedding",
            SimilaritySearch.vecLit(p), 50))
        }
        val fused = ctx.span("search.rrf") {
          Main.force(Search.rrf(Seq(lex, vec), "id", "score", 60, 20))
        }
        val out = ctx.span("search.rerank") {
          Rerank.rerankWithScore(fused.join(v.texts, "id"), "id", "rrf", "text",
            terms.mkString(" "), () => StubReranker())
            .collect().toSeq
            .sortBy(r => (-r.rerank_score, -r.vscore, r.id))
            .map(r => (r.id, r.rerank_score))
        }
        Seq(lex, vec, fused).foreach(_.unpersist())
        out
    }
}
