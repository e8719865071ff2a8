package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextFunctions
import graft.operators.{Dedup, QualityFilters, Search}

/** The NULL-text convention, executable (r18 verdict item 2).
  *
  * The DuckDB-side shared fragments (toksSql/allToksSql/shinglesSql)
  * tokenize `text` directly — lower(NULL) yields a NULL list — while
  * rawWordsSql coalesces; consumers must coalesce EXPLICITLY on both
  * sides or NULL text silently diverges the engines. The q227–q229
  * gates replay the fragment consumers over an adversarial corpus vs
  * DuckDB every round; this spec pins the Spark-side laws those gates
  * rely on, on the exact degeneracy classes (NULL, empty,
  * whitespace-only, stopword-only).
  */
class NullTextParitySpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  private def degenerates = Seq(
    (1L, null.asInstanceOf[String]), // NULL text
    (2L, ""),                        // empty
    (3L, " \t\n "),                  // whitespace-only
    (4L, "of the and"),              // stopword/short-only: 0 bm25 tokens
    (5L, "ab cd"))                   // sub-shingle: tokens but < n of them

  test("zero-shingle docs are SINGLETONS, not one giant component " +
      "(r18 lshBuckets guard: an all-null signature must not bucket " +
      "as md5('b|') and pair every degenerate doc with every other)") {
    val docs = (degenerates ++ Seq(
      (10L, "alpha beta gamma delta epsilon zeta"),
      (11L, "alpha beta gamma delta epsilon zeta"), // true near-dup of 10
      (12L, "completely different words entirely here")))
      .toDF("doc_id", "text")
    val toks = Search.tokenBase(docs, "doc_id", "text")
    val pairs = Dedup.minhashCandidatesFromTokens(toks, "doc_id", 3, 16, 4)
      .as[(Long, Long)].collect().toSet
    assert(pairs === Set((10L, 11L)),
      "only the genuine near-dup pair may surface; before the guard " +
        "this set contained every pair of ids 1-5")
    val comps = Dedup.connectedComponents(
        docs.select($"doc_id"), "doc_id",
        Dedup.minhashCandidatesFromTokens(toks, "doc_id", 3, 16, 4),
        "id_a", "id_b")
      .as[(Long, Long, Boolean)].collect()
      .map(r => r._1 -> r._2).toMap
    assert(comps === Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L,
      5L -> 5L, 10L -> 10L, 11L -> 10L, 12L -> 12L))
  }

  test("every fragment family's coalesced count is 0 — never NULL — " +
      "on every degeneracy class (the ranks-below-zero winner flip)") {
    val emptyArr = array().cast("array<string>")
    val counts = degenerates.toDF("doc_id", "text").select($"doc_id",
      size(coalesce(TextFunctions.bm25Tokens($"text"), emptyArr))
        .as("n_bm25"),
      size(coalesce(TextFunctions.allTokens($"text"), emptyArr))
        .as("n_all"),
      size(coalesce(QualityFilters.rawWords($"text"), emptyArr))
        .as("n_words"),
      size(coalesce(TextFunctions.shingles($"text", 3), emptyArr))
        .as("n_shingles"))
      .collect()
    for (r <- counts; i <- 1 until 5) {
      assert(!r.isNullAt(i), s"doc ${r.getLong(0)} col $i: NULL count")
      assert(r.getInt(i) >= 0)
    }
    val byId = counts.map(r => r.getLong(0) ->
      (r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4))).toMap
    // stopword-only: words exist, bm25 tokens don't — the class that
    // separates the families
    assert(byId(4L) === ((0, 3, 3, 0)),
      "'of the and': 0 bm25 tokens, 3 all-tokens, 3 raw words, 0 " +
        "shingles (shingles build over the EMPTY bm25 token list)")
    assert(byId(5L)._4 === 0,
      "'ab cd': sub-shingle token count yields zero 3-shingles")
  }
}
