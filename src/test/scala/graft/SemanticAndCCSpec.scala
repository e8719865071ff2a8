package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{ConnectedComponents, Embedder, SemanticChunker}

/** Embedder with planted topic shift: sentences containing "zzz" embed
  * orthogonally to the rest. Top-level so closures don't capture the
  * (non-serializable) suite instance. */
case class TopicEmbedder() extends Embedder {
  val dim = 2
  def embedBatch(texts: Seq[String]): Seq[Array[Float]] =
    texts.map(t => if (t.contains("zzz")) Array(0f, 1f) else Array(1f, 0f))
}

/** Embedder for merge-pass fixtures: a sentence starting with "c<k>"
  * embeds on the unit ray at angle k·acos(0.8), so CONSECUTIVE rays
  * have cosine exactly 0.8 — below a 0.9 boundary threshold (every
  * sentence is its own chunk) yet above the 0.72 merge threshold. */
case class RayEmbedder() extends Embedder {
  val dim = 2
  def embedBatch(texts: Seq[String]): Seq[Array[Float]] =
    texts.map { t =>
      val k = t.takeWhile(_ != ' ').drop(1).toInt
      val a = k * math.acos(0.8)
      Array(math.cos(a).toFloat, math.sin(a).toFloat)
    }
}

class SemanticChunkerSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  test("boundary lands exactly at the topic shift") {
    // 4 pseudo-sentences of 2 tokens: [aa bb] [cc dd] [zzz1 zzz2] [zzz3 zzz4]
    val df = Seq((1L, "aa bb cc dd zzz1 zzz2 zzz3 zzz4")).toDF("doc_id", "text")
    val got = SemanticChunker.chunks(df, "doc_id", "text",
        sentTokens = 2, () => TopicEmbedder(), threshold = 0.5)
      .orderBy($"chunk_index")
      .select($"chunk_index", $"chunk_text", $"n_sentences")
      .as[(Long, String, Long)].collect()
    assert(got.toSeq === Seq(
      (1L, "aa bb cc dd", 2L),
      (2L, "zzz1 zzz2 zzz3 zzz4", 2L)))
  }

  test("uniform embeddings yield a single chunk per doc") {
    val df = Seq((1L, (1 to 20).map(i => s"w$i").mkString(" "))).toDF("doc_id", "text")
    val got = SemanticChunker.chunks(df, "doc_id", "text",
        sentTokens = 5, () => TopicEmbedder(), threshold = 0.5)
    assert(got.count() === 1)
    assert(got.select($"n_sentences").as[Long].head() === 4L)
  }

  test("merge pass: short chunk joins its next neighbor when similar enough") {
    // 4 single-sentence chunks (consecutive cosine 0.8 < 0.9 boundary
    // threshold), all under minChunkSize; every non-last chunk is
    // merge-eligible (0.8 >= 0.9*0.8), so the sequential scan merges
    // (1,2) then — skipping the merged result — (3,4).
    val df = Seq((1L, "c0 w c1 w c2 w c3 w")).toDF("doc_id", "text")
    val got = SemanticChunker.chunks(df, "doc_id", "text",
        sentTokens = 2, () => RayEmbedder(), threshold = 0.9, minChunkSize = 5)
      .orderBy($"chunk_index")
      .select($"chunk_index", $"chunk_text", $"n_sentences")
      .as[(Long, String, Long)].collect()
    assert(got.toSeq === Seq((1L, "c0 w c1 w", 2L), (2L, "c2 w c3 w", 2L)))
  }

  test("merge pass: low cross-chunk similarity blocks the merge") {
    // topic flip gives cross-chunk cosine 0 < merge threshold: the
    // short chunks stay separate even though they are under min size
    val df = Seq((1L, "aa bb zzz1 zzz2")).toDF("doc_id", "text")
    val got = SemanticChunker.chunks(df, "doc_id", "text",
        sentTokens = 2, () => TopicEmbedder(), threshold = 0.5, minChunkSize = 5)
      .orderBy($"chunk_index")
      .select($"chunk_text", $"n_sentences").as[(String, Long)].collect()
    assert(got.toSeq === Seq(("aa bb", 1L), ("zzz1 zzz2", 1L)))
  }

  test("merge pass changes chunk counts only when enabled (low-coherence fixture)") {
    val df = Seq((1L, "c0 w c1 w c2 w c3 w"), (2L, "c0 w c4 w c8 w")).toDF("doc_id", "text")
    def count(minSize: Int): Long = SemanticChunker.chunks(df, "doc_id", "text",
      sentTokens = 2, () => RayEmbedder(), threshold = 0.9, minChunkSize = minSize).count()
    // doc 2's consecutive rays are 4 steps apart (cosine < 0.72): never merges
    assert(count(0) === 7L)  // unmerged: 4 + 3 chunks
    assert(count(5) === 5L)  // merged: doc 1 collapses 4 -> 2
  }
}

class ConnectedComponentsSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  test("two chains and an isolated pair resolve to min-label components") {
    val edges = Seq(
      ("b", "a"), ("b", "c"), ("c", "d"), // comp a
      ("x", "y"),                         // comp x
      ("m", "n"), ("n", "o"))             // comp m
      .toDF("s", "d")
    val got = ConnectedComponents.run(edges, "s", "d")
      .as[(String, String)].collect().toMap
    assert(got === Map(
      "a" -> "a", "b" -> "a", "c" -> "a", "d" -> "a",
      "x" -> "x", "y" -> "x",
      "m" -> "m", "n" -> "m", "o" -> "m"))
  }

  test("long path converges within iteration budget") {
    val n = 12
    val edges = (1 until n).map(i => (s"n%02d".format(i), s"n%02d".format(i + 1)))
      .toDF("s", "d")
    val comps = ConnectedComponents.run(edges, "s", "d")
      .select($"comp").distinct().as[String].collect()
    assert(comps.toSeq === Seq("n01"))
  }

  test("runStar matches run on the mixed fixture (string ids, " +
      "multiple components)") {
    val edges = Seq(
      ("b", "a"), ("b", "c"), ("c", "d"),
      ("x", "y"),
      ("m", "n"), ("n", "o"))
      .toDF("s", "d")
    val got = ConnectedComponents.runStar(edges, "s", "d")
      .as[(String, String)].collect().toMap
    val viaRun = ConnectedComponents.run(edges, "s", "d")
      .as[(String, String)].collect().toMap
    assert(got === viaRun)
  }

  test("runStar: a 64-node chain (diameter 63 — the adversarial " +
      "shape where min-label propagation needs one round per hop and " +
      "run()'s default budget cannot finish) converges in O(log^2 n) " +
      "rounds to the single min-label component") {
    val n = 64
    val edges = (1 until n).map(i =>
      (f"n$i%03d", f"n${i + 1}%03d")).toDF("s", "d")
    val r = ConnectedComponents.runStarWithStatus(edges, "s", "d")
    val (labels, rounds) = (r.labels, r.rounds)
    val comps = labels.select($"comp").distinct().as[String].collect()
    assert(comps.toSeq === Seq("n001"))
    assert(labels.count() === n.toLong)
    // two-phase contracts a 63-diameter chain in a handful of rounds;
    // the min-label walk pays ~63. The bound pins the REASON this
    // face exists — loosening it past the diameter would gut the spec.
    assert(rounds <= 10, s"expected O(log^2 n) rounds, got $rounds")
  }

  test("runStar equals run property-style on seeded random graphs " +
      "(long ids; run given a diameter-proof iteration budget)") {
    val rnd = new scala.util.Random(17)
    for (trial <- 0 until 3) {
      val nNodes = 40 + trial * 25
      val edges = (0 until nNodes).map { _ =>
        (rnd.nextInt(nNodes).toLong, rnd.nextInt(nNodes).toLong)
      }.filter(e => e._1 != e._2).toDF("a", "b")
      val star = ConnectedComponents.runStar(edges, "a", "b")
        .as[(Long, Long)].collect().toMap
      val walk = ConnectedComponents.run(edges, "a", "b", maxIter = 200)
        .as[(Long, Long)].collect().toMap
      assert(star === walk, s"trial $trial: faces diverge")
    }
  }

  test("r18 status faces: converged-on-the-last-round is " +
      "distinguishable from exhausted (the rounds==maxIter ambiguity)") {
    // a 4-chain: walk needs 3 propagation rounds + 1 quiet round to
    // observe convergence
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    val exhausted = ConnectedComponents.runWithStatus(edges, "a", "b",
      maxIter = 2)
    assert(!exhausted.converged && exhausted.rounds === 2)
    exhausted.labels.unpersist()
    val done = ConnectedComponents.runWithStatus(edges, "a", "b",
      maxIter = 20)
    assert(done.converged && done.rounds < 20)
    done.labels.unpersist()
    val star = ConnectedComponents.runStarWithStatus(edges, "a", "b")
    assert(star.converged)
    star.labels.unpersist()
  }

  test("runStar edge cases: self-loops drop (a pure-self-loop node " +
      "is its own component), an empty edge set yields empty labels") {
    val edges = Seq((5L, 5L), (7L, 8L)).toDF("a", "b")
    val got = ConnectedComponents.runStar(edges, "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(got === Map(5L -> 5L, 7L -> 7L, 8L -> 7L))
    val empty = ConnectedComponents.runStar(
      Seq.empty[(Long, Long)].toDF("a", "b"), "a", "b")
    assert(empty.isEmpty)
  }
}
