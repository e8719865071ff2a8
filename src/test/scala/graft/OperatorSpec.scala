package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

object TestSession {
  // Overridable so the suite can re-run under adversarial layouts
  // (GRAFT_TEST_SHUFFLE=1/7/64) — operators must be partition-count
  // invariant; a pass under several settings is the evidence.
  private val threads = sys.env.getOrElse("GRAFT_TEST_THREADS", "4")
  private val shuffle = sys.env.getOrElse("GRAFT_TEST_SHUFFLE", "4")
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$threads]")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .config("spark.sql.shuffle.partitions", shuffle)
      .config("spark.sql.session.timeZone", "UTC")
      .config(Tables.nanosConf._1, Tables.nanosConf._2)
      .config(Sessions.codegenCacheConf._1, Sessions.codegenCacheConf._2)
      .config(Sessions.codegenClassNameConf._1, Sessions.codegenClassNameConf._2)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

class TextFunctionsSpec extends AnyFunSuite {
  import graft.functions.TextFunctions
  lazy val spark = TestSession.spark
  import spark.implicits._

  test("bm25Tokens drops stopwords and short tokens, keeps duplicates") {
    val got = Seq("The quick fox AND the quick dog ox")
      .toDF("text")
      .select(TextFunctions.bm25Tokens(col("text")))
      .as[Seq[String]].head()
    assert(got === Seq("quick", "fox", "quick", "dog"))
  }

  test("allTokens keeps stopwords, splits on non-alphanumerics") {
    val got = Seq("A b-c, d!").toDF("text")
      .select(TextFunctions.allTokens(col("text"))).as[Seq[String]].head()
    assert(got === Seq("a", "b", "c", "d"))
  }

  test("shingles are distinct full 3-grams") {
    val got = Seq("one two three four one two three four")
      .toDF("text").select(TextFunctions.shingles(col("text"), 3))
      .as[Seq[String]].head()
    assert(got.toSet === Set(
      "one two three", "two three four", "three four one", "four one two"))
    assert(got.length === 4) // dedup applied
  }

  test("shingles empty for docs shorter than n tokens") {
    val got = Seq("one two").toDF("text")
      .select(TextFunctions.shingles(col("text"), 3)).as[Seq[String]].head()
    assert(got.isEmpty)
  }

  test("langId votes by marker lexicon with alphabetical tie-break") {
    val df = Seq("der hund und die katze", "xyzzy", "el la le les").toDF("text")
    val got = df.select(TextFunctions.langId(col("text"))).as[String].collect()
    assert(got(0) === "de")
    assert(got(1) === "unk")
    // es hits: el,la (2); fr hits: le,les (2) -> tie -> "es" first
    assert(got(2) === "es")
  }

  test("fingerprint normalizes case and whitespace") {
    val df = Seq(("a", "Hello   World"), ("b", "hello world"), ("c", "other"))
      .toDF("id", "text")
    val fps = df.select(TextFunctions.fingerprint(col("text"))).as[String].collect()
    assert(fps(0) === fps(1))
    assert(fps(0) !== fps(2))
  }
}

class ChunkerSpec extends AnyFunSuite {
  import graft.operators.Chunker
  lazy val spark = TestSession.spark
  import spark.implicits._

  test("fixed chunks cover text with overlap; boundaries exact") {
    val text = "abcdefghij" * 35 // 350 chars
    val out = Chunker.fixed(Seq((1L, text)).toDF("doc_id", "text"), "text", 200, 50)
      .select($"chunk_index", $"chunk_text").as[(Int, String)].collect().sortBy(_._1)
    // step=150: chunks at 0,150,300 -> 3 chunks
    assert(out.length === 3)
    assert(out(0)._2 === text.substring(0, 200))
    assert(out(1)._2 === text.substring(150, 350))
    assert(out(2)._2 === text.substring(300, 350))
    // overlap region identical
    assert(out(0)._2.takeRight(50) === out(1)._2.take(50))
  }

  test("fixed chunking of short text yields one chunk") {
    val out = Chunker.fixed(Seq((1L, "short")).toDF("doc_id", "text"), "text", 200, 50)
      .select($"chunk_text").as[String].collect()
    assert(out.toSeq === Seq("short"))
  }

  test("sentence chunks pack greedily up to maxChars") {
    val text = "One one one. Two two two. Three three three three three."
    val out = Chunker.sentence(Seq((1L, text)).toDF("doc_id", "text"), "text", 30)
      .select($"chunk_index", $"chunk_text").as[(Int, String)].collect().sortBy(_._1)
    assert(out(0)._2 === "One one one. Two two two.")
    assert(out(1)._2 === "Three three three three three.")
  }

  test("chunkId is deterministic md5 scheme") {
    val got = Seq(1).toDF("x")
      .select(Chunker.chunkId(lit("42"), "fixed", lit(7))).as[String].head()
    val exp = java.security.MessageDigest.getInstance("MD5")
      .digest("42_fixed_7".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got === exp)
  }
}

class DedupSpec extends AnyFunSuite {
  import graft.operators.{Dedup, Search}
  lazy val spark = TestSession.spark
  import spark.implicits._

  test("exact dedup groups normalized duplicates") {
    val df = Seq(
      (1L, "Hello   World"), (2L, "hello world"), (3L, "unique doc here"))
      .toDF("doc_id", "text")
    val got = Dedup.exactFromFingerprints(
        Dedup.fingerprintFrame(df, "doc_id", "text"), "doc_id")
      .select($"kept_id", $"n_dups").as[(Long, Long)].collect().sortBy(_._1)
    assert(got.toSeq === Seq((1L, 2L), (3L, 1L)))
  }

  test("dropExactDuplicates keeps the min-id row per fingerprint " +
      "with all columns, matching Dedup.exact's kept set") {
    val df = Seq(
      (2L, "hello world", "b"), (1L, "Hello   World", "a"),
      (3L, "unique doc here", "c"))
      .toDF("doc_id", "text", "tag")
    val got = Dedup.dropExactDuplicates(df, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(2)))
    assert(got.toSeq === Seq((1L, "a"), (3L, "c")))
    // same survivors as the groupBy face
    val viaExact = Dedup.exactFromFingerprints(
        Dedup.fingerprintFrame(df, "doc_id", "text"), "doc_id")
      .select($"kept_id").as[Long].collect().toSet
    assert(got.map(_._1).toSet === viaExact)
  }

  test("winnowSpanPairs flags a shared verbatim span; boilerplate " +
      "past the df-cap never pairs on its own") {
    import graft.operators.Dedup
    val span = "the quick brown fox jumps over the lazy dog again"
    val a = s"alpha document body starts here $span and then continues alone"
    val b = s"totally different preamble text $span with another ending part"
    val c = "unrelated content with no overlap whatsoever in any span zone"
    val idx = Dedup.winnowIndex(
      Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text"),
      "doc_id", "text")
    val pairs = Dedup.winnowSpanPairs(idx, "doc_id",
        minShared = 3L, maxDf = 2L)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L)))
    // the same span in EVERY doc is boilerplate: df = 3 > cap 2, so
    // its fingerprints leave candidate generation and nothing pairs
    val allShare = Dedup.winnowIndex(
      Seq((1L, s"aaaa $span"), (2L, s"bbbb $span"), (3L, s"cccc $span"))
        .toDF("doc_id", "text"), "doc_id", "text")
    assert(Dedup.winnowSpanPairs(allShare, "doc_id", 1L, 2L)
      .count() === 0L)
  }

  test("exactFromFingerprints over the artifact frame equals exact") {
    val df = Seq(
      (2L, "hello world"), (1L, "Hello   World"), (3L, "unique doc here"),
      (4L, "HELLO world"), (5L, "another one-off text body"))
      .toDF("doc_id", "text")
    // the law over a fresh fingerprintFrame vs over the stored artifact
    val direct = Dedup.exactFromFingerprints(
        Dedup.fingerprintFrame(df, "doc_id", "text"), "doc_id")
      .orderBy("fingerprint").collect().toSeq
    val stored = graft.operators.CorpusArtifacts.fingerprints(
      "DedupSpec:exactFromFingerprints", df, "doc_id", "text")
    val viaArtifact = Dedup.exactFromFingerprints(stored, "doc_id")
      .orderBy("fingerprint").collect().toSeq
    stored.unpersist()
    assert(viaArtifact === direct)
    assert(direct.map(r => (r.getLong(1), r.getLong(2))).sorted ===
      Seq((1L, 3L), (3L, 1L), (5L, 1L)))
  }

  test("jaccardPairsFromIndex on mixed-length docs: containment pairs " +
      "below threshold drop, a pair exactly at the threshold boundary " +
      "survives with its exact count (vs an independent reference)") {
    // Pins the exact-pair-join law on a corpus with a 9x length
    // spread — the r22 length-ratio prefilter experiment's regression
    // corpus (the filter itself was measured out; this keeps the
    // boundary behavior pinned regardless): d1/d2 near-dups of equal
    // length (survive); d3 = d1's shingles plus 8 filler sentences
    // (containment pair, true jaccard < 0.2, must drop); d4/d5
    // EXACTLY at the boundary (|d4| = 6 shingles, |d5| = 30, all of
    // d4 shared -> jaccard 6/30 = 0.2 = minSim) — must survive with
    // the exact count.
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    val near = "alpha beta gamma delta epsilon zeta eta iota"
    val long = (Seq(base) ++ (1 to 8).map(i =>
      s"filler$i pad$i word$i more$i junk$i noise$i extra$i tail$i")).mkString(" ")
    val d4 = "one two three four five six seven eight"   // 6 shingles
    val d5 = d4 + " " + (1 to 24).map(i => s"u$i").mkString(" ") // 30 shingles
    val df = Seq((1L, base), (2L, near), (3L, long), (4L, d4), (5L, d5))
      .toDF("doc_id", "text")
    val idx = Dedup.shingleIndexFromTokens(
      Search.tokenBase(df, "doc_id", "text"), "doc_id", 3)
    val got = Dedup.jaccardPairsFromIndex(idx, "doc_id", 0.2)
      .select($"id_a", $"id_b", $"n_common", $"jaccard")
      .as[(Long, Long, Long, Double)].collect().toSet
    // reference computation: exact set jaccard per pair, no prefilter
    val sets = idx.as[(Long, String)].collect().groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2).toSet }
    val want = (for {
      a <- sets.keys; b <- sets.keys if a < b
      inter = (sets(a) & sets(b)).size.toLong if inter > 0
      j = inter.toDouble / (sets(a).size + sets(b).size - inter)
      if j >= 0.2
    } yield (a, b, inter,
      BigDecimal(j).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)).toSet
    assert(got === want)
    // the boundary pair is present (the prefilter must not eat it)
    assert(got.exists(p => p._1 == 4L && p._2 == 5L))
    // the mismatched-length pair is absent (dropped by threshold and
    // prefilter alike)
    assert(!got.exists(p => p._1 == 1L && p._2 == 3L))
  }

  test("jaccardPairsFromIndex over a shingleIndex finds near-duplicates, " +
      "not unrelated docs") {
    val a = "alpha beta gamma delta epsilon zeta eta theta"
    val b = "alpha beta gamma delta epsilon zeta eta iota" // 1 token differs
    val c = "completely different words entirely unrelated content here now"
    val df = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
    val idx = Dedup.shingleIndexFromTokens(
      Search.tokenBase(df, "doc_id", "text"), "doc_id", 3).cache()
    val pairs = Dedup.jaccardPairsFromIndex(idx, "doc_id", 0.2)
      .select($"id_a", $"id_b").as[(Long, Long)].collect()
    idx.unpersist()
    assert(pairs.toSeq === Seq((1L, 2L)))
  }

  test("capped jaccard: exact parity when the cap doesn't bind; only boilerplate-only pairs drop") {
    val a = "alpha beta gamma delta epsilon zeta eta theta"
    val b = "alpha beta gamma delta epsilon zeta eta iota"
    val boiler = "lorem ipsum dolor sit amet consectetur adipiscing elit"
    // docs 4..9 are exact copies of the boilerplate: every shingle
    // they hold has df >= 6
    val df = (Seq((1L, a), (2L, b), (3L, "unrelated other words entirely here today now friend")) ++
      (4L to 9L).map(i => (i, boiler))).toDF("doc_id", "text")
    val idx = Dedup.shingleIndexFromTokens(
      Search.tokenBase(df, "doc_id", "text"), "doc_id", 3)
    val exact = Dedup.jaccardPairsFromIndex(idx, "doc_id", 0.2)
      .select($"id_a", $"id_b", $"n_common", $"jaccard")
      .as[(Long, Long, Long, Double)].collect().toSet
    // a generous cap: nothing drops, and n_common/jaccard are
    // bit-identical to the exact plan (verification is exact)
    val unbound = Dedup.jaccardPairsCappedFromIndex(idx, "doc_id", 0.2, 100L)
      .select($"id_a", $"id_b", $"n_common", $"jaccard")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(unbound === exact)
    // cap 3: the boilerplate shingles (df 6) leave candidate
    // generation, so the boilerplate-only pairs drop; the (1,2) pair
    // survives on its sub-cap shingles with its EXACT jaccard
    val capped = Dedup.jaccardPairsCappedFromIndex(idx, "doc_id", 0.2, 3L)
      .select($"id_a", $"id_b", $"n_common", $"jaccard")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(capped === exact.filter(p => p._1 <= 2 && p._2 <= 2))
  }

  test("minhash LSH catches exact-shingle duplicates") {
    val a = "alpha beta gamma delta epsilon zeta eta theta"
    val c = "completely different words entirely unrelated content here now"
    val df = Seq((1L, a), (2L, a), (3L, c)).toDF("doc_id", "text")
    val pairs = Dedup.minhashCandidatesFromTokens(
        Search.tokenBase(df, "doc_id", "text"), "doc_id")
      .as[(Long, Long)].collect()
    assert(pairs.toSeq === Seq((1L, 2L)))
  }

  // HOF twin of NativeText.simhashOf — the independent formulation the
  // bit-identity test checks the native expression against. Test-only:
  // main carries one simhash implementation (the native one).
  private def hofSimhash(text: org.apache.spark.sql.Column) = {
    import graft.functions.TextFunctions
    val toks = TextFunctions.bm25Tokens(text)
    val hashes = transform(toks, t => md5(t))
    // votes: array of 64 ints; fold over tokens adding ±1 per bit
    val votes = aggregate(
      hashes,
      transform(sequence(lit(0), lit(63)), _ => lit(0)),
      (acc, h) => zip_with(acc, sequence(lit(0), lit(63)), (v, i) => {
        val hexDigit = substring(h, (floor(i / 4) + 1).cast("int"), lit(1))
        val digitVal = instr(lit("0123456789abcdef"), hexDigit) - 1
        val bit = floor(digitVal / pow(lit(2.0), (i % 4).cast("double"))).cast("int") % 2
        v + when(bit === 1, 1).otherwise(-1)
      }))
    val bits = transform(votes, v => when(v > 0, lit(1)).otherwise(lit(0)))
    // assemble hex: 16 nibbles, nibble i from bits [4i, 4i+4)
    val nibbles = transform(sequence(lit(0), lit(15)), i =>
      substring(lit("0123456789abcdef"),
        (element_at(bits, (i * 4 + 1).cast("int"))
          + element_at(bits, (i * 4 + 2).cast("int")) * 2
          + element_at(bits, (i * 4 + 3).cast("int")) * 4
          + element_at(bits, (i * 4 + 4).cast("int")) * 8 + 1).cast("int"), lit(1)))
    concat_ws("", nibbles)
  }

  test("simhash identical for identical docs, 16 hex chars") {
    val df = Seq((1L, "alpha beta gamma"), (2L, "alpha beta gamma"),
      (3L, "totally other words")).toDF("doc_id", "text")
    val hs = df.select(hofSimhash($"text")).as[String].collect()
    assert(hs(0) === hs(1))
    assert(hs(0).length === 16)
    assert(hs(0) !== hs(2))
  }

  test("native simhash is bit-identical to the HOF twin") {
    import graft.functions.{NativeText, TextFunctions}
    val df = Seq((1L, "alpha beta gamma delta epsilon"),
      (2L, "the quick brown fox jumps over lazy dogs repeatedly"),
      (3L, ""), (4L, "one")).toDF("doc_id", "text")
    val both = df.select(
      NativeText.simhashOf(TextFunctions.bm25Tokens($"text")).as("native"),
      hofSimhash($"text").as("hof"))
    assert(both.where($"native" =!= $"hof").count() === 0)
  }

  test("connected components: chains propagate across iterations, " +
      "singletons stay their own component, representatives keep") {
    import graft.operators.Dedup
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L).toDF("doc_id")
    // a 4-long chain (1-2-3-4: diameter 3 needs >1 iteration), one
    // pair (5-6), one singleton (7)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L))
      .toDF("id_a", "id_b")
    val out = Dedup.connectedComponents(nodes, "doc_id", pairs,
      "id_a", "id_b").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(out.toSeq === Seq((1L, 1L, true), (2L, 1L, false),
      (3L, 1L, false), (4L, 1L, false), (5L, 5L, true),
      (6L, 5L, false), (7L, 7L, true)))
    // the keep-one face: representatives (incl. the singleton) only
    val corpus = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"),
      (5L, "e"), (6L, "f"), (7L, "g")).toDF("doc_id", "text")
    val kept = Dedup.dropNearDuplicates(corpus, "doc_id",
      Dedup.connectedComponents(nodes, "doc_id", pairs, "id_a", "id_b"))
      .orderBy("doc_id").collect().map(_.getLong(0))
    assert(kept.toSeq === Seq(1L, 5L, 7L))
    // maxIters caps the walk: at 1 iteration the chain's far end has
    // only its neighbor's label, not the global min
    val capped = Dedup.connectedComponents(nodes, "doc_id", pairs,
      "id_a", "id_b", maxIters = 1)
      .where($"id" === 4L).collect().head.getLong(1)
    assert(capped === 3L)
    // a pair endpoint OUTSIDE the roster still relays labels between
    // roster members, and never appears in the output
    val subset = Seq(3L, 5L).toDF("doc_id")
    val viaForeign = Seq((3L, 10L), (5L, 10L)).toDF("id_a", "id_b")
    val relayed = Dedup.connectedComponents(subset, "doc_id",
      viaForeign, "id_a", "id_b").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(relayed.toSeq === Seq((3L, 3L), (5L, 3L)))
  }

  test("keepBestPerGroup: the group winner is max score (not min id), " +
      "ties break id-ascending, NULL scores lose, singletons keep " +
      "themselves — the quality-aware representative law (q224)") {
    import graft.operators.Dedup
    val scored = Seq(
      // group 1: id 2 is LONGER than the min-id member — it wins
      (1L, 1L, Some(5L)), (2L, 1L, Some(9L)), (3L, 1L, Some(9L)),
      // group 5: a NULL score never beats a scored member
      (5L, 5L, None), (6L, 5L, Some(1L)),
      // singleton, even with NULL score, keeps itself
      (7L, 7L, None)
    ).toDF("doc_id", "component", "n_tokens")
    val got = Dedup.keepBestPerGroup(scored, "doc_id", "component",
        "n_tokens").collect()
      .map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(got === Map(1L -> false, 2L -> true, 3L -> false,
      5L -> false, 6L -> true, 7L -> true))
  }

  test("crossGroupPairs: only straddling pairs survive, same-label " +
      "pairs drop, unlabeled endpoints drop (no split to leak) — " +
      "the q225 split-leakage audit law") {
    import graft.operators.Dedup
    val pairs = Seq((1L, 2L), (3L, 4L), (5L, 6L), (7L, 8L))
      .toDF("id_a", "id_b")
    val labels = Seq((1L, "train"), (2L, "test"), (3L, "train"),
      (4L, "train"), (5L, "validation"), (6L, "train"), (7L, "train"))
      .toDF("doc_id", "split") // 8L unlabeled
    val got = Dedup.crossGroupPairs(pairs, "id_a", "id_b", labels,
        "doc_id", "split").collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[String]("label_a"), r.getAs[String]("label_b"))).toSet
    assert(got === Set((1L, 2L, "train", "test"),
      (5L, 6L, "validation", "train")))
  }

  test("cross-corpus contamination: exact duplicates across corpora " +
      "score 1.0, disjoint texts never pair, threshold filters") {
    import graft.operators.Dedup
    val train = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "totally different words here entirely now"))
      .toDF("doc_id", "text")
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta"),
      (101L, "unrelated benchmark prose nothing shared across"))
      .toDF("doc_id", "text")
    val out = Dedup.crossJaccardPairs(
      Dedup.shingleIndexFromTokens(
        Search.tokenBase(train, "doc_id", "text"), "doc_id", 3), "doc_id",
      Dedup.shingleIndexFromTokens(
        Search.tokenBase(bench, "doc_id", "text"), "doc_id", 3), "doc_id", 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(out.toSeq === Seq((1L, 100L, 1.0)))
  }
}

class SearchSpec extends AnyFunSuite {
  import graft.operators.{Search, SimilaritySearch}
  lazy val spark = TestSession.spark
  import spark.implicits._

  test("cosine topK ranks by similarity") {
    val corpus = Seq(
      (1L, Seq(1f, 0f)), (2L, Seq(0.9f, 0.1f)), (3L, Seq(0f, 1f)))
      .toDF("id", "vec")
    val got = SimilaritySearch.topK(corpus, "id", "vec",
      SimilaritySearch.vecLit(Seq(1f, 0f)), 2)
      .select($"id").as[Long].collect()
    assert(got.toSeq === Seq(1L, 2L))
  }

  test("topK score_threshold cuts low scores before the limit") {
    val corpus = Seq(
      (1L, Seq(1f, 0f)), (2L, Seq(0.9f, 0.1f)), (3L, Seq(0f, 1f)))
      .toDF("id", "vec")
    val got = SimilaritySearch.topK(corpus, "id", "vec",
      SimilaritySearch.vecLit(Seq(1f, 0f)), 3, scoreThreshold = Some(0.5))
      .select($"id").as[Long].collect()
    assert(got.toSeq === Seq(1L, 2L)) // id 3 scores 0.0, below the floor
  }

  test("bm25 scores rarer terms higher") {
    val df = Seq(
      (1L, "spark spark spark common"), (2L, "common words here"),
      (3L, "common spark words"), (4L, "nothing relevant")).toDF("doc_id", "text")
    val got = Search.scoreWith(Search.buildIndexFromTokens(
        Search.tokenBase(df, "doc_id", "text"), "doc_id"), Seq("spark", "common"))
      .orderBy(desc("score")).select($"doc_id").as[Long].collect()
    // doc1 has tf=3 of the rarer term
    assert(got.head === 1L)
    assert(got.length === 3) // doc4 matches nothing
  }

  test("weightedMerge leaves no cache entry behind once its result " +
      "is collected") {
    val vec = Seq((1L, 0.9), (2L, 0.5)).toDF("id", "score")
    val lex = Seq((2L, 4.0), (3L, 2.0)).toDF("id", "score")
    // numCachedEntries is sql-private; it is read reflectively
    val cache = spark.sharedState.cacheManager
    def entries: Int = cache.getClass.getMethod("numCachedEntries")
      .invoke(cache).asInstanceOf[Int]
    val before = entries
    val got = Search.weightedMerge(vec, lex, "id", 0.7)
      .as[(Long, Double)].collect().toMap
    assert(entries === before)
    // blended = 0.7·vector + 0.3·(lexical / max lexical), missing as 0
    assert(got.keySet === Set(1L, 2L, 3L))
    assert(math.abs(got(1L) - 0.63) < 1e-12)
    assert(math.abs(got(2L) - 0.65) < 1e-12)
    assert(math.abs(got(3L) - 0.15) < 1e-12)
  }

  test("rrf fusion matches hand-computed 1/(60+rank) sums") {
    val s1 = Seq((10L, 5.0), (20L, 4.0), (30L, 3.0)).toDF("id", "score")
    val s2 = Seq((20L, 9.0), (10L, 1.0)).toDF("id", "score")
    val got = Search.rrf(Seq(s1, s2), "id", "score", 60, 10)
      .as[(Long, Double)].collect().toMap
    val exp10 = BigDecimal(1.0 / 61 + 1.0 / 62).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val exp20 = BigDecimal(1.0 / 62 + 1.0 / 61).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(10L) === exp10)
    assert(got(20L) === exp20)
    assert(got(30L) === BigDecimal(1.0 / 63).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("quick search: snippet truncates strictly past the limit") {
    val results = Seq((1L, 0.9), (2L, 0.8), (3L, 0.7)).toDF("doc_id", "score")
    val docs = Seq(
      (1L, "x" * 201, "t1", null.asInstanceOf[String]),   // 201 → cut + "..."
      (2L, "y" * 200, "t2", "report"),                     // exactly 200 → as-is
      (3L, "short", "t3", null.asInstanceOf[String]))
      .toDF("doc_id", "content", "title", "doc_type")
    val got = Search.quickSearch(results, docs, "doc_id", "score")
      .orderBy("doc_id")
      .select("doc_id", "snippet", "type")
      .as[(Long, String, String)].collect().toSeq
    assert(got(0)._2 === "x" * 200 + "...")
    assert(got(0)._2.length === 203)
    assert(got(1) === ((2L, "y" * 200, "report"))) // no "..." at exactly 200
    assert(got(2) === ((3L, "short", "document"))) // type defaults
  }

  test("search health: both probes fail soft; the error shape is the dead except arm") {
    val probes = Seq(
      ("h1", true, true, None: Option[String]),
      ("h2", false, true, None),   // bare-except qdrant: just False
      ("h3", true, false, None),   // neo4j driver failures ALSO read as
                                   // False (neo4j_service.py:718-729)
      ("h4", true, true, Some("boom"))) // the route's own except arm —
                                   // dead for driver failures
      .toDF("check_id", "qdrant_ok", "neo4j_ok", "service_error")
    val got = graft.operators.Search.healthCheck(probes)
      .orderBy("check_id")
      .select("status", "status_code", "svc_overall", "message")
      .as[(String, Int, Option[Boolean], Option[String])].collect().toSeq
    assert(got === Seq(
      ("healthy", 200, Some(true), None),
      ("unhealthy", 503, Some(false), None),
      ("unhealthy", 503, Some(false), None),
      ("error", 503, None, Some("boom"))))
  }

  test("rag prompt: exact scaffold, 1-based numbering, Python-ish nulls") {
    val ctx = Seq((Seq((Some(7L), Some("first snippet")),
      (Option.empty[Long], Option.empty[String])), "why?"))
      .toDF("ctx", "q")
      .select(graft.operators.Search.ragPrompt(col("q"),
        expr("transform(ctx, c -> struct(c._1 as document_id, c._2 as content))"))
        .as("p"))
      .as[String].head()
    assert(ctx === Seq(
      "You are a helpful assistant answering using the provided context.",
      "If the answer is not in the context, say you don't have enough information.",
      "Cite the document ids inline like [doc:ID] where relevant.",
      "\nContext:",
      "[1] (doc:7) first snippet",
      "[2] (doc:None) ", // null id renders None, null snippet empty
      "\nUser question:",
      "why?",
      "\nAnswer:").mkString("\n"))
  }

  test("graph blend: present ids keep their fused entry, absent ids append raw") {
    val fused = Seq((10L, 0.03), (20L, 0.02)).toDF("id", "score")
    // id 10 is already fused: its HIGHER graph score must NOT replace
    // the fused entry; id 99 is graph-only: appends with its raw score
    val graph = Seq((10L, 0.9), (99L, 0.025)).toDF("id", "score")
    val got = graft.operators.Search
      .fuseWithGraph(fused, graph, "id", "score", 10)
      .as[(Long, Double)].collect().toSeq
    assert(got === Seq((10L, 0.03), (99L, 0.025), (20L, 0.02)))
  }
}

class SessionizeSpec extends AnyFunSuite {
  import graft.operators.Sessionize
  lazy val spark = TestSession.spark
  import spark.implicits._

  test("sessions split on gaps > 30 min") {
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(min: Long) = new java.sql.Timestamp(base.getTime + min * 60000L)
    val df = Seq(
      (1L, 100L, ts(0)), (2L, 100L, ts(10)), (3L, 100L, ts(90)),
      (4L, 200L, ts(0)))
      .toDF("event_id", "user_id", "ts")
    val got = Sessionize.sessions(df, "user_id", "ts", "event_id", 30)
      .select($"user_id", $"session_index", $"n_events")
      .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
    assert(got.toSeq === Seq((100L, 1L, 2L), (100L, 2L, 1L), (200L, 1L, 1L)))
  }
}

class EntrySpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  test("flagship entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query has either an oracle or a documented omission") {
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(noOracle === Set.empty[String]) // every query is value-checked
  }
}
