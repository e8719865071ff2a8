package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded input generator. Everything the program sees is derived
  * here from `--seed`: the corpus, the query streams and the change
  * batches. The corpus follows the measured shape of the program's
  * `sf0.1` test documents (see perfbench/README.md for the figures):
  *  - lowercase words, single spaces, no punctuation, drawn uniformly
  *    from the same 30-word vocabulary;
  *  - base lengths uniform on 10–99 words;
  *  - exact duplicates: identical copies, 8 pairs per 5000 documents;
  *  - near duplicates: 5% of documents are a copy of another document
  *    with the word "dup" appended, mostly in pairs, a few in triples
  *    (the second copy of a triple appends it twice).
  * Two properties are added on purpose, because the program must cope
  * with them and `sf0.1` lacks them:
  *  - a long tail: 2% of documents are about 20x the median length;
  *  - a boilerplate line in 10% of documents (a hot shingle).
  */
object Gen {

  final case class Doc(id: Long, text: String)

  final case class Corpus(
      docs: Array[Doc],
      exactGroups: Seq[Seq[Long]],
      nearPairs: Seq[(Long, Long)],
      hotDocs: Int)

  val boilerplate =
    "subscribe to the weekly newsletter for product updates and release notes today"

  /** The vocabulary of the `sf0.1` documents, less their near-duplicate
    * marker "dup"; each word is about equally frequent there. */
  val Vocabulary: Array[String] = Array(
    "a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter", "group",
    "hash", "join", "key", "line", "merge", "order", "part", "query", "row", "scan",
    "slow", "small", "sort", "spark", "stream", "table", "the", "value", "vector", "window")

  val NearDupMarker = "dup"

  /** Zipf(s) sampler over `n` ranks. */
  final class Zipf(n: Int, s: Double) {
    private val cum: Array[Double] = {
      val c = new Array[Double](n)
      var acc = 0.0
      var i = 0
      while (i < n) { acc += 1.0 / math.pow(i + 1, s); c(i) = acc; i += 1 }
      c
    }
    def sample(r: SplittableRandom): Int = {
      val u = r.nextDouble() * cum(n - 1)
      val i = java.util.Arrays.binarySearch(cum, u)
      if (i >= 0) i else math.min(-i - 1, n - 1)
    }
  }

  /** Document words are uniform over the vocabulary; query terms are
    * Zipf-distributed over a seeded rank order of its indexed words
    * (stopwords and words of two letters or less are not indexed). */
  final class Words(seed: Long) {
    private val ranked: Array[String] = {
      val a = Vocabulary.filter(w => Brute.tokens(w).nonEmpty)
      val r = new SplittableRandom(seed ^ 0x5eedL)
      var j = a.length - 1
      while (j > 0) { val k = r.nextInt(j + 1); val t = a(j); a(j) = a(k); a(k) = t; j -= 1 }
      a
    }
    private val zipf = new Zipf(ranked.length, 1.0)
    def word(r: SplittableRandom): String = Vocabulary(r.nextInt(Vocabulary.length))
    def zipfWord(r: SplittableRandom): String = ranked(zipf.sample(r))
    def words(r: SplittableRandom, n: Int): Array[String] = Array.fill(n)(word(r))
  }

  def render(ws: Array[String]): String = ws.mkString(" ")

  /** Document length in words: 98% uniform on 10–99, 2% long tail of
    * about 20x the median (1000–1199). */
  def length(r: SplittableRandom): Int =
    if (r.nextInt(50) == 0) 1000 + r.nextInt(200) else 10 + r.nextInt(90)

  /** Substitute about `frac` of the words with different vocabulary words. */
  def perturb(ws: Array[String], frac: Double, r: SplittableRandom,
      words: Words): Array[String] = {
    val out = ws.clone()
    val n = math.max(1, math.round(ws.length * frac).toInt)
    var k = 0
    while (k < n) {
      val i = r.nextInt(out.length)
      var w = words.word(r)
      while (w == out(i)) w = words.word(r)
      out(i) = w
      k += 1
    }
    out
  }

  def corpus(seed: Long, nDocs: Int, words: Words): Corpus = {
    val r = new SplittableRandom(seed)
    val texts = new Array[String](nDocs)
    val bodies = new Array[Array[String]](nDocs)
    var i = 0
    while (i < nDocs) { bodies(i) = words.words(r, length(r)); i += 1 }
    // planted structure on disjoint slots, chosen by a seeded shuffle
    val slots = (0 until nDocs).toArray
    var j = nDocs - 1
    while (j > 0) {
      val k = r.nextInt(j + 1); val t = slots(j); slots(j) = slots(k); slots(k) = t; j -= 1
    }
    var next = 0
    def take(): Int = { val s = slots(next); next += 1; s }
    // the boilerplate docs are the last tenth of the shuffle, disjoint
    // from the planted duplicates taken from its front
    val hot = new Array[Boolean](nDocs)
    (0 until nDocs / 10).foreach(i => hot(slots(nDocs - 1 - i)) = true)
    def body(s: Int): String =
      if (hot(s)) boilerplate + " " + render(bodies(s)) else render(bodies(s))

    val exact = (0 until math.max(2, nDocs * 8 / 5000)).map { _ =>
      val a = take(); val b = take()
      texts(a) = body(a); texts(b) = texts(a)
      Seq(a.toLong + 1, b.toLong + 1).sorted
    }
    // near-duplicate clusters: a base and one copy (or, one time in
    // ten, two) with the marker appended once per copy number, until 5%
    // of documents are copies
    val near = mutable.ArrayBuffer[(Long, Long)]()
    var copies = 0
    while (copies < nDocs / 20) {
      val base = take()
      texts(base) = render(bodies(base))
      val size = if (r.nextInt(10) == 0) 3 else 2
      val members = base +: (1 until size).map { n =>
        val c = take()
        texts(c) = texts(base) + (" " + NearDupMarker) * n
        copies += 1
        c
      }
      val ids = members.map(_.toLong + 1).sorted
      for (a <- ids; b <- ids if a < b) near += ((a, b))
    }
    i = 0
    while (i < nDocs) { if (texts(i) == null) texts(i) = body(i); i += 1 }
    val docs = Array.tabulate(nDocs)(k => Doc(k.toLong + 1, texts(k)))
    Corpus(docs, exact, near.toSeq, docs.count(_.text.startsWith(boilerplate)))
  }

  // ---- queries ----

  sealed trait Query { def kind: String }
  final case class Bm25Q(terms: Seq[String]) extends Query { def kind = "bm25" }
  final case class VecQ(probe: Array[Float]) extends Query { def kind = "vector" }
  final case class IvfQ(probe: Array[Float]) extends Query { def kind = "ivf" }
  final case class HybridQ(terms: Seq[String], probe: Array[Float]) extends Query {
    def kind = "hybrid"
  }

  /** Probe vector: a corpus vector with small uniform noise. */
  def perturbVec(v: Array[Float], r: SplittableRandom): Array[Float] =
    v.map(x => (x + (r.nextDouble() - 0.5) * 0.1).toFloat)

  /** `n` terms (default 1–5) drawn Zipf-style from the corpus vocabulary. */
  def zipfTerms(r: SplittableRandom, words: Words, n: Int = 0): Seq[String] =
    Seq.fill(if (n > 0) n else 1 + r.nextInt(5))(words.zipfWord(r)).distinct

  /** The search mix, 40% BM25, 20% exact vector, 20% IVF, 20% hybrid, as
    * a fixed cycle of kinds so every run sees the same shares. The k-th
    * BM25 query of a stream has 1 + k % 5 terms; the terms and the
    * probes are seeded. */
  val Mix = "bvbih"

  def query(pos: Int, r: SplittableRandom, words: Words, corpus: Corpus,
      vec: Long => Array[Float]): Query = {
    def probe() = perturbVec(vec(corpus.docs(r.nextInt(corpus.docs.length)).id), r)
    Mix(pos % Mix.length) match {
      case 'b' =>
        val k = pos / Mix.length * Mix.count(_ == 'b') + Mix.take(pos % Mix.length).count(_ == 'b')
        Bm25Q(zipfTerms(r, words, 1 + k % 5))
      case 'v' => VecQ(probe())
      case 'i' => IvfQ(probe())
      case _ =>
        val d = corpus.docs(r.nextInt(corpus.docs.length))
        val toks = Brute.tokens(d.text)
        val terms = Seq.fill(2 + r.nextInt(2))(toks(r.nextInt(toks.length))).distinct
        HybridQ(terms, perturbVec(vec(d.id), r))
    }
  }

  // ---- change batches ----

  final case class Row(key: String, ordinal: Long, hash: String, text: String)
  final case class Batch(index: Int, upserts: Seq[Row], deletes: Seq[(String, Long)])

  def md5Hex(s: String): String = {
    val d = MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8))
    d.map(b => f"${b & 0xff}%02x").mkString
  }

  def key(id: Long): String = f"k$id%07d"

  /** Driver-side model of the committed source state, and the
    * generator of change batches against it. Applying a batch to the
    * model follows the engine's documented laws: per key the
    * max-ordinal row wins, stale ordinals are skipped, an equal-content
    * newer ordinal only bumps, a newer-ordinal delete removes. */
  final class ChangeModel(seed: Long, initial: Array[Doc], words: Words) {
    val state = mutable.LinkedHashMap[String, Row]()
    initial.foreach(d => state(key(d.id)) = Row(key(d.id), 5L, md5Hex(d.text), d.text))
    private val stream = new SplittableRandom(seed ^ 0xc4a9L)
    private var nextId = initial.map(_.id).max + 1
    private var marker = 0L
    /** Per batch: effectively changed docs, deleted keys and one
      * (marker, key) probe per content change. */
    final case class Effect(changed: Seq[Row], deleted: Seq[String],
        probes: Seq[(String, String)], rows: Int)

    private def newMarker(b: Int): String = {
      marker += 1
      "mk" + java.lang.Long.toString(seed.abs % 46656 * 100000 + b * 1000 + marker % 1000, 36)
    }

    /** The next batch, drawn from the model's stream or from `r`. */
    def next(b: Int, size: Int, r: SplittableRandom = stream): (Batch, Effect) = {
      val keys = state.keys.toArray
      val picked = mutable.LinkedHashSet[String]()
      def pick(): String = {
        var k = keys(r.nextInt(keys.length))
        while (picked(k)) k = keys(r.nextInt(keys.length))
        picked += k; k
      }
      val ups = mutable.ArrayBuffer[Row]()
      val dels = mutable.ArrayBuffer[(String, Long)]()
      val changed = mutable.ArrayBuffer[Row]()
      val deleted = mutable.ArrayBuffer[String]()
      val probes = mutable.ArrayBuffer[(String, String)]()
      def content(old: String): (String, String) = {
        val m = newMarker(b)
        val ws = old.split("\\s+").filter(_.nonEmpty)
        val body = render(perturb(ws, 0.1, r, words).take(400))
        (m, body + " " + m)
      }
      // a fixed composition per 20 operations (8 updates, 4 inserts,
      // 2 deletes, 2 bumps, 2 stale replays, 2 repeats); keys and
      // content are seeded
      var n = 0
      var j = 0
      while (n < size) {
        val u = j % 20
        j += 1
        if (u < 8) { // content update
          val old = state(pick())
          val (m, t) = content(old.text)
          val row = Row(old.key, old.ordinal + 1 + r.nextInt(3), md5Hex(t), t)
          ups += row; changed += row; probes += ((m, row.key)); n += 1
        } else if (u < 12) { // insert
          val id = nextId; nextId += 1
          val (m, t) = content(render(words.words(r, length(r))))
          val row = Row(key(id), 1L, md5Hex(t), t)
          ups += row; changed += row; probes += ((m, row.key)); n += 1
        } else if (u < 14) { // delete
          val old = state(pick())
          dels += ((old.key, old.ordinal + 1)); deleted += old.key; n += 1
        } else if (u < 16) { // ordinal-only bump
          val old = state(pick())
          ups += old.copy(ordinal = old.ordinal + 1); n += 1
        } else if (u < 18) { // stale replay: older ordinal, other content
          val old = state(pick())
          val t = render(words.words(r, 30))
          ups += Row(old.key, old.ordinal - 1, md5Hex(t), t); n += 1
        } else { // same-key repeat: the later ordinal wins
          val old = state(pick())
          val (_, t1) = content(old.text)
          val (m2, t2) = content(old.text)
          val first = Row(old.key, old.ordinal + 1, md5Hex(t1), t1)
          val last = Row(old.key, old.ordinal + 2, md5Hex(t2), t2)
          ups += first; ups += last; changed += last; probes += ((m2, last.key)); n += 2
        }
      }
      val batch = Batch(b, shuffle(ups.toSeq, r), dels.toSeq)
      // commit to the model
      ups.groupBy(_.key).foreach { case (k, rows) =>
        val win = rows.maxBy(_.ordinal)
        state.get(k) match {
          case Some(cur) if win.ordinal < cur.ordinal => ()
          case _ => state(k) = win
        }
      }
      deleted.foreach(state.remove)
      (batch, Effect(changed.toSeq, deleted.toSeq, probes.toSeq, ups.size + dels.size))
    }

    private def shuffle(rows: Seq[Row], r: SplittableRandom): Seq[Row] = {
      val a = rows.toArray
      var j = a.length - 1
      while (j > 0) { val k = r.nextInt(j + 1); val t = a(j); a(j) = a(k); a(k) = t; j -= 1 }
      a.toSeq
    }
  }

  // ---- digest and measured input properties ----

  def digest(parts: Iterator[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    parts.foreach { p => md.update(p.getBytes(UTF_8)); md.update(0.toByte) }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  def corpusDigest(c: Corpus): String =
    digest(c.docs.iterator.flatMap(d => Iterator(d.id.toString, d.text)))

  def quantile(sorted: Array[Double], q: Double): Double =
    if (sorted.isEmpty) Double.NaN
    else sorted(math.min(sorted.length - 1, math.floor(q * (sorted.length - 1) + 0.5).toInt))

  /** Measured properties of a corpus, for the run record. */
  def properties(c: Corpus): Map[String, Any] = {
    val lens = c.docs.map(d => d.text.split("\\s+").count(_.nonEmpty).toDouble).sorted
    val df = mutable.HashMap[String, Int]()
    c.docs.foreach(d => Brute.shingles(Brute.tokens(d.text)).foreach(s => df(s) = df.getOrElse(s, 0) + 1))
    Map(
      "docs" -> c.docs.length,
      "words_p10" -> quantile(lens, 0.1), "words_p50" -> quantile(lens, 0.5),
      "words_p90" -> quantile(lens, 0.9), "words_max" -> lens.last,
      "hot_shingle_df" -> (if (df.isEmpty) 0 else df.values.max),
      "boilerplate_docs" -> c.hotDocs,
      "planted_exact_groups" -> c.exactGroups.size,
      "planted_exact_docs" -> c.exactGroups.map(_.size).sum,
      "planted_near_pairs" -> c.nearPairs.size)
  }
}
