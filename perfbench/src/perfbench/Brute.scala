package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import scala.collection.mutable

/** Driver-side reference implementations the output checks compare
  * the program against. Written from the documented semantics, not by
  * calling the program: BM25 (k1 = 1.2, b = 0.75,
  * idf = ln(1 + (N − df + 0.5)/(df + 0.5))), cosine, word 3-shingle
  * Jaccard and the md5 hash-projection stub embedder. */
object Brute {

  private val stop = graft.functions.TextFunctions.stopwords.toSet

  /** Lowercase, split on non-alphanumerics, keep tokens longer than two
    * characters that are not stopwords; duplicates kept. */
  def tokens(text: String): Array[String] =
    text.toLowerCase.split("[^a-z0-9]+").filter(t => t.length > 2 && !stop(t))

  /** Distinct word 3-shingles of a token array. */
  def shingles(toks: Array[String]): Set[String] =
    if (toks.length < 3) Set.empty
    else toks.sliding(3).map(_.mkString(" ")).toSet

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = a.count(b)
    inter.toDouble / (a.size + b.size - inter).toDouble
  }

  /** Component k = first 24 bits of md5(utf8(text) ‖ byte('0' + k)) / 2^24. */
  def embed(text: String, dim: Int): Array[Float] = {
    val md = MessageDigest.getInstance("MD5")
    val bytes = text.getBytes(UTF_8)
    Array.tabulate(dim) { k =>
      md.reset(); md.update(bytes); md.update((48 + k).toByte)
      val d = md.digest()
      val v = ((d(0) & 0xff) << 16) | ((d(1) & 0xff) << 8) | (d(2) & 0xff)
      (v.toDouble / (1 << 24)).toFloat
    }
  }

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** BM25 over a tokenized corpus (id → tokens). */
  final class Bm25[K](docs: Map[K, Array[String]])(implicit ord: Ordering[K]) {
    private val n = docs.size.toDouble
    private val avgdl = docs.values.map(_.length.toDouble).sum / n
    private val tf: Map[K, Map[String, Int]] =
      docs.map { case (k, t) => k -> t.groupBy(identity).map { case (w, o) => w -> o.length } }
    private val df: Map[String, Int] = {
      val m = mutable.HashMap[String, Int]()
      tf.values.foreach(_.keys.foreach(w => m(w) = m.getOrElse(w, 0) + 1))
      m.toMap
    }
    def score(terms: Seq[String]): Seq[(K, Double)] = {
      val qt = terms.distinct
      docs.keys.toSeq.flatMap { k =>
        val f = tf(k)
        val hit = qt.filter(f.contains)
        if (hit.isEmpty) None
        else {
          val dl = docs(k).length.toDouble
          Some(k -> hit.map { w =>
            val d = df(w).toDouble
            val idf = math.log(1.0 + (n - d + 0.5) / (d + 0.5))
            val t = f(w).toDouble
            idf * (t * 2.2) / (t + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
          }.sum)
        }
      }.sortBy { case (k, s) => (-s, k) }
    }
  }

  /** Top-k of the program against the reference: the scores agree rank
    * by rank within `tol`, and the ids agree except where the reference
    * itself ties within `tol` (at the cut or between ranks). */
  def sameTopK[K](got: Seq[(K, Double)], want: Seq[(K, Double)], k: Int,
      tol: Double): Boolean = {
    val w = want.take(k)
    if (got.length != w.length) return false
    val scoresOk = got.zip(w).forall { case ((_, a), (_, b)) => math.abs(a - b) <= tol }
    val all = want.toMap
    // every returned id must carry the reference's score for that id,
    // and must score at least the reference's k-th score
    val cut = if (w.isEmpty) Double.NegativeInfinity else w.last._2
    val idsOk = got.forall { case (id, s) =>
      all.get(id).exists(ref => math.abs(ref - s) <= tol && ref >= cut - tol)
    } && got.map(_._1).distinct.length == got.length
    scoresOk && idsOk
  }
}
