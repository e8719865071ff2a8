package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, LeafExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, EmptyBlock, ExprCode, FalseLiteral, JavaCode, TrueLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the dedup hot path.
  *
  * The HOF formulation (transform/filter/aggregate lambdas) is
  * semantically identical but runs interpreted with a full expression-
  * tree walk per element; for shingling + MinHash that interpretation
  * overhead dominates md5 cost by >10x. These expressions compute the
  * SAME values in one tight imperative pass per row (verified against
  * the DuckDB oracles, which still describe the HOF semantics).
  *
  * CodegenFallback is fine here: each is one eval call per row doing
  * substantial work — there is no per-element expression dispatch left
  * to eliminate, so wholestage codegen would buy little.
  */
object NativeText {

  /** Column API: distinct word n-gram shingles of a token array —
    * exact twin of [[TextFunctions.shinglesOfTokens]]. */
  def shinglesOf(tokens: Column, n: Int): Column =
    GraftColumnBridge.column(ShinglesExpr(GraftColumnBridge.expression(tokens), n))

  /** Column API: MinHash signature of a token array's n-gram shingle
    * set — exact twin of Dedup.minhashSignature(shinglesOfTokens(t,n), k):
    * element k = min over shingles of md5hex(k ‖ ":" ‖ shingle);
    * null/empty shingle sets yield an array of nulls (matching
    * array_min over an empty array).
    */
  def minhashOf(tokens: Column, n: Int, numHashes: Int): Column =
    GraftColumnBridge.column(
      MinHashExpr(GraftColumnBridge.expression(tokens), n, numHashes))

  /** Column API: the term counts of a token array —
    * array<struct<token, tf: long>>, one entry per distinct token in
    * token order, tf = its number of occurrences; null in, null out.
    * Exploding it gives exactly the rows of
    * `explode(tokens).groupBy(token).count()` for that row, without a
    * shuffle (see [[TermCountsExpr]]). */
  def termCountsOf(tokens: Column): Column =
    GraftColumnBridge.column(TermCountsExpr(GraftColumnBridge.expression(tokens)))

  /** Column API: a per-call double constant that generated code reads
    * from its reference array rather than inlining (see
    * [[ReferencedDoubleExpr]]); `null` is a NULL double. */
  def referencedDouble(value: java.lang.Double): Column =
    GraftColumnBridge.column(ReferencedDoubleExpr(value))

  private[functions] def buildShingles(arr: ArrayData, n: Int,
      distinct: Boolean): Array[UTF8String] = {
    val num = arr.numElements()
    if (num < n) return Array.empty
    val out = new java.util.LinkedHashSet[UTF8String]()
    var i = 0
    while (i <= num - n) {
      var s = arr.getUTF8String(i)
      var j = 1
      while (j < n) {
        s = UTF8String.concat(s, SPACE, arr.getUTF8String(i + j))
        j += 1
      }
      if (distinct) out.add(s)
      else out.add(s) // LinkedHashSet both ways: min unaffected by dups
      i += 1
    }
    out.toArray(new Array[UTF8String](0))
  }

  private val SPACE = UTF8String.fromString(" ")

  /** Column API: 64-bit SimHash hex over a token array — bit-identity
    * proven against the test-only HOF twin (OperatorSpec.hofSimhash). */
  def simhashOf(tokens: Column): Column =
    GraftColumnBridge.column(SimHashExpr(GraftColumnBridge.expression(tokens)))

  /** Column API: sorted distinct winnowing fingerprints (array<long>)
    * of a text column — see [[WinnowExpr]]. */
  def winnowOf(text: Column, k: Int, w: Int): Column =
    GraftColumnBridge.column(WinnowExpr(GraftColumnBridge.expression(text), k, w))

  /** Column API: BM25 tokens (len > 2, stopwords dropped, duplicates
    * kept) — exact twin of the `filter(split(lower, …))` HOF chain. */
  def bm25TokensOf(text: Column): Column =
    GraftColumnBridge.column(
      TokenizeExpr(GraftColumnBridge.expression(text), 3, dropStopwords = true))

  /** Column API: all non-empty lowercase tokens, stopwords kept. */
  def allTokensOf(text: Column): Column =
    GraftColumnBridge.column(
      TokenizeExpr(GraftColumnBridge.expression(text), 1, dropStopwords = false))

  /** Column API: BM25 tokens with per-occurrence character offsets —
    * array<struct<token, start_offset, end_offset>>; same token
    * stream as [[bm25TokensOf]]. */
  def bm25TokenOffsetsOf(text: Column): Column =
    GraftColumnBridge.column(
      TokenOffsetsExpr(GraftColumnBridge.expression(text), 3, dropStopwords = true))

  /** Column API: DSIR hashed-gram buckets straight from the text —
    * one pass (tokenize + uni/bigram md5-bucket), exact twin of
    * `Dsir.hashedGrams(allTokens(text), buckets)` whose interpreted
    * HOF chain re-tokenizes three times per row. */
  def hashedGramBucketsOf(text: Column, buckets: Int): Column =
    GraftColumnBridge.column(
      HashedGramBucketsExpr(GraftColumnBridge.expression(text), buckets))

  /** THE tokenizer scan — single definition so the token stream of
    * [[TokenizeExpr]] and [[TokenOffsetsExpr]] cannot drift: maximal
    * [a-z0-9] runs over the lowercased text, minLen / stopword
    * filtered; emits (token, startIdx, endIdx) with 0-based [start,
    * end) offsets in CODE POINTS on the lowercased string — the unit
    * Spark's `substr` and DuckDB's `substring` slice by (a UTF-16
    * char index would shift the window after any astral character).
    */
  private[functions] def scanTokens(input: UTF8String, minLen: Int,
      dropStopwords: Boolean, stopSet: java.util.HashSet[String])(
      emit: (String, Int, Int) => Unit): Unit = {
    val text = input.toLowerCase.toString
    var i = 0
    var cp = 0 // code points consumed up to char index i
    val n = text.length
    while (i < n) {
      val c = text.charAt(i)
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) {
        var j = i + 1
        while (j < n && {
          val d = text.charAt(j)
          (d >= 'a' && d <= 'z') || (d >= '0' && d <= '9')
        }) j += 1
        // token chars are ASCII: code-point length == char length
        if (j - i >= minLen) {
          val tok = text.substring(i, j)
          if (!dropStopwords || !stopSet.contains(tok))
            emit(tok, cp, cp + (j - i))
        }
        cp += j - i
        i = j
      } else {
        if (!Character.isLowSurrogate(text.charAt(i))) cp += 1
        i += 1
      }
    }
  }
}

/** DSIR hashed-gram buckets in one pass over the text: every token
  * and every adjacent-pair bigram ("tok1 tok2") maps to bucket
  * (first 3 md5 bytes, big-endian) mod `buckets` — the exact value
  * of conv(substring(md5(g), 1, 6), 16, 10) % buckets, so the
  * Column-law HOF ([[graft.operators.Dsir.hashedGrams]]) and the
  * DuckDB oracle replay it verbatim. Unigrams emit first, then
  * bigrams (the concat order of the HOF twin). */
case class HashedGramBucketsExpr(child: Expression, buckets: Int)
    extends UnaryExpression with CodegenFallback {
  require(buckets > 0)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  @transient private lazy val md = MessageDigest.getInstance("MD5")
  @transient private lazy val emptyStop = new java.util.HashSet[String]()

  private def bucketOf(g: String): Long = {
    md.reset()
    val d = md.digest(g.getBytes("UTF-8"))
    val v = ((d(0) & 0xff) << 16) | ((d(1) & 0xff) << 8) | (d(2) & 0xff)
    (v % buckets).toLong
  }

  override def nullSafeEval(input: Any): Any = {
    val toks = new scala.collection.mutable.ArrayBuffer[String]()
    NativeText.scanTokens(input.asInstanceOf[UTF8String], 1,
      dropStopwords = false, emptyStop) { (tok, _, _) => toks += tok }
    val n = toks.length
    val out = new Array[Any](if (n >= 2) 2 * n - 1 else n)
    var i = 0
    while (i < n) { out(i) = bucketOf(toks(i)); i += 1 }
    i = 0
    while (i < n - 1) {
      out(n + i) = bucketOf(toks(i) + " " + toks(i + 1))
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): HashedGramBucketsExpr =
    copy(child = c)
  override def prettyName: String = "graft_hashed_gram_buckets"
}

/** SimHash: per-token md5, ±1 votes on 64 bit positions (bit i =
  * (hex-digit i/4 >> (i%4)) & 1), result bit = vote > 0, packed into
  * 16 hex nibbles (weights 1,2,4,8 within the nibble).
  */
case class SimHashExpr(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StringType

  // per-task instance (expressions are deserialized per task, tasks are
  // single-threaded) — avoids a MessageDigest allocation per row
  @transient private lazy val md = MessageDigest.getInstance("MD5")

  override def nullSafeEval(toks: Any): Any = {
    val arr = toks.asInstanceOf[ArrayData]
    val votes = new Array[Int](64)
    var t = 0
    while (t < arr.numElements()) {
      md.reset()
      val d = md.digest(arr.getUTF8String(t).getBytes)
      var i = 0
      while (i < 64) {
        val hexIdx = i >> 2
        val byte = d(hexIdx >> 1) & 0xff
        val digit = if ((hexIdx & 1) == 0) byte >> 4 else byte & 0xf
        val bit = (digit >> (i & 3)) & 1
        votes(i) += (if (bit == 1) 1 else -1)
        i += 1
      }
      t += 1
    }
    val sb = new java.lang.StringBuilder(16)
    var ni = 0
    while (ni < 16) {
      var v = 0
      var b = 0
      while (b < 4) {
        if (votes(ni * 4 + b) > 0) v += (1 << b)
        b += 1
      }
      sb.append(Character.forDigit(v, 16))
      ni += 1
    }
    UTF8String.fromString(sb.toString)
  }

  override protected def withNewChildInternal(c: Expression): SimHashExpr =
    copy(child = c)
  override def prettyName: String = "simhash"
}

/** Distinct n-gram shingles (first-occurrence order — identical to
  * array_distinct over the HOF-built gram array). */
case class ShinglesExpr(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(toks: Any): Any =
    new GenericArrayData(
      NativeText.buildShingles(toks.asInstanceOf[ArrayData], n, distinct = true)
        .asInstanceOf[Array[Any]])
  override protected def withNewChildInternal(c: Expression): ShinglesExpr = copy(child = c)
  override def prettyName: String = "shingles"
}

/** Per-row term counts: one (token, tf) struct per distinct token,
  * sorted as `sort(token)` sorts (binary order, a null element first;
  * a null counts as a token of its own, as a null group key does in a
  * groupBy). The fixed order makes a per-document sum over the
  * exploded entries independent of the order the tokens came in. */
case class TermCountsExpr(child: Expression)
    extends UnaryExpression with CodegenFallback {
  import org.apache.spark.sql.types.{StructField, StructType}

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("token", StringType,
      nullable = child.dataType.asInstanceOf[ArrayType].containsNull),
    StructField("tf", LongType, nullable = false))), containsNull = false)

  override def nullSafeEval(toks: Any): Any = {
    val arr = toks.asInstanceOf[ArrayData]
    val counts = new java.util.HashMap[UTF8String, Array[Long]]()
    var i = 0
    while (i < arr.numElements()) {
      val t = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
      val c = counts.get(t)
      if (c == null) counts.put(t, Array(1L)) else c(0) += 1
      i += 1
    }
    val keys = counts.keySet.toArray(new Array[UTF8String](0))
    java.util.Arrays.sort(keys, TermCountsExpr.TokenOrder)
    new GenericArrayData(keys.map(t =>
      org.apache.spark.sql.catalyst.InternalRow(t, counts.get(t)(0)): Any))
  }

  override protected def withNewChildInternal(c: Expression): TermCountsExpr =
    copy(child = c)
  override def prettyName: String = "graft_term_counts"
}

object TermCountsExpr {
  private val TokenOrder: java.util.Comparator[UTF8String] =
    java.util.Comparator.nullsFirst[UTF8String]((a, b) => a.binaryCompare(b))
}

/** A double constant bound into generated code through
  * `ctx.addReferenceObj`: the compiled class reads it from the
  * `references` array it is instantiated with, so the code body is
  * the same for every value, and plans that differ only in this value
  * share one class in Spark's class cache. A `lit` inlines its value
  * (`5012.0D`), so each new value compiles a new class. Not foldable,
  * so the optimizer keeps it rather than folding it into a literal;
  * evaluation is otherwise a literal's, bit for bit. */
case class ReferencedDoubleExpr(value: java.lang.Double) extends LeafExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = value == null
  override def eval(input: InternalRow): Any = value
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (value == null) ev.copy(code = EmptyBlock, isNull = TrueLiteral,
      value = JavaCode.defaultLiteral(DoubleType))
    else {
      val ref = ctx.addReferenceObj("scalar", value, "java.lang.Double")
      ev.copy(code = code"final double ${ev.value} = $ref.doubleValue();",
        isNull = FalseLiteral)
    }
  override def prettyName: String = "graft_referenced_double"
}

/** MinHash signature over n-gram shingles: element k = min over the
  * shingle set of the k%4-th 32-bit slice (8 hex chars) of
  * md5((k/4) ‖ ":" ‖ shingle) — one digest yields FOUR signature
  * slots, quartering the hashing work vs one-md5-per-slot (the
  * dominant cost of the signature stage; at the sized 32-hash sf1
  * pick this is 8 digests per shingle, not 32). 32-bit minima are
  * statistically equivalent for Jaccard estimation (collision odds
  * 2⁻³² per compared pair), the per-slot minima stay independent
  * because the slices are, and the construction is reproducible in
  * any SQL engine — the oracle replays it with substr(md5(…)).
  * Unsigned-byte slice comparison == hex-string comparison, so
  * minima are taken on raw digest slices and hex-encoded once.
  */
case class MinHashExpr(child: Expression, n: Int, numHashes: Int)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(StringType, containsNull = true)

  private def groups: Int = (numHashes + 3) / 4

  @transient private lazy val prefixes: Array[Array[Byte]] =
    (0 until groups).map(g => s"$g:".getBytes("UTF-8")).toArray

  @transient private lazy val md = MessageDigest.getInstance("MD5")

  override def nullSafeEval(toks: Any): Any = {
    val shingles = NativeText.buildShingles(
      toks.asInstanceOf[ArrayData], n, distinct = false)
    val out = new Array[Any](numHashes)
    if (shingles.isEmpty) return new GenericArrayData(out) // all nulls
    var g = 0
    while (g < groups) {
      val nSlices = math.min(4, numHashes - g * 4)
      val best = new Array[Array[Byte]](nSlices)
      var i = 0
      while (i < shingles.length) {
        md.reset()
        md.update(prefixes(g))
        md.update(shingles(i).getBytes)
        val d = md.digest()
        var s = 0
        while (s < nSlices) {
          if (best(s) == null || sliceLess(d, s * 4, best(s))) {
            val b = new Array[Byte](4)
            System.arraycopy(d, s * 4, b, 0, 4)
            best(s) = b
          }
          s += 1
        }
        i += 1
      }
      var s = 0
      while (s < nSlices) {
        out(g * 4 + s) = UTF8String.fromString(hex(best(s)))
        s += 1
      }
      g += 1
    }
    new GenericArrayData(out)
  }

  private def sliceLess(d: Array[Byte], off: Int,
      best: Array[Byte]): Boolean = {
    var i = 0
    while (i < 4) {
      val x = d(off + i) & 0xff
      val y = best(i) & 0xff
      if (x != y) return x < y
      i += 1
    }
    false
  }

  private def hex(d: Array[Byte]): String = {
    val sb = new java.lang.StringBuilder(8)
    var i = 0
    while (i < d.length) {
      sb.append(Character.forDigit((d(i) >> 4) & 0xf, 16))
      sb.append(Character.forDigit(d(i) & 0xf, 16))
      i += 1
    }
    sb.toString
  }

  override protected def withNewChildInternal(c: Expression): MinHashExpr = copy(child = c)
  override def prettyName: String = "minhash_signature"
}

/** Winnowing document fingerprint (Schleimer/Wilkerson/Aiken MOSS
  * algorithm): polynomial rolling hash of every k-char gram (base 257
  * mod 2^31, over UTF-8 bytes), then the distinct set of per-window
  * minima over windows of `w` consecutive gram hashes (rightmost
  * minimum per window), sorted ascending. Guarantees any shared
  * substring of length >= k + w - 1 contributes a shared fingerprint —
  * the standard near-dup / plagiarism detection primitive.
  *
  * Integer-only arithmetic so a SQL oracle reproduces it exactly.
  */
case class WinnowExpr(child: Expression, k: Int, w: Int)
    extends UnaryExpression with CodegenFallback {
  require(k > 0 && w > 0)
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)

  private val Mod = 1L << 31

  override def nullSafeEval(text: Any): Any = {
    val bytes = text.asInstanceOf[UTF8String].getBytes
    val n = bytes.length
    if (n < k) return new GenericArrayData(Array.empty[Any])
    // gram hashes h(i) = sum_j bytes(i+j) * 257^(k-1-j) mod 2^31
    val nGrams = n - k + 1
    val hashes = new Array[Long](nGrams)
    var pow = 1L // 257^(k-1) mod 2^31
    var j = 1
    while (j < k) { pow = (pow * 257L) % Mod; j += 1 }
    var h = 0L
    var i = 0
    while (i < k) { h = (h * 257L + (bytes(i) & 0xffL)) % Mod; i += 1 }
    hashes(0) = h
    i = 1
    while (i < nGrams) {
      h = (h - ((bytes(i - 1) & 0xffL) * pow) % Mod + Mod) % Mod
      h = (h * 257L + (bytes(i + k - 1) & 0xffL)) % Mod
      hashes(i) = h
      i += 1
    }
    // winnow: rightmost minimum of each w-window, distinct
    val out = new java.util.TreeSet[java.lang.Long]()
    val lastWin = math.max(nGrams - w, 0)
    var s = 0
    while (s <= lastWin) {
      val e = math.min(s + w, nGrams)
      var best = hashes(s)
      var p = s + 1
      while (p < e) {
        if (hashes(p) <= best) best = hashes(p) // rightmost min
        p += 1
      }
      out.add(best)
      s += 1
    }
    val arr = new Array[Any](out.size)
    val it = out.iterator()
    var q = 0
    while (it.hasNext) { arr(q) = it.next().longValue(); q += 1 }
    new GenericArrayData(arr)
  }

  override protected def withNewChildInternal(c: Expression): WinnowExpr =
    copy(child = c)
  override def prettyName: String = "winnow_fingerprints"
}

/** Tokenizer: maximal runs of [a-z0-9] in the UTF8String-lowercased
  * text — exactly `filter(split(lower(text), '[^a-z0-9]+'), ...)`
  * (the same `UTF8String.toLowerCase` primitive Spark's `lower` uses,
  * so non-ASCII case mapping matches), with a minimum token length
  * and optional stopword removal folded into the single pass.
  */
case class TokenizeExpr(child: Expression, minLen: Int, dropStopwords: Boolean)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  @transient private lazy val stopSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    TextFunctions.stopwords.foreach(s.add)
    s
  }

  override def nullSafeEval(input: Any): Any = {
    val out = new scala.collection.mutable.ArrayBuffer[Any]()
    NativeText.scanTokens(input.asInstanceOf[UTF8String], minLen,
      dropStopwords, stopSet) { (tok, _, _) =>
      out += UTF8String.fromString(tok)
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(c: Expression): TokenizeExpr =
    copy(child = c)
  override def prettyName: String = "graft_tokenize"
}

/** [[TokenizeExpr]]'s token stream plus per-occurrence character
  * offsets (the reference's EntityMention start_offset/end_offset
  * contract, entity_v2.py:23-40): 1-based start, exclusive end,
  * measured on the LOWERCASED text (identical to the original for
  * the 1:1 case mappings of this corpus). One struct per occurrence —
  * a token appearing k times yields k entries.
  */
case class TokenOffsetsExpr(child: Expression, minLen: Int, dropStopwords: Boolean)
    extends UnaryExpression with CodegenFallback {
  import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("token", StringType, nullable = false),
    StructField("start_offset", IntegerType, nullable = false),
    StructField("end_offset", IntegerType, nullable = false))),
    containsNull = false)

  @transient private lazy val stopSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    TextFunctions.stopwords.foreach(s.add)
    s
  }

  override def nullSafeEval(input: Any): Any = {
    val out = new scala.collection.mutable.ArrayBuffer[Any]()
    NativeText.scanTokens(input.asInstanceOf[UTF8String], minLen,
      dropStopwords, stopSet) { (tok, i, j) =>
      out += org.apache.spark.sql.catalyst.InternalRow(
        UTF8String.fromString(tok), i + 1, j + 1)
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(c: Expression): TokenOffsetsExpr =
    copy(child = c)
  override def prettyName: String = "graft_token_offsets"
}
