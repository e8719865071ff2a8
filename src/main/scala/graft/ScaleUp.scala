package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus replication for scale testing: writes a `factor`× copy of a
  * testdata directory with surrogate-key remaps, so Bench can be
  * measured one decade beyond the largest driver-provided SF
  * (SCALING.md's fourth point).
  *
  * Replication preserves the WORKLOAD SHAPE, not the bytes:
  *  - fact keys (doc/vec/event/user/order/customer ids) shift by
  *    `replica × 10^7` so joins keep their selectivity and no
  *    cross-replica key ever collides; dimension tables (nation,
  *    region, part, supplier) stay shared, as dimensions would.
  *  - document text in replica i > 0 is word-shuffled with a seed of
  *    (md5(text), i): two exact-duplicate documents shuffle
  *    IDENTICALLY within a replica, so each replica keeps the
  *    original's duplicate structure, while the same document across
  *    replicas diverges — the corpus grows 10× without becoming 90%
  *    duplicates (which would measure the dedup operators on a
  *    pathological input, not a bigger corpus).
  *  - embeddings in replica i rotate their dimensions by i: rotation
  *    is applied to every vector of the replica alike, so every
  *    intra-replica cosine — and with it the near-dup structure — is
  *    EXACTLY preserved, while cross-replica cosines decorrelate.
  *  - with `hotShare` > 0, that share of the documents (picked by a
  *    hash of the id) starts with the boilerplate line [[HotLine]]:
  *    one 3-word shingle then reaches df ≈ hotShare × documents (10⁴
  *    at sf1 with 0.2), the hot key a near-dup operator must split
  *    rather than hand to one task. Derived locally; nothing is read
  *    beyond `srcDir`.
  *
  * Usage: `runMain graft.ScaleUp <srcDir> <outDir> [factor] [hotShare]`.
  */
object ScaleUp {

  private val KeyStride = 10000000L

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    val hotShare = if (args.length > 3) args(3).toDouble else 0.0
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    scaleAll(spark, src, out, factor, hotShare)
    spark.stop()
  }

  /** The boilerplate line of the hot-key variant: three words, so
    * exactly one shingle is shared by every document carrying it. */
  val HotLine = "copyright notice applies"

  def scaleAll(spark: SparkSession, src: String, out: String,
      factor: Int, hotShare: Double = 0.0): Unit = {
    require(hotShare >= 0 && hotShare <= 1, s"hotShare must be in [0, 1]: $hotShare")
    def read(t: String) = Tables.load(spark, src, t)
    def write(t: String)(df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$out/$t.parquet")

    def replicated(t: String)(remap: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(i => remap(read(t), i)).reduce(_ unionAll _)

    def shiftKeys(df: DataFrame, i: Int, keys: String*): DataFrame =
      keys.foldLeft(df)((d, k) =>
        d.withColumn(k, col(k) + lit(i * KeyStride)))

    write("documents")(withHotLine(replicated("documents") { (df, i) =>
      val shifted = shiftKeys(df, i, "doc_id")
      if (i == 0) shifted
      else {
        import spark.implicits._
        val perturbed = shifted
          .select(col("doc_id"), col("text"), col("lang"), col("source"))
          .as[(Long, String, String, String)]
          .map { case (id, text, lang, source) =>
            (id, shuffleWords(text, i), lang, source)
          }
          .toDF("doc_id", "text", "lang", "source")
        perturbed.withColumn("n_chars", length(col("text")).cast("long"))
          .select("doc_id", "text", "lang", "source", "n_chars")
      }
    }, hotShare))

    write("embeddings")(replicated("embeddings") { (df, i) =>
      val shifted = shiftKeys(df, i, "vec_id")
      if (i == 0) shifted
      else {
        // rotation in [1, dim-1]: a multiple of dim would be the
        // identity and replica i would duplicate replica 0 exactly —
        // the cross-replica near-dup pollution this perturbation is
        // here to prevent
        val rot = pmod(lit(i - 1), size(col("embedding")) - 1) + 1
        shifted.withColumn("embedding",
          concat(slice(col("embedding"), rot + 1, lit(Int.MaxValue)),
            slice(col("embedding"), lit(1), rot)))
      }
    })

    write("events")(replicated("events")(
      shiftKeys(_, _, "event_id", "user_id")))
    write("lineitem")(replicated("lineitem")(shiftKeys(_, _, "l_orderkey")))
    write("orders")(replicated("orders")(
      shiftKeys(_, _, "o_orderkey", "o_custkey")))
    write("customer")(replicated("customer")(shiftKeys(_, _, "c_custkey")))
    Seq("part", "supplier", "nation", "region").foreach(t => write(t)(read(t)))
  }

  /** Prefix [[HotLine]] to the `hotShare` of documents whose id hashes
    * below it; `n_chars` follows the new text. */
  private[graft] def withHotLine(docs: DataFrame, hotShare: Double): DataFrame =
    if (hotShare <= 0) docs
    else {
      val hot = pmod(xxhash64(col("doc_id")), lit(1000000L)) < lit((hotShare * 1e6).round)
      docs.withColumn("text",
          when(hot, concat(lit(HotLine + " "), col("text"))).otherwise(col("text")))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }

  /** Deterministic word shuffle seeded by (content hash, replica):
    * identical texts shuffle identically, so duplicate groups survive
    * within a replica. */
  private[graft] def shuffleWords(text: String, replica: Int): String = {
    val words = text.split(" ")
    val seed = scala.util.hashing.MurmurHash3.stringHash(text).toLong * 31 + replica
    val rng = new java.util.Random(seed)
    var k = words.length - 1
    while (k > 0) {
      val j = rng.nextInt(k + 1)
      val t = words(k); words(k) = words(j); words(j) = t
      k -= 1
    }
    words.mkString(" ")
  }
}
