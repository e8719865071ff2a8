package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** The posting-list pair-count kernel behind the exact Jaccard faces
  * against the SQL formulation it replaced: the inverted-index
  * self-join on the shingle, kept here as the oracle. Corpora are
  * seeded and random, with duplicate (id, shingle) rows, null ids and
  * a hot shingle, and the kernel runs on eight partitions. */
class JaccardKernelSpec extends AnyFunSuite {
  // a session of its own: eight owner partitions whatever the
  // suite-wide shuffle setting is
  lazy val spark: SparkSession = {
    val s = TestSession.spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "8")
    s
  }

  type Pair = (Long, Long, Long, Double)

  /** The self-join: every co-posting row, then a pair aggregate. */
  private def oracle(idx: DataFrame, minSim: Double): Set[Pair] = {
    val counts = idx.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val withN = idx.join(counts, Seq("doc_id"))
    val a = withN.select(col("doc_id").as("id_a"), col("shingle"), col("n").as("n_a"))
    val b = withN.select(col("doc_id").as("id_b"), col("shingle"), col("n").as("n_b"))
    collectPairs(a.join(b, Seq("shingle"))
      .where(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_common"), max(col("n_a")).as("n_a"),
        max(col("n_b")).as("n_b")), "id_a", "id_b", minSim)
  }

  /** The cross join of the two sides' postings, same aggregate. */
  private def crossOracle(train: DataFrame, bench: DataFrame,
      minSim: Double): Set[Pair] = {
    def side(idx: DataFrame, id: String, n: String) =
      idx.join(idx.groupBy(col("doc_id")).agg(count(lit(1)).as(n)), Seq("doc_id"))
        .select(col("doc_id").as(id), col("shingle"), col(n))
    collectPairs(side(train, "train_id", "n_a")
      .join(side(bench, "bench_id", "n_b"), Seq("shingle"))
      .groupBy(col("train_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_common"), max(col("n_a")).as("n_a"),
        max(col("n_b")).as("n_b")), "train_id", "bench_id", minSim)
  }

  private def collectPairs(agg: DataFrame, a: String, b: String,
      minSim: Double): Set[Pair] =
    agg.withColumn("jaccard", col("n_common").cast("double") /
        (col("n_a") + col("n_b") - col("n_common")).cast("double"))
      .where(col("jaccard") >= minSim)
      .select(col(a), col(b), col("n_common"), round(col("jaccard"), 6))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet

  private def rows(df: DataFrame): Set[Pair] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet

  /** A seeded corpus of `docs` documents drawing 5-40 shingles from a
    * `vocab`-word pool: 5% of its rows repeat, some ids are null, and
    * the first `hot` documents share one extra shingle. Near-duplicate
    * pairs come from copying a document with one shingle swapped. */
  private def corpus(seed: Long, docs: Int, vocab: Int, hot: Int = 0,
      firstId: Long = 1L): DataFrame = {
    import spark.implicits._
    val rng = new scala.util.Random(seed)
    val bodies = Array.tabulate(docs) { d =>
      if (d > 0 && rng.nextDouble() < 0.2) {
        val src = rng.nextInt(d)
        null.asInstanceOf[Seq[String]] -> src
      } else Seq.fill(5 + rng.nextInt(36))(s"s${rng.nextInt(vocab)}").distinct -> -1
    }
    val resolved = new Array[Seq[String]](docs)
    for (d <- 0 until docs) resolved(d) = bodies(d) match {
      case (null, src) =>
        val b = resolved(src)
        b.updated(rng.nextInt(b.size), s"x$d")
      case (b, _) => b
    }
    val postings = for {
      d <- 0 until docs
      id = if (rng.nextDouble() < 0.03) None else Some(firstId + d)
      s <- resolved(d) ++ (if (d < hot) Seq("hot") else Nil)
      k <- 1 to (if (rng.nextDouble() < 0.05) 2 else 1)
    } yield (id, s)
    postings.toDF("doc_id", "shingle").repartition(3)
  }

  test("self face equals the self-join on seeded corpora with duplicate rows and null ids") {
    for (seed <- 1L to 4L; minSim <- Seq(0.2, 0.5, 0.8)) {
      val idx = corpus(seed, 300, 60).cache()
      val got = rows(Dedup.jaccardPairsFromIndex(idx, "doc_id", minSim))
      assert(got === oracle(idx, minSim), s"seed $seed minSim $minSim")
      assert(got.nonEmpty)
      idx.unpersist()
    }
  }

  test("a hot shingle at df >= 2000 splits over the owners and still counts exactly") {
    val idx = corpus(7L, 2400, 400, hot = 2200).cache()
    val hotDf = idx.where(col("shingle") === "hot" && col("doc_id").isNotNull).count()
    assert(hotDf >= 2000)
    assert(Partitioning.parallelism(spark) >= 4)
    for (minSim <- Seq(0.3, 0.6)) {
      val got = rows(Dedup.jaccardPairsFromIndex(idx, "doc_id", minSim))
      assert(got === oracle(idx, minSim), s"minSim $minSim")
    }
    idx.unpersist()
  }

  test("duplicate (id, shingle) rows count with multiplicity; null ids never pair") {
    import spark.implicits._
    // doc 1 holds s1 twice: n_1 = 4 rows, n_common(1, 2) = 2·1 + 1 = 3
    val idx = Seq[(Option[Long], String)](
      (Some(1L), "s1"), (Some(1L), "s1"), (Some(1L), "s2"), (Some(1L), "s3"),
      (Some(2L), "s1"), (Some(2L), "s2"), (Some(2L), "s4"),
      (None, "s1"), (None, "s2"), (None, "s3"))
      .toDF("doc_id", "shingle")
    val got = rows(Dedup.jaccardPairsFromIndex(idx, "doc_id", 0.0))
    assert(got === Set((1L, 2L, 3L, 0.75)))
    assert(got === oracle(idx, 0.0))
  }

  test("an empty index and a single-document index yield no pairs") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "shingle")
    assert(rows(Dedup.jaccardPairsFromIndex(empty, "doc_id", 0.0)).isEmpty)
    val single = Seq((5L, "a"), (5L, "b"), (5L, "a")).toDF("doc_id", "shingle")
    assert(rows(Dedup.jaccardPairsFromIndex(single, "doc_id", 0.0)).isEmpty)
    assert(oracle(single, 0.0).isEmpty)
  }

  test("a pair exactly at the threshold survives: the prefilter is never stricter than the final filter") {
    import spark.implicits._
    // |A ∩ B| = 2, |A ∪ B| = 4: jaccard exactly 0.5
    val idx = Seq((1L, "p"), (1L, "q"), (1L, "r"), (2L, "p"), (2L, "q"), (2L, "s"))
      .toDF("doc_id", "shingle")
    assert(rows(Dedup.jaccardPairsFromIndex(idx, "doc_id", 0.5)) === Set((1L, 2L, 2L, 0.5)))
    assert(rows(Dedup.jaccardPairsFromIndex(idx, "doc_id", 0.5000001)).isEmpty)
  }

  test("integral ids of any width keep their type; other id types are refused") {
    import spark.implicits._
    val idx = Seq((1, "p"), (1, "q"), (2, "p"), (2, "q")).toDF("doc_id", "shingle")
    val out = Dedup.jaccardPairsFromIndex(idx, "doc_id", 0.5)
    assert(out.schema("id_a").dataType === org.apache.spark.sql.types.IntegerType)
    assert(out.collect().map(r => (r.getInt(0), r.getInt(1))).toSeq === Seq((1, 2)))
    val strIds = Seq(("a", "p"), ("b", "p")).toDF("doc_id", "shingle")
    intercept[IllegalArgumentException](Dedup.jaccardPairsFromIndex(strIds, "doc_id", 0.5))
  }

  test("cross face equals the cross join: only train-bench pairs count, colliding ids stay distinct") {
    for (seed <- 11L to 13L; minSim <- Seq(0.2, 0.6)) {
      // the same seed draws the bench documents as near-copies of the
      // first train documents, under ids that overlap the train range
      val train = corpus(seed, 250, 50, hot = 120).cache()
      val bench = corpus(seed, 80, 50, hot = 40, firstId = 200L).cache()
      val got = rows(Dedup.crossJaccardPairs(train, "doc_id", bench, "doc_id", minSim))
      assert(got === crossOracle(train, bench, minSim), s"seed $seed minSim $minSim")
      assert(got.nonEmpty)
      train.unpersist(); bench.unpersist()
    }
  }
}
