package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.util.Random

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.NativeText
import graft.operators.Search

/** The BM25 index build against the join-based build it replaced,
  * kept here as the oracle: postings by an (id, token) groupBy, df by
  * a self-join, document lengths joined back. Both faces must return
  * the oracle's rows, doubles bit for bit, on real, seeded and edge-case
  * token bases. The eager face also has a job and cache budget and a
  * layout: each document's impacts in one partition, in token order. */
class Bm25BuildSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  /** The join-based build: (idx, dls, stats, impacts). */
  private def oracle(base: DataFrame, idCol: String): Seq[DataFrame] = {
    val idx = base
      .select(col(idCol), explode(col("_toks")).as("token"))
      .groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("tf"))
    val dls = base.select(col(idCol), col("dl"))
    val stats = dls.agg(count(lit(1)).cast("double").as("n_docs"),
      avg(col("dl")).as("avgdl"))
    val (k1, b) = (Search.defaultK1, Search.defaultB)
    val impacts = idx.join(idx.groupBy(col("token")).agg(count(lit(1)).as("df")),
        Seq("token"))
      .join(dls, Seq(idCol))
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("term_score",
        col("idf") * (col("tf") * (lit(k1) + 1)) /
          (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl"))))
      .select(col(idCol), col("token"), col("term_score"))
    Seq(idx, dls, stats, impacts)
  }

  /** Sorted rows, each double replaced by its raw bits. */
  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case d: Double => s"bits:${java.lang.Double.doubleToRawLongBits(d)}"
      case v => String.valueOf(v)
    }.mkString("|")).sorted.toSeq

  private def frames(ix: Search.Bm25Index): Seq[DataFrame] =
    Seq(ix.idx, ix.dls, ix.stats, ix.impacts)

  private def release(ix: Search.Bm25Index): Unit = frames(ix).foreach(_.unpersist())

  /** Both faces over `base` return the oracle's rows, frame by frame. */
  private def assertBothFacesMatch(base: DataFrame, idCol: String = "doc_id"): Unit = {
    val want = oracle(base, idCol).map(rows)
    for (eager <- Seq(false, true)) {
      val ix = Search.buildIndexFromTokens(base, idCol, eager)
      try {
        frames(ix).map(rows).zip(want).zip(Seq("idx", "dls", "stats", "impacts"))
          .foreach { case ((got, exp), name) =>
            assert(got === exp, s"$name (eager = $eager)")
          }
      } finally release(ix)
    }
  }

  /** A token base of literal token arrays (None = NULL `_toks`), with
    * `dl` derived as [[Search.tokenBase]] derives it, on `parts`
    * partitions. */
  private def baseOf(docs: Seq[(Long, Option[Seq[String]])], parts: Int = 3): DataFrame =
    docs.toDF("doc_id", "_toks").repartition(parts)
      .select(col("doc_id"), size(col("_toks")).as("dl"), col("_toks"))

  private def seededBase(seed: Long, n: Int): Seq[(Long, Option[Seq[String]])] = {
    val rnd = new Random(seed)
    val vocab = (0 until 12).map(i => s"term$i")
    (1 to n).map { id =>
      // a skewed draw, so tokens repeat within and across documents
      id.toLong -> Some(Seq.fill(rnd.nextInt(40))(vocab(rnd.nextInt(1 + rnd.nextInt(12)))))
    }
  }

  private def sf0001: DataFrame =
    Tables.load(spark, "/root/testdata/sf0.001", "documents")

  test("both faces equal the join-based build on the sf0.001 documents") {
    val base = Search.tokenBase(sf0001, "doc_id", "text").persist()
    try assertBothFacesMatch(base) finally base.unpersist()
  }

  test("both faces equal the join-based build on seeded bases with repeated tokens") {
    for (seed <- Seq(1L, 2L, 3L)) assertBothFacesMatch(baseOf(seededBase(seed, 150)))
  }

  test("stopword-only and NULL texts, and a token in every document") {
    val texts = Seq(
      (1L, "the and of to"),
      (2L, null),
      (3L, "spark data data flows"),
      (4L, "spark spark spark"),
      (5L, "a an it"),
      (6L, "spark query planner"))
    assertBothFacesMatch(Search.tokenBase(texts.toDF("doc_id", "text"), "doc_id", "text"))
    // "everywhere" is in every document: df = N, the smallest idf
    assertBothFacesMatch(baseOf((1L to 20L).map(i =>
      i -> Some(Seq("everywhere") ++ Seq.fill(i.toInt % 4)(s"t${i % 3}")))))
    assertBothFacesMatch(baseOf(Seq(1L -> Some(Seq.empty[String]),
      2L -> None, 3L -> Some(Seq("solo", "solo")))))
  }

  test("a one-document base and an empty base") {
    assertBothFacesMatch(baseOf(Seq(7L -> Some(Seq("only", "doc", "only"))), parts = 1))
    assertBothFacesMatch(baseOf(Seq.empty))
  }

  test("termCountsOf equals explode + groupBy on random arrays") {
    val rnd = new Random(11)
    val arrays = (1 to 300).map { i =>
      val a = if (i % 37 == 0) null
        else Seq.fill(rnd.nextInt(25))(
          if (rnd.nextInt(20) == 0) null else s"w${rnd.nextInt(8)}")
      (i.toLong, a)
    }
    val df = arrays.toDF("rid", "arr").repartition(4)
    val got = df.select(col("rid"), explode(NativeText.termCountsOf(col("arr"))).as("c"))
      .select(col("rid"), col("c.token"), col("c.tf"))
    val want = df.select(col("rid"), explode(col("arr")).as("token"))
      .groupBy(col("rid"), col("token")).agg(count(lit(1)).as("tf"))
    assert(rows(got) === rows(want))
    // one entry per distinct token, in the order sort(token) gives
    val sorted = df.select(col("rid"), NativeText.termCountsOf(col("arr")).as("c"))
      .where(col("c").isNotNull)
      .select(col("c.token").as("t"), sort_array(col("c.token")).as("s"))
      .where(not(col("t") <=> col("s")))
    assert(sorted.count() === 0)
    val order = Seq(Seq("b", "a", "b", "c", "a", "b")).toDF("arr")
      .select(NativeText.termCountsOf(col("arr"))).head().getSeq[Row](0)
      .map(r => (r.getString(0), r.getLong(1)))
    assert(order === Seq(("a", 2L), ("b", 3L), ("c", 1L)))
    assert(Seq(Tuple1(null: Seq[String])).toDF("arr")
      .select(NativeText.termCountsOf(col("arr"))).head().isNullAt(0))
  }

  test("an eager build over a persisted base runs at most 6 jobs and " +
      "adds one cache entry") {
    val sc = spark.sparkContext
    val (group, marker) = ("bm25.build", "bm25.marker")
    val jobs = new SparkListener {
      @volatile var built = 0
      @volatile var markerJob = -1
      val markerEnd = new CountDownLatch(1)
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` => built += 1
          case `marker` => markerJob = e.jobId
          case _ =>
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == markerJob) markerEnd.countDown()
    }
    // numCachedEntries is sql-private; it is read reflectively
    val cache = spark.sharedState.cacheManager
    def entries: Int = cache.getClass.getMethod("numCachedEntries")
      .invoke(cache).asInstanceOf[Int]
    val base = Search.tokenBase(sf0001, "doc_id", "text")
      .persist(StorageLevel.MEMORY_AND_DISK)
    base.count()
    val before = entries
    sc.addSparkListener(jobs)
    var ix: Search.Bm25Index = null
    try {
      sc.setJobGroup(group, "eager BM25 build")
      try ix = Search.buildIndexFromTokens(base, "doc_id", eager = true)
      finally sc.clearJobGroup()
      // the bus delivers events in order: once the marker job's end
      // reaches the listener, so has every build job start before it
      sc.setJobGroup(marker, "listener drain")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(jobs.markerEnd.await(10, TimeUnit.SECONDS))
      assert(jobs.built <= 6)
      assert(entries - before === 1)
    } finally {
      sc.removeSparkListener(jobs)
      if (ix != null) release(ix)
      base.unpersist()
    }
  }

  test("a second eager build over a base with other N and avg(dl) compiles " +
      "no class") {
    val bases = Seq(sf0001, sf0001.where(col("doc_id") % 3 =!= 0)).map { d =>
      val b = Search.tokenBase(d, "doc_id", "text").persist()
      b.count()
      b
    }
    var built = Seq.empty[Search.Bm25Index]
    try {
      Compiles.during {
        built :+= Search.buildIndexFromTokens(bases(0), "doc_id", eager = true)
      }
      val second = Compiles.during {
        built :+= Search.buildIndexFromTokens(bases(1), "doc_id", eager = true)
      }
      val stats = built.map(_.stats.head())
      assert(stats(0).getDouble(0) !== stats(1).getDouble(0))
      assert(stats(0).getDouble(1) !== stats(1).getDouble(1))
      assert(second === 0)
    } finally {
      built.foreach(release)
      bases.foreach(_.unpersist())
    }
  }

  test("an eager index keeps each document's impacts in one partition, " +
      "token-sorted, and two builds and the lazy face score bit-identically") {
    val base = Search.tokenBase(sf0001, "doc_id", "text").persist()
    val a = Search.buildIndexFromTokens(base, "doc_id", eager = true)
    val b = Search.buildIndexFromTokens(base, "doc_id", eager = true)
    val lazyIx = Search.buildIndexFromTokens(base, "doc_id")
    try {
      val placed = a.impacts.rdd.mapPartitionsWithIndex { (p, it) =>
        it.map(r => (p, r.getLong(0), r.getString(1)))
      }.collect()
      assert(placed.groupBy(_._2).values.forall(_.map(_._1).distinct.length == 1),
        "a document's impacts span partitions")
      placed.groupBy(_._1).values.foreach { part =>
        val toks = part.map(_._3).toSeq
        assert(toks === toks.sorted, "a partition is not sorted by token")
      }
      val terms = Seq("spark", "query", "filter", "join", "data")
      def scores(ix: Search.Bm25Index): Map[Long, Long] =
        Search.scoreWith(ix, terms).collect()
          .map(r => r.getLong(0) -> java.lang.Double.doubleToRawLongBits(r.getDouble(1)))
          .toMap
      val sa = scores(a)
      assert(sa.nonEmpty)
      assert(sa === scores(b))
      assert(sa === scores(lazyIx))
    } finally {
      release(a); release(b); base.unpersist()
    }
  }

  test("custom k1/b scores equal a driver-side BM25 on both faces") {
    val (k1, b) = (1.5, 0.5)
    val terms = Seq("spark", "query", "filter", "data", "spark")
    val base = Search.tokenBase(sf0001, "doc_id", "text").persist()
    try {
      val all = base.select("doc_id", "_toks").as[(Long, Option[Seq[String]])].collect()
      // N counts every row; avgdl, like avg(dl), only the non-NULL ones
      val n = all.length.toDouble
      val docs = all.collect { case (id, Some(toks)) => (id, toks) }
      val avgdl = docs.map(_._2.length).sum.toDouble / docs.length
      val want = docs.flatMap { case (id, toks) =>
        val hits = terms.distinct.filter(toks.contains)
        if (hits.isEmpty) None
        else Some(id -> hits.map { t =>
          val df = docs.count(_._2.contains(t)).toDouble
          val tf = toks.count(_ == t).toDouble
          math.log(1 + (n - df + 0.5) / (df + 0.5)) * tf * (k1 + 1) /
            (tf + k1 * (1 - b + b * toks.length / avgdl))
        }.sum)
      }.toMap
      assert(want.nonEmpty)
      for (eager <- Seq(false, true)) {
        val ix = Search.buildIndexFromTokens(base, "doc_id", eager)
        try {
          val got = Search.scoreWith(ix, terms, k1, b).as[(Long, Double)].collect().toMap
          assert(got.keySet === want.keySet, s"eager = $eager")
          got.foreach { case (id, s) =>
            assert(math.abs(s - want(id)) <= 1e-9, s"doc $id (eager = $eager)")
          }
        } finally release(ix)
      }
    } finally base.unpersist()
  }
}
