package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{CorpusArtifacts, Search}

/** The ingest-artifact memo: each artifact has one build path. The
  * lazy BM25 and shingle accessors derive from the stored token frame
  * exactly as buildAll does, whichever is asked for first, and neither
  * tokenizes the corpus a second time. */
class CorpusArtifactsSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  private def docs: DataFrame =
    Tables.load(spark, "/root/testdata/sf0.001", "documents")

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Every row of a BM25 index and a shingle index for one key. */
  private def artifacts(key: String): Seq[Seq[String]] = {
    val ix = CorpusArtifacts.bm25Index(key, docs, "doc_id", "text")
    Seq(rows(ix.idx), rows(ix.dls), rows(ix.stats), rows(ix.impacts),
      rows(CorpusArtifacts.shingleIndex(key, docs, "doc_id", "text", 3)))
  }

  test("the lazy bm25Index and shingleIndex return buildAll's rows, " +
      "whichever is called first") {
    try {
      CorpusArtifacts.buildAll("cas:all", docs, "doc_id", "text", 3)
      val viaBuildAll = artifacts("cas:all")
      // BM25 first
      CorpusArtifacts.bm25Index("cas:bm25-first", docs, "doc_id", "text")
      CorpusArtifacts.shingleIndex("cas:bm25-first", docs, "doc_id", "text", 3)
      assert(artifacts("cas:bm25-first") === viaBuildAll)
      // shingles first
      CorpusArtifacts.shingleIndex("cas:shingles-first", docs, "doc_id", "text", 3)
      CorpusArtifacts.bm25Index("cas:shingles-first", docs, "doc_id", "text")
      assert(artifacts("cas:shingles-first") === viaBuildAll)
      // and what the shingle index holds is the index of the stored tokens
      assert(viaBuildAll(4) === rows(graft.operators.Dedup.shingleIndexFromTokens(
        Search.tokenBase(docs, "doc_id", "text"), "doc_id", 3)))
    } finally CorpusArtifacts.reset()
  }

  test("after the lazy bm25Index and shingleIndex of a fresh key, " +
      "its token frame is already stored: tokens runs no job") {
    val sc = spark.sparkContext
    val (probe, marker) = ("cas.probe", "cas.marker")
    val jobs = new SparkListener {
      @volatile var probed = 0
      @volatile var markerJob = -1
      val markerEnd = new CountDownLatch(1)
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `probe` => probed += 1
          case `marker` => markerJob = e.jobId
          case _ =>
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == markerJob) markerEnd.countDown()
    }
    try {
      CorpusArtifacts.bm25Index("cas:fresh", docs, "doc_id", "text")
      CorpusArtifacts.shingleIndex("cas:fresh", docs, "doc_id", "text", 3)
      sc.addSparkListener(jobs)
      try {
        sc.setJobGroup(probe, "tokens after the lazy builds")
        try CorpusArtifacts.tokens("cas:fresh", docs, "doc_id", "text")
        finally sc.clearJobGroup()
        // the bus delivers events in order: once the marker job's end
        // reaches the listener, so has every probe job start before it
        sc.setJobGroup(marker, "listener drain")
        try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
        assert(jobs.markerEnd.await(10, TimeUnit.SECONDS))
      } finally sc.removeSparkListener(jobs)
      assert(jobs.probed === 0)
    } finally CorpusArtifacts.reset()
  }
}
