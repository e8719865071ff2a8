package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Search
import graft.streaming.StatefulSessionize
import graft.streaming.StatefulSessionize.Event

/** True streaming-mode coverage (§2.8): the stateful sessionizer over
  * micro-batches with state carried between them, and a watermarked
  * tumbling-window aggregation — the machinery the reference's CDC
  * loop lacks entirely (SURVEY §2.8 closing note).
  */
class StreamingModeSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  private val MIN = 60L * 1000000L // micros

  test("stateful sessionize carries open sessions across micro-batches") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[Event]
    val sessions = StatefulSessionize.sessionsStream(
      input.toDS(), gapUs = 30 * MIN, timeoutMs = 0)
    val q = sessions.writeStream.format("memory")
      .queryName("sess_out").outputMode(OutputMode.Append()).start()
    try {
      // batch 1: two events 10min apart -> still one OPEN session
      input.addData(Event(7L, 0L, 1L), Event(7L, 10 * MIN, 2L))
      q.processAllAvailable()
      assert(spark.table("sess_out").count() === 0) // nothing closed yet

      // batch 2: event 90min later closes the first session
      input.addData(Event(7L, 100 * MIN, 3L))
      q.processAllAvailable()
      val closed = spark.table("sess_out")
        .select($"user_id", $"session_index", $"n_events", $"start_us", $"end_us")
        .as[(Long, Long, Long, Long, Long)].collect()
      // the first session spans BOTH micro-batches (n_events = 2)
      assert(closed.toSeq === Seq((7L, 1L, 2L, 0L, 10 * MIN)))
    } finally q.stop()
  }

  test("processing-time timeout finalizes a silent open session") {
    import org.apache.spark.api.java.Optional
    import org.apache.spark.sql.streaming.TestGroupState
    import graft.streaming.StatefulSessionize.{OpenSession, Session}
    // timed-out invocation: no new events, hasTimedOut = true — the
    // open session must be emitted as closed and the state removed
    val timedOut = TestGroupState.create[OpenSession](
      Optional.of(OpenSession(1L, 0L, 5 * MIN, 2L)),
      org.apache.spark.sql.streaming.GroupStateTimeout.ProcessingTimeTimeout,
      1000L, Optional.empty[Long](), hasTimedOut = true)
    val out = StatefulSessionize.statefulFn(30 * MIN, 300L, emitOpen = false)(
      9L, Iterator.empty, timedOut).toSeq
    assert(out === Seq(Session(9L, 1L, 2L, 0L, 5 * MIN, 5 * MIN)))
    assert(timedOut.isRemoved)

    // live invocation with an open tail: state kept + timeout armed
    val live = TestGroupState.create[OpenSession](
      Optional.empty[OpenSession](),
      org.apache.spark.sql.streaming.GroupStateTimeout.ProcessingTimeTimeout,
      1000L, Optional.empty[Long](), hasTimedOut = false)
    val out2 = StatefulSessionize.statefulFn(30 * MIN, 300L, emitOpen = false)(
      9L, Iterator(Event(9L, 0L, 1L), Event(9L, 5 * MIN, 2L)), live).toSeq
    assert(out2.isEmpty)
    assert(live.exists && live.get === OpenSession(1L, 0L, 5 * MIN, 2L))
    assert(live.getTimeoutTimestampMs.isPresent) // armed for finalization
  }

  test("watermarked tumbling window aggregates a stream like the batch twin") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val agg = input.toDF().toDF("ts", "event_type", "value")
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n"), sum($"value").as("v"))
    val q = agg.writeStream.format("memory")
      .queryName("win_out").outputMode(OutputMode.Complete()).start()
    try {
      def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 ${min / 60}%02d:${min % 60}%02d:00")
      input.addData((ts(5), "a", 1.0), (ts(20), "a", 2.0), (ts(70), "a", 4.0),
        (ts(30), "b", 8.0))
      q.processAllAvailable()
      val got = spark.table("win_out")
        .select(date_format($"window.start", "HH:mm").as("h"), $"event_type", $"n", $"v")
        .as[(String, String, Long, Double)].collect().toSet
      assert(got === Set(("00:00", "a", 2L, 3.0), ("01:00", "a", 1L, 4.0),
        ("00:00", "b", 1L, 8.0)))
    } finally q.stop()
  }

  test("per-row text operators run unchanged on a continuous stream") {
    import graft.functions.TextFunctions
    implicit val sc = spark.sqlContext
    val docs = Seq(
      (1L, "The quick brown fox jumps over the lazy dog."),
      (2L, "le chat est sur la table et il dort bien"),
      (3L, "numbers 12345 and symbols !!! only here"))
    val sel = (df: org.apache.spark.sql.DataFrame) => df.select(
      $"doc_id",
      size(TextFunctions.bm25Tokens($"text")).as("n_toks"),
      TextFunctions.qualityScoreOfTokens(TextFunctions.allTokens($"text")).as("q"),
      TextFunctions.langIdOfTokens(TextFunctions.allTokens($"text")).as("lang"))
    val batch = sel(docs.toDF("doc_id", "text")).collect().toSet

    val input = MemoryStream[(Long, String)]
    val q = sel(input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("textops_out")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(docs: _*)
      q.processAllAvailable()
      assert(spark.table("textops_out").collect().toSet === batch)
    } finally q.stop()
  }

  test("two-tier chunking runs unchanged on a continuous stream") {
    implicit val sc = spark.sqlContext
    val docs = Seq(
      (1L, ("alpha beta gamma delta " * 20).trim),
      (2L, "short doc"))
    val chunk = (df: org.apache.spark.sql.DataFrame) =>
      graft.operators.TwoTier.chunk(df, "doc_id", "text", 10, 2, 4)
        .select($"doc_id", $"page_index", $"child_index", $"chunk_id", $"chunk_text")
    val batch = chunk(docs.toDF("doc_id", "text")).collect().toSet

    val input = MemoryStream[(Long, String)]
    val q = chunk(input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("chunk_stream_out")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(docs: _*)
      q.processAllAvailable()
      assert(spark.table("chunk_stream_out").collect().toSet === batch)
    } finally q.stop()
  }

  test("prebuilt BM25 index scores identically to the one-shot path") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val terms = Seq("spark", "query", "filter")
    val base = Search.tokenBase(docs, "doc_id", "text").persist()
    val oneShot = Search.scoreWith(Search.buildIndexFromTokens(base, "doc_id"), terms)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val index = Search.buildIndexFromTokens(base, "doc_id")
    val reused1 = Search.scoreWith(index, terms)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val reused2 = Search.scoreWith(index, Seq("spark"))
    assert(reused1 === oneShot)
    assert(reused2.count() > 0) // second query reuses the same index
    base.unpersist()
  }
}
