package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.util.Random

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dataflow.Flow
import graft.incremental.{Incremental, IncrementalIndex, Memo, ParquetSink}

object JobCount {
  /** Spark jobs `body` starts from the calling thread, counted by a
    * local property every job it starts inherits: AQE's stage jobs
    * and the broadcast jobs too, which set a job group of their own.
    * A one-task marker job drains the listener bus (events arrive in
    * order, so once the marker's end is seen every job of `body` has
    * been counted). */
  def during[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val (key, counted, marker) = ("graft.jobcount", "body", "marker")
    val jobs = new SparkListener {
      @volatile var n = 0
      @volatile var markerJob = -1
      val markerEnd = new CountDownLatch(1)
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(key)).orNull match {
          case `counted` => n += 1
          case `marker` => markerJob = e.jobId
          case _ =>
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == markerJob) markerEnd.countDown()
    }
    sc.addSparkListener(jobs)
    try {
      sc.setLocalProperty(key, counted)
      val out = try body finally sc.setLocalProperty(key, null)
      sc.setLocalProperty(key, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(key, null)
      assert(jobs.markerEnd.await(10, TimeUnit.SECONDS))
      (out, jobs.n)
    } finally sc.removeSparkListener(jobs)
  }
}

class FlowSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  test("import → transform → forEach → collect → export round-trip") {
    val tmp = Files.createTempDirectory("flow").toString
    val docs = Seq(
      (1L, "alpha beta. gamma delta."),
      (2L, "epsilon zeta.")).toDF("doc_id", "content")

    val flow = Flow(spark)
    flow.importSource(docs, "doc_id")
      .transform("sentences", split($"content", "\\. *"))
      .forEach("sentences", "sentence")
      .transform("n_chars", length($"sentence"))
      .collect("chunks", Seq(
        "doc_id" -> $"doc_id",
        "chunk_index" -> $"sentence_index",
        "text" -> $"sentence",
        "n_chars" -> $"n_chars"),
        autoUuidField = Some("chunk_uuid"))
    flow.export("chunks", s"$tmp/chunks", Seq("chunk_uuid"))

    val out = spark.read.parquet(s"$tmp/chunks")
    assert(out.columns.toSet === Set("chunk_uuid", "doc_id", "chunk_index", "text", "n_chars"))
    // doc1: "alpha beta", "gamma delta", ""; doc2: "epsilon zeta", ""
    val texts = out.select($"text").as[String].collect().toSet
    assert(texts.contains("alpha beta"))
    // stable UUID: re-running the flow produces identical ids
    val flow2 = Flow(spark)
    flow2.importSource(docs, "doc_id")
      .transform("sentences", split($"content", "\\. *"))
      .forEach("sentences", "sentence")
      .transform("n_chars", length($"sentence"))
      .collect("chunks", Seq(
        "doc_id" -> $"doc_id", "chunk_index" -> $"sentence_index",
        "text" -> $"sentence", "n_chars" -> $"n_chars"),
        autoUuidField = Some("chunk_uuid"))
    val ids1 = out.select($"chunk_uuid").as[String].collect().sorted
    val ids2 = flow2.collector("chunks").select($"chunk_uuid").as[String].collect().sorted
    assert(ids1.toSeq === ids2.toSeq)
  }

  test("r18 pass 9: stableUuid cannot collide on shifted nulls or " +
      "embedded separators (the Memo.fingerprint law)") {
    import graft.dataflow.Flow
    val rows = Seq(
      (Option("x"), Option.empty[String]),
      (Option.empty[String], Option("x")),
      (Option("ab"), Option("c")),
      (Option("a"), Option("bc")),
      (Option("x"), Option("x")))
      .toDF("f1", "f2")
    val ids = rows.select(Flow.stableUuid(col("f1"), col("f2")).as("id"))
      .as[String].collect()
    assert(ids.distinct.length === ids.length,
      s"uuid collision among distinct rows: ${ids.mkString(", ")}")
    // stability: the same content yields the same id across plans
    val again = rows.orderBy($"f1").select(
      Flow.stableUuid(col("f1"), col("f2")).as("id")).as[String].collect()
    assert(ids.sorted.toSeq === again.sorted.toSeq)
  }

  test("transform enforces write-once fields") {
    val docs = Seq((1L, "x")).toDF("doc_id", "content")
    val scope = Flow(spark).importSource(docs, "doc_id")
      .transform("f", lit(1))
    assertThrows[IllegalArgumentException](scope.transform("f", lit(2)))
  }

  test("importSource requires a key column") {
    assertThrows[IllegalArgumentException](
      Flow(spark).importSource(Seq(1).toDF("x"), "missing_key"))
  }
}

class IncrementalSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  /** chunking "pipeline": doc → one target row per fixed chunk. */
  private def process(delta: DataFrame): DataFrame =
    operators.Chunker.fixed(delta, "content", 10, 2)
      .select(col("source_key"),
        concat_ws("#", col("source_key"), col("chunk_index")).as("target_key"),
        col("chunk_text"))

  private def src(rows: (String, Long, String)*): DataFrame =
    rows.toSeq.toDF("source_key", "ordinal", "content")
      .withColumn("content_hash", sha2(col("content"), 256))

  test("S0→S1: only added+edited evaluated; touch bumps ordinal; delete removes stale keys") {
    val tmp = Files.createTempDirectory("incr").toString
    val sink = s"$tmp/chunks"
    val track = s"$tmp/tracking"
    val fp = "chunker-v1"

    val s0 = src(("a", 100L, "aaaaaaaaaaaaaaa"), ("b", 100L, "bbbb"),
      ("c", 100L, "cccc"), ("d", 100L, "dddddddddddddddddddd"))
    val n0 = Incremental.syncSource(spark, s0, process, fp, sink, track)
    assert(n0 === 4)
    val chunks0 = spark.read.parquet(sink)
    assert(chunks0.count() === 2 + 1 + 1 + 3) // 15→2, 4→1, 4→1, 20→3 chunks (size10/ov2)

    // S1: edit a (new ordinal+content), touch b (new ordinal same
    // content), keep c, delete d, add e
    val s1 = src(("a", 200L, "zzzz"), ("b", 200L, "bbbb"),
      ("c", 100L, "cccc"), ("e", 200L, "eeee"))
    val n1 = Incremental.syncSource(spark, s1, process, fp, sink, track)
    assert(n1 === 2) // only a (changed) and e (new)

    val chunks1 = spark.read.parquet(sink)
    val keys = chunks1.select($"target_key").as[String].collect().toSet
    assert(keys === Set("a#0", "b#0", "c#0", "e#0")) // d's 3 chunks gone, a's extra chunk gone
    assert(chunks1.where($"target_key" === "a#0")
      .select($"chunk_text").as[String].head() === "zzzz")

    val tracking = spark.read.parquet(track)
    assert(tracking.where($"source_key" === "b")
      .select($"ordinal").as[Long].head() === 200L) // touch bumped
    assert(tracking.where($"source_key" === "d").count() === 0)
  }

  test("stale ordinal is ignored (late-write protection)") {
    val tmp = Files.createTempDirectory("incr2").toString
    val (sink, track) = (s"$tmp/chunks", s"$tmp/tracking")
    Incremental.syncSource(spark, src(("a", 200L, "new content")),
      process, "v1", sink, track)
    val n = Incremental.syncSource(spark, src(("a", 100L, "old content")),
      process, "v1", sink, track)
    assert(n === 0)
    assert(spark.read.parquet(sink).where($"target_key" === "a#0")
      .select($"chunk_text").as[String].head() === "new conten")
  }

  test("logic fingerprint change reprocesses everything") {
    val tmp = Files.createTempDirectory("incr3").toString
    val (sink, track) = (s"$tmp/chunks", s"$tmp/tracking")
    val s = src(("a", 100L, "aaaa"), ("b", 100L, "bbbb"))
    assert(Incremental.syncSource(spark, s, process, "v1", sink, track) === 2)
    assert(Incremental.syncSource(spark, s, process, "v1", sink, track) === 0)
    assert(Incremental.syncSource(spark, s, process, "v2", sink, track) === 2)
  }

  test("r18 parity: a micro-batch carrying one source_key at two " +
      "ordinals evaluates last-wins (source_indexer.rs:142-177 per-key " +
      "serialization + row_indexer.rs:110-133 ordinal monotonicity)") {
    val tmp = Files.createTempDirectory("incr-lw").toString
    val (sink, track) = (s"$tmp/chunks", s"$tmp/tracking")
    // three change files for 'a' land in ONE AvailableNow trigger
    val batch = src(("a", 100L, "oldest a"), ("a", 300L, "newest a!"),
      ("a", 200L, "middle a"), ("b", 100L, "bbbb"))
    val n = Incremental.applyChanges(spark, batch, process, "v1", sink, track)
    assert(n === 2, "a evaluates ONCE (max ordinal), plus b")
    assert(spark.read.parquet(sink).where($"target_key" === "a#0")
      .select($"chunk_text").as[String].head() === "newest a!")
    val trk = spark.read.parquet(track)
    assert(trk.where($"source_key" === "a").count() === 1,
      "no duplicate tracking rows for the duplicated key")
    assert(trk.where($"source_key" === "a")
      .select($"ordinal").as[Long].head() === 300L)
    // a later batch at ordinal 250 (between the duplicates) is stale
    assert(Incremental.applyChanges(spark,
      src(("a", 250L, "late write")), process, "v1", sink, track) === 0)
  }

  test("r18 parity: a replayed stale ObjectRemoved never drops a newer " +
      "row — deletes share the upserts' ordinal guard " +
      "(row_indexer.rs:99-131 NonExistence through should_skip)") {
    val tmp = Files.createTempDirectory("incr-del").toString
    val (sink, track) = (s"$tmp/chunks", s"$tmp/tracking")
    val conn = graft.sinks.ParquetConnector
    Incremental.applyChanges(spark, src(("a", 200L, "live")), process,
      "v1", sink, track)
    // replayed delete at an OLDER ordinal → skipped entirely
    Incremental.applyChangeStreamTo(spark, src(),
      Seq(("a", 100L)).toDF("source_key", "ordinal"), process, "v1",
      conn, sink, track)
    assert(spark.read.parquet(sink).where($"target_key" === "a#0")
      .count() === 1, "stale delete must not drop the newer row")
    assert(spark.read.parquet(track).where($"source_key" === "a")
      .count() === 1)
    // ordinal TIE → the delete wins (NonExistence outranks
    // CurrentLogic, row_indexer.rs:34-41)
    Incremental.applyChangeStreamTo(spark, src(),
      Seq(("a", 200L)).toDF("source_key", "ordinal"), process, "v1",
      conn, sink, track)
    assert(spark.read.parquet(sink).count() === 0)
    assert(spark.read.parquet(track).count() === 0)
  }

  test("r18 parity: same-batch upsert-vs-delete adjudicates by ordinal; " +
      "a delete with no ordinal is never skippable (row_indexer.rs:117-124)") {
    val tmp = Files.createTempDirectory("incr-mix").toString
    val (sink, track) = (s"$tmp/chunks", s"$tmp/tracking")
    val conn = graft.sinks.ParquetConnector
    // batch: upsert a@300 + delete a@200 → upsert strictly newer, wins
    val n1 = Incremental.applyChangeStreamTo(spark,
      src(("a", 300L, "a survives")),
      Seq(("a", 200L)).toDF("source_key", "ordinal"), process, "v1",
      conn, sink, track)
    assert(n1 === 1)
    assert(spark.read.parquet(sink).where($"target_key" === "a#0")
      .select($"chunk_text").as[String].head() === "a survives")
    // batch: upsert a@400 + delete a@400 → tie, delete wins
    val n2 = Incremental.applyChangeStreamTo(spark,
      src(("a", 400L, "a at 400")),
      Seq(("a", 400L)).toDF("source_key", "ordinal"), process, "v1",
      conn, sink, track)
    assert(n2 === 0, "the tied upsert must not evaluate")
    assert(spark.read.parquet(sink).count() === 0)
    // reseed, then an ordinal-less delete stream (the S3 re-fetch
    // path) drops unconditionally even against a newer stored row
    Incremental.applyChanges(spark, src(("b", 900L, "bbbb")), process,
      "v1", sink, track)
    Incremental.applyChangeStreamTo(spark, src(),
      Seq("b").toDF("source_key"), process, "v1", conn, sink, track)
    assert(spark.read.parquet(track).count() === 0)
  }

  test("r19 ADVICE: last-wins ties beyond (ordinal, content_hash) pick " +
      "deterministically across input orderings (the Memo.cached " +
      "stability law applied to the batch pre-dedup)") {
    // two rows tied on key+ordinal+hash but differing payload — a
    // hash-contract violation; the pick must still be stable
    val rows = Seq(
      ("a", 100L, "h1", "payload-zzz"),
      ("a", 100L, "h1", "payload-aaa"))
    def pick(rs: Seq[(String, Long, String, String)]): String = {
      val batch = rs.toDF("source_key", "ordinal", "content_hash", "body")
        .repartition(4)
      Incremental.diff(batch, Incremental.emptyTracking(spark), "v1")
        .toEvaluate.select($"body").as[String].head()
    }
    val p1 = pick(rows)
    val p2 = pick(rows.reverse)
    assert(p1 === p2, "pick must not depend on input order")
    assert(p1 === "payload-zzz",
      "string-cast desc nulls-last picks the max payload")
    // a null payload ranks below any value (nulls last)
    val withNull = Seq(("a", 100L, "h1", null: String),
      ("a", 100L, "h1", "payload-aaa"))
    assert(pick(withNull) === "payload-aaa")
    assert(pick(withNull.reverse) === "payload-aaa")
    // a DOTTED payload column name flows through the tie-break
    // (r19 review: unquoted col() parses the dot as nested access)
    val dotted = Seq(("a", 100L, "h1", "v1"), ("a", 200L, "h2", "v2"))
      .toDF("source_key", "ordinal", "content_hash", "user.name")
    val got = Incremental.diff(dotted, Incremental.emptyTracking(spark), "v1")
      .toEvaluate.select(col("`user.name`")).as[String].collect().toSeq
    assert(got === Seq("v2"))
  }

  test("memoization: second run computes only misses") {
    val tmp = Files.createTempDirectory("memo").toString
    val cache = s"$tmp/cache"
    var computeCalls = 0L
    def compute(misses: DataFrame): DataFrame = {
      computeCalls += misses.count()
      misses.withColumn("value", upper(col("payload"))).select("_fp", "value")
    }
    def in(rows: String*): DataFrame = rows.toSeq.toDF("payload")
      .withColumn("_fp", Memo.fingerprint("upper-v1", col("payload")))
    val r1 = Memo.cached(spark, cache, in("x", "y"), compute)
    assert(r1.select($"value").as[String].collect().toSet === Set("X", "Y"))
    assert(computeCalls === 2)
    val r2 = Memo.cached(spark, cache, in("x", "y", "z"), compute)
    assert(r2.select($"value").as[String].collect().toSet === Set("X", "Y", "Z"))
    assert(computeCalls === 3) // only z computed
  }

  test("r18 ADVICE: contract-violating inputs (same _fp, different " +
      "payload) compute a DETERMINISTIC representative") {
    val tmp = Files.createTempDirectory("memo-det").toString
    def compute(misses: DataFrame): DataFrame =
      misses.withColumn("value", upper(col("payload"))).select("_fp", "value")
    // two payloads under ONE fingerprint — a broken caller; the
    // representative must be the payload-order minimum, not
    // partition-order luck
    val in = Seq(("zz", "f1"), ("aa", "f1"), ("mm", "f1"))
      .toDF("payload", "_fp").repartition(3)
    val out = Memo.cached(spark, s"$tmp/cache", in, compute)
    assert(out.select($"value").as[String].collect().toSeq === Seq("AA"))
  }

  test("r18 pass 8: Memo.cached preserves the caller's column order " +
      "(positional compute implementations) and still accepts an " +
      "UNORDERABLE map-typed payload via the window arm") {
    val tmp = Files.createTempDirectory("memo-ord").toString
    // payload BEFORE _fp: compute reads positionally
    def compute(misses: DataFrame): DataFrame = {
      assert(misses.columns.toSeq === Seq("payload", "_fp", "extra"),
        "input column order must survive the dedup")
      misses.withColumn("value", upper(col("payload"))).select("_fp", "value")
    }
    val in = Seq(("x", "f1", 1), ("y", "f2", 2))
      .toDF("payload", "_fp", "extra")
    val r = Memo.cached(spark, s"$tmp/c1", in, compute)
    assert(r.count() === 2)
    // map payload: min(struct) would throw (maps are unorderable) —
    // the window arm must carry it
    val in2 = Seq(("f3", Map("k" -> "v")), ("f3", Map("k" -> "v")))
      .toDF("_fp", "props")
    def compute2(m: DataFrame): DataFrame =
      m.select(col("_fp"), lit("ok").as("value"))
    val r2 = Memo.cached(spark, s"$tmp/c2", in2, compute2)
    assert(r2.select($"value").as[String].collect().toSeq === Seq("ok"))
  }

  test("r19 pass 8: a DOTTED payload column flows through Memo.cached " +
      "on both the aggregate and the window arms (the lastWinsPerKey " +
      "quoting class, applied where it was still missing)") {
    val tmp = Files.createTempDirectory("memo-dot").toString
    // orderable (string) payload with a dot → the aggregate arm
    val in = Seq(("zz", "f1"), ("aa", "f1"))
      .toDF("user.name", "_fp").repartition(2)
    def compute(m: DataFrame): DataFrame =
      m.select(col("_fp"), upper(col("`user.name`")).as("value"))
    val r = Memo.cached(spark, s"$tmp/c1", in, compute)
    assert(r.select($"value").as[String].collect().toSeq === Seq("AA"))
    // unorderable (map) payload NEXT TO a dotted column → the window
    // arm orders over both
    val in2 = Seq(("f2", Map("k" -> "v"), "x"), ("f2", Map("k" -> "v"), "x"))
      .toDF("_fp", "props", "a.b")
    def compute2(m: DataFrame): DataFrame =
      m.select(col("_fp"), lit("ok").as("value"))
    val r2 = Memo.cached(spark, s"$tmp/c2", in2, compute2)
    assert(r2.select($"value").as[String].collect().toSeq === Seq("ok"))
  }

  private type Up = (String, Option[Long], String, Option[String])

  private def ups(rows: Seq[Up]): DataFrame =
    rows.toDF("source_key", "ordinal", "content", "content_hash")

  private def sinkRows(path: String): Option[Seq[(String, String)]] =
    ParquetSink.read(spark, path).map(_.select("target_key", "chunk_text")
      .as[(String, String)].collect().toSeq.sorted)

  private def trackRows(path: String): Option[Seq[String]] =
    ParquetSink.read(spark, path).map(_.select(concat_ws("|",
        col("source_key"), coalesce(col("ordinal").cast("string"), lit("-")),
        coalesce(col("content_hash"), lit("-")), col("logic_fp"),
        concat_ws(",", sort_array(col("target_keys")))))
      .as[String].collect().toSeq.sorted)

  test("the one-pass commit equals the join-based sync over random batch sequences") {
    val keys = (0 until 8).map(i => s"k$i")
    val texts = Seq("", "short", "a medium body", "a longer body of text that spans chunks",
      "another body!", "zzzz zzzz zzzz zzzz zzzz")
    val kinds = Seq("snapshot", "changes", "stream", "stream-no-ordinal", "idle")
    (1 to 4).foreach { seed =>
      val r = new Random(seed)
      val tmp = Files.createTempDirectory(s"incr-law-$seed").toString
      val (sinkA, trackA) = (s"$tmp/a/sink", s"$tmp/a/tracking")
      val (sinkB, trackB) = (s"$tmp/b/sink", s"$tmp/b/tracking")
      def ordinal(): Option[Long] = if (r.nextInt(8) == 0) None else Some(1L + r.nextInt(6))
      def upsert(): Up = {
        val text = texts(r.nextInt(texts.size))
        // hash ties with other payloads, and null hashes, on purpose
        val hash = r.nextInt(10) match {
          case 0 => None
          case 1 => Some("h-shared")
          case _ => Some("h-" + text.hashCode)
        }
        (keys(r.nextInt(keys.size)), ordinal(), text, hash)
      }
      var fp = "v1"
      var last: () => (Long, Long) = () => (0L, 0L)
      (0 until 12).foreach { step =>
        if (r.nextInt(8) == 0) fp = if (fp == "v1") "v2" else "v1"
        val kind = if (step == 0) "snapshot" else kinds(r.nextInt(kinds.size))
        val rows = Seq.fill(r.nextInt(7))(upsert())
        val batch = ups(rows)
        // half the delete arms also tie an upsert of the batch on its
        // key and ordinal (the delete wins)
        val tie = rows.headOption.filter(_ => r.nextBoolean()).map(u => (u._1, u._2))
        val dels = Seq.fill(r.nextInt(3))((keys(r.nextInt(keys.size)), ordinal())) ++ tie
        val f = fp
        val run: () => (Long, Long) = kind match {
          case "snapshot" =>
            val snap = ups(keys.filter(_ => r.nextInt(4) != 0).map(k =>
              (k, ordinal(), texts(r.nextInt(texts.size)), Some("h-" + r.nextInt(3)))) ++
              Seq.fill(r.nextInt(3))(upsert()))
            val clue = s"diff key sets, seed $seed step $step"
            () => {
              // diff is the delta the snapshot sync commits: its key
              // sets equal the join law's over the same inputs
              val tracking = Incremental.readTracking(spark, trackB)
              val d = Incremental.diff(snap, tracking, f)
              val (evaluate, bump, delete) = IncrementalOracle.diff(snap, tracking, f)
              def keys(df: DataFrame) = df.select("source_key").as[String].collect().toSeq.sorted
              assert(Seq(d.toEvaluate, d.ordinalOnly, d.toDelete).map(keys) ===
                Seq(evaluate, bump, delete).map(keys), clue)
              (IncrementalOracle.syncSource(spark, snap, process, f, sinkA, trackA),
                Incremental.syncSource(spark, snap, process, f, sinkB, trackB))
            }
          case "changes" =>
            () => (IncrementalOracle.applyChanges(spark, batch, process, f, sinkA, trackA),
              Incremental.applyChanges(spark, batch, process, f, sinkB, trackB))
          case "stream" | "stream-no-ordinal" =>
            val d = dels.toDF("source_key", "ordinal")
            val deleted = if (kind == "stream") d else d.select("source_key")
            () => (IncrementalOracle.applyChangeStream(spark, batch, deleted, process, f,
                sinkA, trackA),
              Incremental.applyChangeStreamTo(spark, batch, deleted, process, f,
                graft.sinks.ParquetConnector, sinkB, trackB))
          case "idle" => last
        }
        last = run
        val (a, b) = run()
        val clue = s"seed $seed step $step ($kind, $f)"
        assert(b === a, clue)
        assert(sinkRows(sinkB) === sinkRows(sinkA), clue)
        assert(trackRows(trackB) === trackRows(trackA), clue)
      }
    }
  }

  test("a NULL source_key is a key like any other: one tracking row carrying its " +
      "target keys, no re-evaluation, and diff neither evaluates nor deletes it") {
    val tmp = Files.createTempDirectory("incr-null-key").toString
    def nullKeyed(delta: DataFrame): DataFrame = delta.select(col("source_key"),
      coalesce(col("source_key"), lit("NULLKEY")).as("target_key"),
      col("content").as("chunk_text"))
    def batch(ordinal: Long, content: String): DataFrame =
      Seq((null: String, ordinal, content), ("a", 1L, "alpha"))
        .toDF("source_key", "ordinal", "content")
        .withColumn("content_hash", sha2(col("content"), 256))
    Seq("snapshot", "change-stream").foreach { mode =>
      val (sink, track) = (s"$tmp/$mode/sink", s"$tmp/$mode/tracking")
      def run(b: DataFrame): Long =
        if (mode == "snapshot") Incremental.syncSource(spark, b, nullKeyed, "v1", sink, track)
        else Incremental.applyChanges(spark, b, nullKeyed, "v1", sink, track)
      Seq((1L, "first", 2L), (2L, "second", 1L), (2L, "second", 0L)).foreach {
        case (ordinal, content, evaluated) =>
          val b = batch(ordinal, content)
          val clue = s"$mode, ordinal $ordinal, $content"
          assert(run(b) === evaluated, clue)
          val stored = spark.read.parquet(track).where(col("source_key").isNull)
            .select("target_keys").as[Seq[String]].collect().toSeq
          assert(stored === Seq(Seq("NULLKEY")), clue)
          val sunk = spark.read.parquet(sink).where(col("target_key") === "NULLKEY")
            .select("chunk_text").as[String].collect().toSeq
          assert(sunk === Seq(content), clue)
          val d = Incremental.diff(b, Incremental.readTracking(spark, track), "v1")
          assert(d.toEvaluate.count() === 0 && d.toDelete.count() === 0, clue)
      }
    }
  }

  test("a churn-shaped 50-row batch over 5,000 tracked rows commits in at most 20 jobs, " +
      "and its token-base sync in at most 5") {
    val tmp = Files.createTempDirectory("incr-jobs").toString
    val (sink, track, base) = (s"$tmp/sink", s"$tmp/tracking", s"$tmp/token-base")
    def text(i: Int, v: Int) = s"document $i version $v " + "body words " * (1 + i % 9)
    val docs = (0 until 5000).map(i => (f"d$i%05d", 5L, text(i, 0)))
    def keyed(rows: Seq[(String, Long, String)]) =
      rows.toDF("source_key", "ordinal", "content")
        .withColumn("content_hash", sha2(col("content"), 256))
    Incremental.syncSource(spark, keyed(docs), process, "v1", sink, track)
    IncrementalIndex.syncTokenBase(spark, base,
      docs.map(d => (d._1, d._3)).toDF("source_key", "text"), "source_key", "text")
    // per 20 rows: 8 updates, 4 inserts, 2 deletes, 2 bumps, 2 stale
    // replays, 2 repeats of an update at a lower ordinal
    val r = new Random(11)
    val picked = r.shuffle(docs.indices.toList).take(30).toIndexedSeq
    val updates = picked.take(20).map(i => (docs(i)._1, 7L, text(i, 1)))
    val inserts = (0 until 10).map(i => (f"n$i%05d", 1L, text(5000 + i, 0)))
    val bumps = picked.slice(20, 25).map(i => (docs(i)._1, 6L, docs(i)._3))
    val stale = picked.slice(25, 30).map(i => (docs(i)._1, 2L, text(i, 2)))
    val repeats = updates.take(5).map { case (k, _, t) => (k, 6L, t + " earlier") }
    val deleted = (100 until 105).map(i => (docs(i)._1, 6L))
    val batch = keyed(updates ++ inserts ++ bumps ++ stale ++ repeats)
    val (nEval, applyJobs) = JobCount.during(spark)(Incremental.applyChangeStreamTo(
      spark, batch, deleted.toDF("source_key", "ordinal"), process, "v1",
      graft.sinks.ParquetConnector, sink, track))
    assert(nEval === 30)
    val changed = (updates ++ inserts).map(u => (u._1, u._3)).toDF("source_key", "text")
    val (nTok, tokenJobs) = JobCount.during(spark)(IncrementalIndex.syncTokenBase(
      spark, base, changed, "source_key", "text",
      Some(deleted.map(_._1).toDF("source_key"))))
    assert(nTok === 30)
    assert(applyJobs <= 20, s"applyChangeStreamTo ran $applyJobs jobs")
    assert(tokenJobs <= 5, s"syncTokenBase ran $tokenJobs jobs")
    assert(spark.read.parquet(track).count() === 5000 + 10 - 5)
    assert(spark.read.parquet(base).count() === 5000 + 10 - 5)
  }
}
