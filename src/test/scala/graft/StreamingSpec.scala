package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Sessionize
import graft.streaming.{LiveUpdater, StatefulSessionize}

class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  test("stateful sessionize (batch mode) matches window-based sessionize") {
    val events = Tables.load(spark, "/root/testdata/sf0.001", "events")
    val a = Sessionize.sessions(events, "user_id", "ts", "event_id", 30)
      .collect().map(_.toSeq).toSet
    val b = StatefulSessionize.sessionsBatch(events, "user_id", "ts", "event_id", 30)
      .select("user_id", "session_index", "n_events", "start_us", "end_us", "duration_us")
      .collect().map(_.toSeq).toSet
    assert(a === b)
  }

  test("live updater applies change batches through the incremental guards") {
    val tmp = Files.createTempDirectory("live").toString
    val in = s"$tmp/in"
    val (sink, track, ckpt) = (s"$tmp/sink", s"$tmp/track", s"$tmp/ckpt")
    Files.createDirectories(java.nio.file.Paths.get(in))

    def batch(rows: (String, Long, String)*): DataFrame =
      rows.toSeq.toDF("source_key", "ordinal", "content")
        .withColumn("content_hash", sha2(col("content"), 256))

    def process(delta: DataFrame): DataFrame =
      operators.Chunker.fixed(delta, "content", 10, 2)
        .select(col("source_key"),
          concat_ws("#", col("source_key"), col("chunk_index")).as("target_key"),
          col("chunk_text"))

    val schema = batch(("x", 1L, "y")).schema
    // S0 lands
    batch(("a", 100L, "first version here"), ("b", 100L, "bbbb"))
      .coalesce(1).write.mode("append").parquet(in)
    val q1 = LiveUpdater.start(spark, in, schema, process, "v1", sink, track, ckpt)
    q1.awaitTermination()
    assert(spark.read.parquet(sink).count() === 3 + 1) // 18 chars -> 3, 4 -> 1

    // S1 lands: edit a (fewer chunks -> stale key deletion), stale
    // write for b (older ordinal must be ignored)
    batch(("a", 200L, "short"), ("b", 50L, "stale!!!"))
      .coalesce(1).write.mode("append").parquet(in)
    val q2 = LiveUpdater.start(spark, in, schema, process, "v1", sink, track, ckpt)
    q2.awaitTermination()

    val out = spark.read.parquet(sink)
    val keys = out.select($"target_key").as[String].collect().toSet
    assert(keys === Set("a#0", "b#0"))
    assert(out.where($"target_key" === "a#0")
      .select($"chunk_text").as[String].head() === "short")
    assert(out.where($"target_key" === "b#0")
      .select($"chunk_text").as[String].head() === "bbbb")
  }

  test("streaming exact dedup drops repeats across micro-batches") {
    val tmp = Files.createTempDirectory("sdedup").toString
    val in = s"$tmp/in"
    Files.createDirectories(java.nio.file.Paths.get(in))
    def run(): Unit = {
      val q = graft.operators.Dedup.exactStreaming(
          spark.readStream.schema("id LONG, text STRING").parquet(in), "text")
        .select(col("id"), col("fingerprint"))
        .writeStream.format("parquet")
        .option("path", s"$tmp/out")
        .option("checkpointLocation", s"$tmp/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    Seq((1L, "Dup  Text"), (2L, "other words")).toDF("id", "text")
      .coalesce(1).write.mode("append").parquet(in)
    run()
    // batch 2: id 3 duplicates id 1 AFTER normalization (case/spacing);
    // the dedup state must survive the restart via the checkpoint
    Seq((3L, "dup text"), (4L, "fresh content")).toDF("id", "text")
      .coalesce(1).write.mode("append").parquet(in)
    run()
    val ids = spark.read.parquet(s"$tmp/out").select($"id").as[Long]
      .collect().sorted
    assert(ids.toSeq === Seq(1L, 2L, 4L))
  }

  test("the quality battery composes under Structured Streaming: " +
      "stateless gopherKeepOf + redactPii, stateful exact dedup") {
    import graft.operators.QualityFilters
    val tmp = Files.createTempDirectory("squal").toString
    val in = s"$tmp/in"
    Files.createDirectories(java.nio.file.Paths.get(in))
    val good = (0 until 60).map(i => s"word$i").mkString(" ")
    def run(): Unit = {
      val q = graft.operators.Dedup.exactStreaming(
          spark.readStream.schema("id LONG, text STRING").parquet(in)
            .where(QualityFilters.gopherKeepOf(col("text")))
            .withColumn("text", QualityFilters.redactPii(col("text"))),
          "text")
        .select(col("id"), col("text"))
        .writeStream.format("parquet")
        .option("path", s"$tmp/out")
        .option("checkpointLocation", s"$tmp/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // batch 1: one keeper (with an email to redact), one too-short doc
    Seq((1L, s"$good mail me a@b.co now"), (2L, "too short"))
      .toDF("id", "text").coalesce(1).write.mode("append").parquet(in)
    run()
    // batch 2: id 3 duplicates id 1 post-redaction; id 4 is fresh
    Seq((3L, s"$good mail me x@y.org now"), (4L, s"$good extra fresh"))
      .toDF("id", "text").coalesce(1).write.mode("append").parquet(in)
    run()
    val out = spark.read.parquet(s"$tmp/out")
      .select($"id", $"text").collect().map(r => r.getLong(0) ->
        r.getString(1)).toMap
    // the redacted twins share one fingerprint: id 3 dropped as a dup
    assert(out.keySet === Set(1L, 4L))
    assert(out(1L).endsWith("mail me <EMAIL> now"))
  }

  test("boilerplate-line removal streams as a stream-static join: " +
      "the persisted convicted-lines frame marks incoming docs, the " +
      "per-row rebuild drops them — the continuous-ingest posture " +
      "where conviction is trained on the corpus, applied to deltas") {
    val tmp = Files.createTempDirectory("sline").toString
    val in = s"$tmp/in"
    Files.createDirectories(java.nio.file.Paths.get(in))
    // the CORPUS-trained conviction frame (what a pipeline persists):
    // one banner line; arrives as the static join side
    val convicted = Seq(Tuple1("accept cookies")).toDF("line")
    // foreachBatch: the library's batch operator applied per delta —
    // the documented continuous posture (conviction static, rebuild
    // stateless), no stream-side aggregation state at all
    val q = spark.readStream.schema("id LONG, text STRING").parquet(in)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.operators.Dedup.removeBoilerplateLinesWithConvicted(
            batch, "id", "text", convicted)
          .write.mode("append").parquet(s"$tmp/out")
        ()
      }
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
    Seq((1L, "hello\naccept cookies\nworld"), (2L, "accept cookies"))
      .toDF("id", "text").coalesce(1).write.mode("append").parquet(in)
    val run1 = q.start(); run1.awaitTermination()
    Seq((3L, "fresh\ndoc"))
      .toDF("id", "text").coalesce(1).write.mode("append").parquet(in)
    val run2 = q.start(); run2.awaitTermination()
    val out = spark.read.parquet(s"$tmp/out")
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(out === Map(1L -> "hello\nworld", 2L -> "", 3L -> "fresh\ndoc"))
  }

  test("r19 paragraph dedup streams as a stream-static join: the " +
      "persisted owner snapshot convicts incoming docs' shared " +
      "paragraphs; unknown paragraphs never convict — per-batch " +
      "apply with fixed owners ≡ the batch law") {
    val tmp = Files.createTempDirectory("spara").toString
    val in = s"$tmp/in"
    Files.createDirectories(java.nio.file.Paths.get(in))
    // the corpus-trained owner snapshot (what a pipeline persists)
    val owners = Seq(("shared header", 1L)).toDF("paragraph", "owner")
    val q = spark.readStream.schema("id LONG, text STRING").parquet(in)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.operators.Dedup.dedupParagraphsWithOwners(
            batch, "id", "text", owners)
          .write.mode("append").parquet(s"$tmp/out")
        ()
      }
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
    Seq((7L, "shared header\n\nseven's own"),
        (8L, "shared header"))
      .toDF("id", "text").coalesce(1).write.mode("append").parquet(in)
    val run1 = q.start(); run1.awaitTermination()
    Seq((9L, "unseen para\n\nshared header"))
      .toDF("id", "text").coalesce(1).write.mode("append").parquet(in)
    val run2 = q.start(); run2.awaitTermination()
    val out = spark.read.parquet(s"$tmp/out")
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(out === Map(7L -> "seven's own", 8L -> "",
      9L -> "unseen para"))
  }

  test("r19 span dedup streams as a stream-static join: the persisted " +
      "gram-owner snapshot convicts incoming docs' shared windows; " +
      "unknown grams never convict — per-batch apply with fixed " +
      "owners ≡ the batch law") {
    val tmp = Files.createTempDirectory("sspan").toString
    val in = s"$tmp/in"
    Files.createDirectories(java.nio.file.Paths.get(in))
    // the corpus-trained owner snapshot: doc 1 owns "a b c"
    val owners = Seq(("a b c", 1L)).toDF("gram", "owner")
    val q = spark.readStream.schema("id LONG, text STRING").parquet(in)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.operators.Dedup.removeSharedSpansWithOwners(
            batch, "id", "text", 3, owners)
          .write.mode("append").parquet(s"$tmp/out")
        ()
      }
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
    Seq((7L, "a b c z z z"), (1L, "a b c q r"))
      .toDF("id", "text").coalesce(1).write.mode("append").parquet(in)
    val run1 = q.start(); run1.awaitTermination()
    Seq((9L, "u v w"))
      .toDF("id", "text").coalesce(1).write.mode("append").parquet(in)
    val run2 = q.start(); run2.awaitTermination()
    val out = spark.read.parquet(s"$tmp/out")
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    // doc 7 loses the owned window; the OWNER doc keeps its own span;
    // doc 9's grams are unknown to the snapshot
    assert(out === Map(7L -> "z z z", 1L -> "a b c q r", 9L -> "u v w"))
  }

  test("cross-snapshot near-dup verdicts stream as foreachBatch over " +
      "PERSISTED prior artifacts (buckets + shingles live with the " +
      "snapshot, never rebuilt per batch): each micro-batch's output " +
      "equals the batch law row-for-row, across a query restart") {
    import graft.operators.Dedup
    val tmp = Files.createTempDirectory("sneardup").toString
    val in = s"$tmp/in"
    Files.createDirectories(java.nio.file.Paths.get(in))
    val prior = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "completely different prior material about spark shuffles"))
      .toDF("doc_id", "text")
    // the snapshot-resident artifacts, built ONCE (production: parquet
    // written at snapshot publish; here persisted frames)
    val priorToks = graft.operators.Search.tokenBase(prior, "doc_id", "text")
    val priorBuckets = Dedup.lshBucketsFromTokens(priorToks, "doc_id").persist()
    val priorShingles = Dedup.shingleIndexFromTokens(priorToks, "doc_id").persist()
    priorBuckets.count(); priorShingles.count()
    val q = spark.readStream.schema("doc_id LONG, text STRING").parquet(in)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        Dedup.nearDupAgainstSnapshot(batch, "doc_id", "text",
            priorBuckets, "doc_id", priorShingles, minSim = 0.5)
          .write.mode("append").parquet(s"$tmp/out")
        ()
      }
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
    val b1 = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"), // == doc 1
      (11L, "unrelated batch prose concerning parquet readers only"))
    val b2 = Seq(
      (12L, "alpha beta gamma delta epsilon zeta eta theta"), // == doc 1
      (13L, null.asInstanceOf[String]))
    b1.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
    val run1 = q.start(); run1.awaitTermination()
    b2.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
    val run2 = q.start(); run2.awaitTermination() // restart: checkpoint resumes
    val got = spark.read.parquet(s"$tmp/out").collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getBoolean(3)))).toMap
    // the verdict law is per-row given the prior artifacts, so the
    // streamed union must equal ONE batch call over all four docs
    val oneShot = Dedup.nearDupAgainstSnapshot(
        (b1 ++ b2).toDF("doc_id", "text"), "doc_id", "text",
        priorBuckets, "doc_id", priorShingles, minSim = 0.5)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getBoolean(3)))).toMap
    assert(got === oneShot)
    assert(got(10L) === ((1L, 1.0, true)))
    assert(got(13L) === ((0L, 0.0, false)))
    priorBuckets.unpersist(); priorShingles.unpersist()
  }

  test("release diff streams as foreachBatch: per-batch statuses " +
      "against the old snapshot (semi-joined to the batch's ids) " +
      "plus one end-of-stream removed sweep reproduce the one-shot " +
      "diff — added/changed/unchanged verdict per delta batch, " +
      "removed only decidable once the new snapshot is complete") {
    import graft.operators.Dedup
    val tmp = Files.createTempDirectory("sreldiff").toString
    val in = s"$tmp/in"
    Files.createDirectories(java.nio.file.Paths.get(in))
    val oldDf = Seq(
      (1L, "alpha beta"), (2L, "to be removed"), (3L, "gets a rewrite"),
      (4L, "Spaced   Out")).toDF("doc_id", "text").persist()
    oldDf.count()
    val q = spark.readStream.schema("doc_id LONG, text STRING").parquet(in)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // old side restricted to the batch's ids: no spurious
        // "removed" rows for docs simply not in THIS delta
        Dedup.releaseDiff(
            oldDf.join(batch.select(col("doc_id")), Seq("doc_id"),
              "left_semi"),
            batch, "doc_id", "text")
          .write.mode("append").parquet(s"$tmp/out")
        ()
      }
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
    val b1 = Seq((1L, "alpha beta"), (3L, "rewritten body"))
    val b2 = Seq((4L, "  spaced out "), (6L, "brand new"))
    b1.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
    val run1 = q.start(); run1.awaitTermination()
    b2.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
    val run2 = q.start(); run2.awaitTermination()
    val streamed = spark.read.parquet(s"$tmp/out")
    // end-of-stream sweep: old ids never seen in any delta are the
    // removed set (releaseDiff against the empty new side emits them
    // with the identical schema/fingerprints)
    val removed = Dedup.releaseDiff(
      oldDf.join(streamed.select(col("doc_id")), Seq("doc_id"),
        "left_anti"),
      oldDf.where(lit(false)), "doc_id", "text")
    val got = streamed.unionByName(removed).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val oneShot = Dedup.releaseDiff(oldDf,
        (b1 ++ b2).toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === oneShot)
    assert(got === Map(1L -> "unchanged", 2L -> "removed",
      3L -> "changed", 4L -> "unchanged", 6L -> "added"))
    oldDf.unpersist()
  }

  test("DSIR scoring streams as foreachBatch against the persisted " +
      "ratio model (trained once on corpus counts + target): each " +
      "delta's weights equal the batch law row-for-row — the " +
      "continuous-crawl posture for importance resampling") {
    import graft.operators.Dsir
    val tmp = Files.createTempDirectory("sdsir").toString
    val in = s"$tmp/in"
    Files.createDirectories(java.nio.file.Paths.get(in))
    val corpus = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon"),
      (3L, "alpha alpha zeta"), (4L, "beta gamma delta"))
      .toDF("doc_id", "text")
    val target = Seq((100L, "alpha beta"), (101L, "alpha gamma"))
      .toDF("doc_id", "text")
    // the two ingest-trained artifacts: corpus gram histogram, ratio
    val counts = Dsir.docBucketCounts(corpus, "doc_id", "text", 64)
      .persist()
    val ratio = Dsir.importanceRatio(counts, target, "text", 64)
      .persist()
    counts.count(); ratio.count()
    val q = spark.readStream.schema("doc_id LONG, text STRING").parquet(in)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        Dsir.importanceWeightsAgainstModel(batch, "doc_id", "text",
            ratio, 64)
          .write.mode("append").parquet(s"$tmp/out")
        ()
      }
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
    val b1 = Seq((10L, "alpha beta gamma"), (11L, ""))
    val b2 = Seq((12L, "zeta zeta unseen"), (13L, "delta epsilon"))
    b1.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
    val r1 = q.start(); r1.awaitTermination()
    b2.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
    val r2 = q.start(); r2.awaitTermination()
    val got = spark.read.parquet(s"$tmp/out").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val oneShot = Dsir.importanceWeightsAgainstModel(
        (b1 ++ b2).toDF("doc_id", "text"), "doc_id", "text", ratio, 64)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got === oneShot)
    // a delta doc with the corpus doc 1's exact text scores exactly
    // the corpus law's weight for doc 1 — model-determined, not
    // batch-determined
    val corpusLaw = Dsir.importanceWeights(corpus, "doc_id", "text",
        target, "text", 64, docCounts = Some(counts))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got(10L) === corpusLaw(1L))
    assert(got(11L) === ((0L, 0.0))) // gramless: roster-joined zero
    counts.unpersist(); ratio.unpersist()
  }

  test("IVF assignment streams as foreachBatch against persisted " +
      "centroids: per-delta nearest-centroid labels equal the batch " +
      "law — the index-maintenance posture for a vector ingest " +
      "stream") {
    import graft.operators.SimilaritySearch
    val tmp = Files.createTempDirectory("sivf").toString
    val in = s"$tmp/in"
    Files.createDirectories(java.nio.file.Paths.get(in))
    val stored = Seq(
      (1L, 0, Seq(1.0f, 0.0f)), (2L, 0, Seq(0.9f, 0.1f)),
      (3L, 1, Seq(0.0f, 1.0f)), (4L, 1, Seq(0.1f, 0.9f)))
      .toDF("vec_id", "label", "embedding")
    val cents = SimilaritySearch.meanCentroids(stored, "label",
      "embedding").persist()
    cents.count()
    val q = spark.readStream
      .schema("vec_id LONG, embedding ARRAY<FLOAT>").parquet(in)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        SimilaritySearch.assignToCentroids(batch, "vec_id",
            "embedding", cents)
          .write.mode("append").parquet(s"$tmp/out")
        ()
      }
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
    val b1 = Seq((10L, Seq(0.95f, 0.05f)))
    val b2 = Seq((11L, Seq(0.05f, 0.95f)), (12L, Seq(0.7f, 0.7f)))
    b1.toDF("vec_id", "embedding").coalesce(1).write.mode("append").parquet(in)
    val r1 = q.start(); r1.awaitTermination()
    b2.toDF("vec_id", "embedding").coalesce(1).write.mode("append").parquet(in)
    val r2 = q.start(); r2.awaitTermination()
    val got = spark.read.parquet(s"$tmp/out").collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2)))).toMap
    val oneShot = SimilaritySearch.assignToCentroids(
        (b1 ++ b2).toDF("vec_id", "embedding"), "vec_id", "embedding",
        cents).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2)))).toMap
    assert(got === oneShot)
    assert(got(10L)._1 === 0 && got(11L)._1 === 1)
    cents.unpersist()
  }

  test("perplexity banding streams as foreachBatch against persisted " +
      "boundaries: per-batch buckets with FIXED bounds equal the " +
      "batch law row-for-row — the continuous-crawl posture for " +
      "quality banding (boundaries stream-static, deltas banded by " +
      "pure projection)") {
    import graft.operators.LmQuality
    val tmp = Files.createTempDirectory("sband").toString
    val in = s"$tmp/in"
    Files.createDirectories(java.nio.file.Paths.get(in))
    // train boundaries ONCE on the corpus snapshot (scores spread so
    // head/mid land between them; a NULL-lang and NULL-score doc pin
    // the null-safe arms through the stream too)
    val corpus = (1 to 20).map(i => (i.toLong, "en", i * 1.0)) ++
      (21 to 30).map(i => (i.toLong, "de", i * 2.0))
    val bounds = LmQuality.perplexityBoundaries(
      corpus.toDF("doc_id", "lang", "score"), "lang", "score")
      .persist()
    bounds.count()
    val q = spark.readStream
      .schema("doc_id LONG, lang STRING, score DOUBLE").parquet(in)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        LmQuality.perplexityBucketsAgainstBounds(batch, "doc_id",
            "lang", "score", bounds)
          .write.mode("append").parquet(s"$tmp/out")
        ()
      }
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
    val b1: Seq[(Long, String, java.lang.Double)] = Seq(
      (100L, "en", Double.box(2.0)), (101L, "en", Double.box(25.0)),
      (102L, "de", Double.box(45.0)))
    val b2: Seq[(Long, String, java.lang.Double)] = Seq(
      (103L, "de", Double.box(30.0)), (104L, "fr", Double.box(1.0)),
      (105L, null, Double.box(3.0)), (106L, "en", null))
    def write(rows: Seq[(Long, String, java.lang.Double)]): Unit =
      rows.toDF("doc_id", "lang", "score").coalesce(1)
        .write.mode("append").parquet(in)
    write(b1)
    val r1 = q.start(); r1.awaitTermination()
    write(b2)
    val r2 = q.start(); r2.awaitTermination()
    val got = spark.read.parquet(s"$tmp/out").collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    val oneShot = LmQuality.perplexityBucketsAgainstBounds(
        (b1 ++ b2).toDF("doc_id", "lang", "score"),
        "doc_id", "lang", "score", bounds)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(got === oneShot)
    // the law is MODEL-determined, not batch-determined: en score 2.0
    // bands by the en snapshot boundary (head), a boundary-less lang
    // (fr) and the NULL-lang doc band tail, NULL score bands tail
    assert(got(100L) === "head")
    assert(got(104L) === "tail")
    assert(got(105L) === "tail")
    assert(got(106L) === "tail")
    bounds.unpersist()
  }

  test("r19 SCD2 history maintains under foreachBatch: each micro-batch " +
      "folds via scd2Append into the persisted history (batch-id " +
      "versioned writes — never overwrite what you read); the final " +
      "table equals the one-shot scd2 of the full log") {
    val tmp = Files.createTempDirectory("scd2s").toString
    val in = s"$tmp/in"
    Files.createDirectories(java.nio.file.Paths.get(in))
    val histDir = s"$tmp/hist"
    def chlog(rows: (Long, Long, Long, String)*): DataFrame =
      rows.toDF("key", "t", "seq", "payload")
        .selectExpr("key", "CAST(t AS TIMESTAMP) AS t", "seq", "payload")
    val q = spark.readStream
      .schema("key LONG, t TIMESTAMP, seq LONG, payload STRING").parquet(in)
      .writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val hist =
          if (id == 0L) graft.operators.History.scd2(
            batch, "key", "t", Seq("payload"), Seq("seq"))
          else graft.operators.History.scd2Append(
            spark.read.parquet(s"$histDir/${id - 1}"), batch,
            "key", "t", Seq("payload"), Seq("seq"))
        hist.write.mode("overwrite").parquet(s"$histDir/$id")
        ()
      }
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
    val all = Seq(
      (1L, 10L, 0L, "A"), (1L, 20L, 1L, "A"), // compacts across batches
      (2L, 15L, 2L, "X"),
      (1L, 30L, 3L, "B"), (3L, 35L, 4L, "Z")) // key 3 appears late
    chlog(all.take(3): _*).coalesce(1).write.mode("append").parquet(in)
    val run1 = q.start(); run1.awaitTermination()
    chlog(all.drop(3): _*).coalesce(1).write.mode("append").parquet(in)
    val run2 = q.start(); run2.awaitTermination()
    val streamed = spark.read.parquet(s"$histDir/1")
      .collect().map(_.toString).sorted.toSeq
    val oneShot = graft.operators.History.scd2(
        chlog(all: _*), "key", "t", Seq("payload"), Seq("seq"))
      .collect().map(_.toString).sorted.toSeq
    assert(streamed === oneShot)
  }

  test("r20 SCD2 STORAGE face: History.scd2Sink folds micro-batches " +
      "into ONE bucket-partitioned parquet table, reading and dynamic-" +
      "overwriting only the buckets the batch touches — the stored " +
      "table after the stream equals the one-shot scd2 of the full " +
      "log (r19 verdict item 3: fold-through-the-SINK ≡ one-shot)") {
    val tmp = Files.createTempDirectory("scd2sink").toString
    val in = s"$tmp/in"
    Files.createDirectories(java.nio.file.Paths.get(in))
    val table = s"$tmp/hist_table"
    def chlog(rows: (Long, Long, Long, String)*): DataFrame =
      rows.toDF("key", "t", "seq", "payload")
        .selectExpr("key", "CAST(t AS TIMESTAMP) AS t", "seq", "payload")
    val q = spark.readStream
      .schema("key LONG, t TIMESTAMP, seq LONG, payload STRING").parquet(in)
      .writeStream
      .foreachBatch(graft.operators.History.scd2Sink(
        table, "key", "t", Seq("payload"), Seq("seq"), nBuckets = 4))
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
    val all = Seq(
      (1L, 10L, 0L, "A"), (1L, 20L, 1L, "A"), // compacts across batches
      (2L, 15L, 2L, "X"),
      (1L, 30L, 3L, "B"), (3L, 35L, 4L, "Z")) // key 3 appears late
    chlog(all.take(3): _*).coalesce(1).write.mode("append").parquet(in)
    val run1 = q.start(); run1.awaitTermination()
    chlog(all.drop(3): _*).coalesce(1).write.mode("append").parquet(in)
    val run2 = q.start(); run2.awaitTermination()
    val stored = spark.read.parquet(table).drop("_kb")
      .collect().map(_.toString).sorted.toSeq
    val oneShot = graft.operators.History.scd2(
        chlog(all: _*), "key", "t", Seq("payload"), Seq("seq"))
      .collect().map(_.toString).sorted.toSeq
    assert(stored === oneShot)
    // touched-only writes: a follow-up batch touching ONLY key 2 must
    // leave every OTHER bucket's part-files untouched on disk (same
    // names — an overwrite mints fresh UUID names)
    import org.apache.spark.sql.functions.{hash, pmod, lit}
    val b2 = Seq(2L).toDF("key")
      .select(pmod(hash(col("key")), lit(4))).head.getInt(0)
    def otherBucketFiles(): Seq[String] =
      new java.io.File(table).listFiles().toSeq
        .filter(d => d.isDirectory && d.getName.startsWith("_kb=") &&
          d.getName != s"_kb=$b2")
        .flatMap(_.listFiles().toSeq.map(_.getPath)).sorted
    val before = otherBucketFiles()
    assert(before.nonEmpty, "fixture must populate more than key 2's bucket")
    chlog((2L, 40L, 5L, "Y")).coalesce(1).write.mode("append").parquet(in)
    val run3 = q.start(); run3.awaitTermination()
    assert(otherBucketFiles() === before,
      "buckets not carrying the batch's keys must not be rewritten")
    val k2 = spark.read.parquet(table).where(col("key") === 2L)
      .orderBy("version").collect()
    assert(k2.map(_.getAs[String]("payload")).toSeq === Seq("X", "Y"))
  }

  test("r19 hard-negative mining streams as a stream-static cross: " +
      "each micro-batch of query embeddings mines against the static " +
      "labeled corpus — per-batch anchors ≡ the batch law (the miner " +
      "is anchor-local: an anchor's row set never depends on other " +
      "anchors)") {
    val tmp = Files.createTempDirectory("cmine").toString
    val in = s"$tmp/in"
    Files.createDirectories(java.nio.file.Paths.get(in))
    val corpus = Seq(
      (1L, Seq(1.0f, 0.02f, 0f, 0f), Some(0)),
      (2L, Seq(0.99f, 0.05f, 0f, 0f), Some(0)),
      (3L, Seq(0.02f, 1.0f, 0f, 0f), Some(1)),
      (4L, Seq(0.05f, 0.98f, 0f, 0f), Some(1)))
      .toDF("vec_id", "embedding", "label")
    val q = spark.readStream
      .schema("vec_id LONG, embedding ARRAY<FLOAT>, label INT").parquet(in)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.operators.ContrastiveMining.hardNegatives(
            corpus, "vec_id", "embedding", "label", batch, 4, 2)
          .write.mode("append").parquet(s"$tmp/out")
        ()
      }
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
    val anchors = Seq(
      (1L, Seq(1.0f, 0.02f, 0f, 0f), Some(0)),
      (3L, Seq(0.02f, 1.0f, 0f, 0f), Some(1)))
    anchors.take(1).toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("append").parquet(in)
    val run1 = q.start(); run1.awaitTermination()
    anchors.drop(1).toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("append").parquet(in)
    val run2 = q.start(); run2.awaitTermination()
    val streamed = spark.read.parquet(s"$tmp/out")
      .collect().map(_.toString).sorted.toSeq
    val oneShot = graft.operators.ContrastiveMining.hardNegatives(
        corpus, "vec_id", "embedding", "label",
        anchors.toDF("vec_id", "embedding", "label"), 4, 2)
      .collect().map(_.toString).sorted.toSeq
    assert(streamed === oneShot)
  }

  test("r20 snapshot mining streams as a stream-static join: each " +
      "micro-batch of anchors mines against the PERSISTED band-bucket " +
      "index (hardNegativesAgainstSnapshot — the TRAIN/MERGE/APPLY " +
      "posture: only the batch pays signature cost) — per-batch " +
      "output ≡ the batch law, anchors being independent") {
    import graft.operators.{ContrastiveMining, Dedup}
    val tmp = Files.createTempDirectory("csnap").toString
    val in = s"$tmp/in"
    Files.createDirectories(java.nio.file.Paths.get(in))
    val corpus = Seq(
      (1L, Seq(1.0f, 0.02f, 0f, 0f), Some(0)),
      (2L, Seq(0.99f, 0.05f, 0f, 0f), Some(0)),
      (3L, Seq(0.02f, 1.0f, 0f, 0f), Some(1)),
      (4L, Seq(0.05f, 0.98f, 0f, 0f), Some(1)),
      (5L, Seq(0.0f, 0.97f, 0.05f, 0f), Some(0)))
      .toDF("vec_id", "embedding", "label")
    // the snapshot artifact: built ONCE (at ingest), persisted as
    // parquet, read back stream-static — never rebuilt per batch
    Dedup.bandedBuckets(
        corpus.where($"label".isNotNull && size($"embedding") === 4)
          .select($"vec_id", $"embedding"),
        "vec_id", "embedding", 4, 3, 12)
      .write.parquet(s"$tmp/buckets")
    val buckets = spark.read.parquet(s"$tmp/buckets")
    val q = spark.readStream
      .schema("vec_id LONG, embedding ARRAY<FLOAT>, label INT").parquet(in)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        ContrastiveMining.hardNegativesAgainstSnapshot(
            batch, corpus, "vec_id", "embedding", "label",
            buckets, "vec_id", 4, 2)
          .write.mode("append").parquet(s"$tmp/out")
        ()
      }
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
    val anchors = Seq(
      (3L, Seq(0.02f, 1.0f, 0f, 0f), Some(1)),
      (5L, Seq(0.0f, 0.97f, 0.05f, 0f), Some(0)))
    anchors.take(1).toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("append").parquet(in)
    val run1 = q.start(); run1.awaitTermination()
    anchors.drop(1).toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("append").parquet(in)
    val run2 = q.start(); run2.awaitTermination()
    val streamed = spark.read.parquet(s"$tmp/out")
      .collect().map(_.toString).sorted.toSeq
    val oneShot = ContrastiveMining.hardNegativesAgainstSnapshot(
        anchors.toDF("vec_id", "embedding", "label"), corpus,
        "vec_id", "embedding", "label", buckets, "vec_id", 4, 2)
      .collect().map(_.toString).sorted.toSeq
    assert(streamed === oneShot)
  }

  test("CMS accumulates as a stateful streaming aggregate: counters " +
      "after each micro-batch equal the batch-mode sketch of the " +
      "cumulative stream (state survives restart via the checkpoint)") {
    import graft.functions.Sketch
    val tmp = Files.createTempDirectory("scms").toString
    val in = s"$tmp/in"
    Files.createDirectories(java.nio.file.Paths.get(in))
    def run(name: String): Seq[Long] = {
      val q = spark.readStream.schema("tok STRING").parquet(in)
        .agg(Sketch.cmsCounters(col("tok"), 3, 256).as("cms"))
        .writeStream.format("memory").queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", s"$tmp/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.table(name).select($"cms").as[Seq[Long]].head()
    }
    def batchCms(xs: Seq[String]): Seq[Long] =
      xs.toDF("tok").agg(Sketch.cmsCounters(col("tok"), 3, 256))
        .as[Seq[Long]].head()
    val b1 = Seq("alpha", "beta", "alpha", "gamma")
    val b2 = Seq("beta", "delta", "alpha")
    b1.toDF("tok").coalesce(1).write.mode("append").parquet(in)
    assert(run("cms_s1") === batchCms(b1))
    b2.toDF("tok").coalesce(1).write.mode("append").parquet(in)
    assert(run("cms_s2") === batchCms(b1 ++ b2))
  }

  test("live updater streams into a JDBC store through the connector tier") {
    import org.apache.spark.sql.types._
    val tmp = Files.createTempDirectory("livej").toString
    val in = s"$tmp/in"
    Files.createDirectories(java.nio.file.Paths.get(in))
    System.setProperty("derby.stream.error.file", "/tmp/derby.log")
    val url = s"jdbc:derby:memory:graftlive${System.nanoTime()};create=true"
    val conn = graft.sinks.JdbcConnector(url)
    conn.applySetup(spark, "live_t", StructType(Seq(
      StructField("target_key", StringType), StructField("chunk_text", StringType))))

    def batch(rows: (String, Long, String)*): DataFrame =
      rows.toSeq.toDF("source_key", "ordinal", "content")
        .withColumn("content_hash", sha2(col("content"), 256))
    def process(delta: DataFrame): DataFrame =
      operators.Chunker.fixed(delta, "content", 10, 2)
        .select(col("source_key"),
          concat_ws("#", col("source_key"), col("chunk_index")).as("target_key"),
          col("chunk_text"))

    val schema = batch(("x", 1L, "y")).schema
    batch(("a", 100L, "first version here"), ("b", 100L, "bbbb"))
      .coalesce(1).write.mode("append").parquet(in)
    LiveUpdater.startTo(spark, in, schema, process, "v1", conn, "live_t",
      s"$tmp/track", s"$tmp/ckpt").awaitTermination()
    assert(conn.read(spark, "live_t").get.count() === 4)

    // edit a (stale-key delete via the connector), stale write for b
    batch(("a", 200L, "short"), ("b", 50L, "stale!!!"))
      .coalesce(1).write.mode("append").parquet(in)
    LiveUpdater.startTo(spark, in, schema, process, "v1", conn, "live_t",
      s"$tmp/track", s"$tmp/ckpt").awaitTermination()

    val out = conn.read(spark, "live_t").get
    val got = out.select($"target_key", $"chunk_text").as[(String, String)]
      .collect().toMap
    assert(got === Map("a#0" -> "short", "b#0" -> "bbbb"))
  }
}
