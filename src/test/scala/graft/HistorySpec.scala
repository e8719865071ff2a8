package graft

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}

import graft.operators.History

/** History.scd2 (q239): change compaction, revert semantics, the
  * null-safe payload comparison, the all-NULL-first-row anchor, the
  * tie-break, interval chaining, and multi-column change detection. */
class HistorySpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  private def ts(s: Long) = new Timestamp(s * 1000L)

  private def log(rows: (Long, Long, Long, Option[String])*): DataFrame =
    rows.toDF("key", "t", "seq", "payload")
      .selectExpr("key", "CAST(t AS TIMESTAMP) AS t", "seq", "payload")

  private def run(df: DataFrame) =
    History.scd2(df, "key", "t", Seq("payload"), Seq("seq"))

  test("consecutive duplicates compact to one version; a revert opens " +
      "a new one (A A A B A -> A, B, A)") {
    val out = run(log(
        (1L, 10L, 0L, Some("A")), (1L, 20L, 1L, Some("A")),
        (1L, 30L, 2L, Some("A")), (1L, 40L, 3L, Some("B")),
        (1L, 50L, 4L, Some("A"))))
      .orderBy("version").collect()
    assert(out.map(_.getAs[String]("payload")).toSeq === Seq("A", "B", "A"))
    assert(out.map(_.getAs[Int]("version")).toSeq === Seq(1, 2, 3))
    // intervals chain: valid_to(k) == valid_from(k+1); only the last is open
    assert(out(0).getAs[Timestamp]("valid_from") === ts(10))
    assert(out(0).getAs[Timestamp]("valid_to") === ts(40))
    assert(out(1).getAs[Timestamp]("valid_to") === ts(50))
    assert(out(2).getAs[Timestamp]("valid_to") === null)
    assert(out.map(_.getAs[Boolean]("is_current")).toSeq ===
      Seq(false, false, true))
  }

  test("NULL payload: null-safe comparison — a NULL run compacts, and " +
      "an all-NULL FIRST row still opens version 1") {
    val out = run(log(
        (2L, 10L, 0L, None), (2L, 20L, 1L, None),
        (2L, 30L, 2L, Some("A")), (2L, 40L, 3L, None)))
      .orderBy("version").collect()
    assert(out.map(_.getAs[String]("payload")).toSeq ===
      Seq(null, "A", null))
    assert(out(0).getAs[Timestamp]("valid_from") === ts(10))
  }

  test("same-timestamp rows order by the tie-break column") {
    val out = run(log(
        (3L, 10L, 5L, Some("B")), (3L, 10L, 1L, Some("A")),
        (3L, 20L, 9L, Some("B"))))
      .orderBy("version").collect()
    // seq 1 (A) precedes seq 5 (B) at t=10; the later B is unchanged
    // FROM ITS PREDECESSOR (the t=10 B) and compacts
    assert(out.map(_.getAs[String]("payload")).toSeq === Seq("A", "B"))
    assert(out(1).getAs[Timestamp]("valid_from") === ts(10))
    assert(out(1).getAs[Timestamp]("valid_to") === null)
  }

  test("multi-column payload: a change in ANY column opens a version") {
    val df = Seq(
        (4L, 10L, 0L, "A", 1), (4L, 20L, 1L, "A", 2),
        (4L, 30L, 2L, "A", 2))
      .toDF("key", "t", "seq", "p1", "p2")
      .selectExpr("key", "CAST(t AS TIMESTAMP) AS t", "seq", "p1", "p2")
    val out = History.scd2(df, "key", "t", Seq("p1", "p2"), Seq("seq"))
      .orderBy("version").collect()
    assert(out.length === 2)
    assert(out.map(_.getAs[Int]("p2")).toSeq === Seq(1, 2))
  }

  test("scd2Append: folding any append-only split equals the one-shot " +
      "history (2-way and 3-way, compaction crossing batch boundaries)") {
    val rows = Seq(
      (1L, 10L, 0L, Some("A")), (1L, 20L, 1L, Some("A")), // compacts ACROSS the split
      (1L, 30L, 2L, Some("B")), (1L, 40L, 3L, Some("B")),
      (2L, 15L, 4L, Some("X")), (2L, 25L, 5L, None),
      (3L, 35L, 6L, Some("Z"))) // key 3 first appears in a later batch
    def fold(splits: Seq[Seq[(Long, Long, Long, Option[String])]]) = {
      val h1 = run(log(splits.head: _*))
      splits.tail.foldLeft(h1)((h, b) =>
        History.scd2Append(h, log(b: _*), "key", "t", Seq("payload"), Seq("seq")))
    }
    val oneShot = run(log(rows: _*)).collect().map(_.toString).sorted.toSeq
    val bySeq = rows.sortBy(_._3)
    assert(fold(Seq(bySeq.take(2), bySeq.drop(2)))
      .collect().map(_.toString).sorted.toSeq === oneShot)
    assert(fold(Seq(bySeq.take(3), bySeq.slice(3, 5), bySeq.drop(5)))
      .collect().map(_.toString).sorted.toSeq === oneShot)
  }

  test("scd2Append: a batch repeating the open payload reproduces the " +
      "open version verbatim; a LATE row (before the open valid_from) " +
      "is dropped; untouched keys pass through") {
    val h = run(log((1L, 10L, 0L, Some("A")), (2L, 10L, 1L, Some("X"))))
    val out = History.scd2Append(h,
      log((1L, 20L, 2L, Some("A")), // repeat → compacts into the open version
          (1L, 5L, 3L, Some("Z"))), // late → dropped
      "key", "t", Seq("payload"), Seq("seq")).collect()
    assert(out.length === 2)
    val k1 = out.find(_.getLong(0) == 1L).get
    assert(k1.getAs[String]("payload") === "A")
    assert(k1.getAs[Int]("version") === 1)
    assert(k1.getAs[Timestamp]("valid_from") === ts(10))
    assert(k1.getAs[Boolean]("is_current"))
    val k2 = out.find(_.getLong(0) == 2L).get
    assert(k2.getAs[String]("payload") === "X" && k2.getAs[Boolean]("is_current"))
  }

  test("scd2Append: an equal-ts batch row orders AFTER the seed (a " +
      "replayed opening row is absorbed; a different payload at the " +
      "same ts opens the next version)") {
    val h = run(log((1L, 10L, 0L, Some("A"))))
    val replay = History.scd2Append(h, log((1L, 10L, 9L, Some("A"))),
      "key", "t", Seq("payload"), Seq("seq")).collect()
    assert(replay.length === 1 && replay.head.getAs[Int]("version") === 1)
    val diff = History.scd2Append(h, log((1L, 10L, 9L, Some("B"))),
        "key", "t", Seq("payload"), Seq("seq"))
      .orderBy("version").collect()
    assert(diff.map(_.getAs[String]("payload")).toSeq === Seq("A", "B"))
    assert(diff(0).getAs[Timestamp]("valid_to") === ts(10),
      "the old version closes at the same instant (zero-length interval)")
  }

  test("scd2Append: a NULL key folds exactly like any other key (the " +
      "joins are null-safe; no duplicate open versions, numbering " +
      "continues) — fold ≡ one-shot on a null-key chain") {
    def nlog(rows: (Option[Long], Long, Long, Option[String])*): DataFrame =
      rows.toDF("key", "t", "seq", "payload")
        .selectExpr("key", "CAST(t AS TIMESTAMP) AS t", "seq", "payload")
    val all = Seq(
      (None: Option[Long], 10L, 0L, Some("A")),
      (Some(1L), 15L, 1L, Some("X")),
      (None: Option[Long], 20L, 2L, Some("B")),
      (None: Option[Long], 30L, 3L, Some("B"))) // compacts across the split
    val h1 = History.scd2(nlog(all.take(2): _*), "key", "t",
      Seq("payload"), Seq("seq"))
    val folded = History.scd2Append(h1, nlog(all.drop(2): _*),
      "key", "t", Seq("payload"), Seq("seq"))
    val oneShot = History.scd2(nlog(all: _*), "key", "t",
      Seq("payload"), Seq("seq"))
    assert(folded.collect().map(_.toString).sorted.toSeq ===
      oneShot.collect().map(_.toString).sorted.toSeq)
    val nullRows = folded.where(col("key").isNull).collect()
    assert(nullRows.length === 2 &&
      nullRows.count(_.getAs[Boolean]("is_current")) === 1,
      "one open version on the null-key chain, versions 1 and 2")
  }

  test("scd2Append: a NULL-ts batch row is dropped for EVERY key — " +
      "new keys included (r19 ADVICE: the filter previously dropped " +
      "them only for existing keys, an asymmetric late-row rule)") {
    def nlog(rows: (Long, Option[Long], Long, Option[String])*): DataFrame =
      rows.toDF("key", "t", "seq", "payload")
        .selectExpr("key", "CAST(t AS TIMESTAMP) AS t", "seq", "payload")
    val h = History.scd2(nlog((1L, Some(10L), 0L, Some("A"))), "key", "t",
      Seq("payload"), Seq("seq"))
    val out = History.scd2Append(h,
      nlog((1L, None, 1L, Some("Z")),  // existing key, null ts → dropped
           (2L, None, 2L, Some("Y")),  // NEW key, null ts → also dropped
           (2L, Some(20L), 3L, Some("X"))), // new key, real ts → folds
      "key", "t", Seq("payload"), Seq("seq")).collect()
    assert(out.map(r => (r.getLong(0), r.getAs[String]("payload"))).sorted
      === Seq((1L, "A"), (2L, "X")))
  }

  test("scd2Sink: an EMPTY first batch creates nothing (a schema-less " +
      "parquet dir would break the next fold's read); the next real " +
      "batch then seeds the table (r20 review)") {
    val dir = java.nio.file.Files.createTempDirectory("sinkempty").toString
    val table = s"$dir/hist"
    val sink = History.scd2Sink(table, "key", "t", Seq("payload"), Seq("seq"))
    sink(log().limit(0), 0L)
    assert(!new java.io.File(table).exists())
    sink(log((1L, 10L, 0L, Some("A"))), 1L)
    val rows = spark.read.parquet(table).collect()
    assert(rows.length === 1 && rows.head.getAs[String]("payload") === "A")
  }

  test("asOf: half-open containment — a version closing exactly at the " +
      "cut is replaced by its successor; future-only keys are absent") {
    val h = run(log(
      (1L, 10L, 0L, Some("A")), (1L, 20L, 1L, Some("B")), // A: [10,20)
      (2L, 30L, 2L, Some("X")))) // key 2 starts after the cut
    val out = History.asOf(h, lit("1970-01-01 00:00:20").cast("timestamp"))
      .collect()
    assert(out.length === 1)
    assert(out.head.getLong(0) === 1L &&
      out.head.getAs[String]("payload") === "B",
      "at t=20 version A [10,20) has ended; B [20,∞) is live; key 2 not yet")
  }

  test("asOfStored equals asOf when the layout is written under one " +
      "session timezone and read under another") {
    val tmp = java.nio.file.Files.createTempDirectory("asoftz").toString
    def at(s: String) = Timestamp.from(java.time.Instant.parse(s))
    // A is valid [20:00, 03:00 next day) UTC; under Los Angeles time
    // its valid_to falls on the earlier calendar day (19:00)
    val h = run(Seq(
        (1L, at("2024-01-01T20:00:00Z"), 0L, "A"),
        (1L, at("2024-01-02T03:00:00Z"), 1L, "B"))
      .toDF("key", "t", "seq", "payload"))
    val cut = lit(at("2024-01-02T01:00:00Z"))
    val zone = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
      History.writeForAsOf(h, s"$tmp/h")
      spark.conf.set("spark.sql.session.timeZone", "UTC")
      val stored = History.asOfStored(spark, s"$tmp/h", cut)
        .select("key", "payload").as[(Long, String)].collect().toSeq
      assert(stored === History.asOf(h, cut)
        .select("key", "payload").as[(Long, String)].collect().toSeq)
      assert(stored === Seq((1L, "A")))
    } finally spark.conf.set("spark.sql.session.timeZone", zone)
  }

  test("diffSnapshots: added / changed / silent-equal / removed-on-" +
      "backwards-diff, null-safe on payload and key") {
    val h = run(log(
      (1L, 10L, 0L, Some("A")), (1L, 30L, 1L, Some("B")), // changed A->B
      (2L, 10L, 2L, Some("X")),                           // equal at both cuts
      (3L, 25L, 3L, Some("Z")),                           // added between cuts
      (4L, 10L, 4L, None), (4L, 30L, 5L, Some("P"))))     // null->P: changed
    def cut(sec: Long) = lit(new Timestamp(sec * 1000L))
    val d = History.diffSnapshots(h, cut(20), cut(40), "key", Seq("payload"))
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getString(2), r.getString(3))).toMap
    assert(d === Map(
      1L -> (("changed", "A", "B")),
      3L -> (("added", null, "Z")),
      4L -> (("changed", null, "P"))))
    // backwards diff: key 3 is live at t=40 but absent at t=25's past
    val back = History.diffSnapshots(h, cut(40), cut(20), "key", Seq("payload"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(back(3L) === "removed")
  }

  test("keys are independent and the plan carries ONE exchange for " +
      "both windows (compaction lag + interval lead share partitioning)") {
    val df = log((1L, 10L, 0L, Some("A")), (2L, 10L, 0L, Some("A")),
      (2L, 20L, 1L, Some("B")))
    val out = run(df)
    assert(out.count() === 3)
    val exchanges = out.queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 1, s"expected a single shuffle, saw $exchanges")
  }
}
