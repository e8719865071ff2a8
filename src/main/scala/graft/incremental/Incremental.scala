package graft.incremental

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Partitioning

/** Incremental source indexing — the reference engine's core
  * differentiator (SURVEY.md §2.8), collapsed into idempotent batch
  * transactions:
  *
  *  - one-shot update = list ⟕ tracking → process delta → MERGE
  *    (source_indexer.rs:259-393)
  *  - ordinal monotonicity: never process an ordinal older than stored;
  *    equal-or-newer ordinal with unchanged content+logic only bumps
  *    the ordinal (row_indexer.rs:110-133, 506-589 content-hash skip)
  *  - logic fingerprint: change ⇒ full reprocess of affected rows
  *    (fingerprint.rs:34-143)
  *  - precommit/commit with exact stale-key deletion: target keys per
  *    source key are recorded in tracking; on re-evaluation the old
  *    keyset minus the new keyset is deleted from the sink
  *    (row_indexer.rs:179-505, db_tracking.rs:81-330)
  *
  * Tracking row: (source_key, ordinal, content_hash, logic_fp,
  * target_keys). Stored as parquet; the same logic runs unchanged over
  * a Delta table at cluster scale.
  *
  * A batch commits from one classified delta (the Structured Streaming
  * micro-batch shape: build the delta once, write it idempotently).
  * One aggregate over the upserts, the deletes and the stored tracking
  * rows of the batch's keys labels each changed key evaluate, bump or
  * delete, carrying its last-wins upsert and its stored row; the frame
  * is materialized once, and its counts are observed on that job. The
  * sink and the tracking table then take one merge each: `process`
  * runs over the evaluate rows only, and the stale target keys come
  * from the stored `target_keys` the delta carries. Both writes swap
  * by rename-aside ([[ParquetSink]]), so a crash mid-swap leaves the
  * previous version readable; the two writes are not one transaction.
  * [[diff]] is the snapshot view of the delta [[syncSource]] commits:
  * the same classified frame, read through projections. Source and
  * tracking keys match null-safely: a NULL `source_key` is a key like
  * any other.
  */
object Incremental {

  val trackingSchema: StructType = StructType(Seq(
    StructField("source_key", StringType),
    StructField("ordinal", LongType),
    StructField("content_hash", StringType),
    StructField("logic_fp", StringType),
    StructField("target_keys", ArrayType(StringType))))

  def emptyTracking(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      trackingSchema)

  /** A column reference by LITERAL name — backtick-quoted so a dotted
    * payload name (`user.name`) is never parsed as nested-field
    * access (r19 review: the caller-supplied payload columns flow
    * through tie-break/memo expressions by name). */
  private[incremental] def quotedCol(name: String): org.apache.spark.sql.Column =
    col("`" + name.replace("`", "``") + "`")

  def readTracking(spark: SparkSession, path: String): DataFrame =
    ParquetSink.read(spark, path, trackingSchema).getOrElse(emptyTracking(spark))

  /** The per-run delta of a keyed source versus the tracking state:
    * the one labelled frame [[classify]] builds (`source_key`, `_op`,
    * `_u`, `_t`), read through three projections. */
  final class SourceDelta private[incremental] (
      private[incremental] val classified: DataFrame, sourceColumns: Seq[String]) {

    /** Source rows needing (re)processing: new keys, newer-ordinal
      * rows with changed content, or any non-stale row when the logic
      * fingerprint changed. The source's columns, in its order. */
    def toEvaluate: DataFrame = upserts(Evaluate)

    /** Rows whose ordinal advanced but content+logic is unchanged
      * (content-hash skip: bump only). The source's columns. */
    def ordinalOnly: DataFrame = upserts(Bump)

    /** Tracking rows whose source key disappeared (their target_keys
      * become sink deletions), in [[trackingSchema]]'s columns. */
    def toDelete: DataFrame = op(Delete).select(col("source_key") +:
      trackingSchema.fieldNames.toSeq.tail.map(f => col("_t").getField(f).as(f)): _*)

    private[incremental] def op(o: String): DataFrame = classified.where(col("_op") === o)
    private def upserts(o: String): DataFrame =
      op(o).select(sourceColumns.map(c => col("_u").getField(c).as(c)): _*)
  }

  /** Diff a snapshot `source` (columns: source_key, ordinal,
    * content_hash, + any payload) against tracking: the delta a
    * [[syncSource]] of it would commit. Stale rows (ordinal < stored)
    * are dropped entirely (late-write protection,
    * row_indexer.rs:134-178); a batch carrying one source_key at
    * several ordinals evaluates last-wins (one row, the max ordinal). */
  def diff(source: DataFrame, tracking: DataFrame, logicFp: String): SourceDelta =
    new SourceDelta(classify(source, None, tracking, logicFp, fullSnapshot = true),
      source.columns.toSeq)

  /** One incremental sync of a source into a sink.
    *
    * @param source   keyed snapshot: (source_key, ordinal, content_hash,
    *                 payload...)
    * @param process  evaluation: delta rows → target rows; MUST output a
    *                 `target_key` column and carry `source_key` through
    * @param logicFp  fingerprint of the processing logic + config
    * @return number of source rows evaluated (for skip/memo assertions)
    */
  def syncSource(spark: SparkSession, source: DataFrame,
      process: DataFrame => DataFrame, logicFp: String,
      sinkPath: String, trackingPath: String): Long =
    syncSourceTo(spark, source, process, logicFp,
      graft.sinks.ParquetConnector, sinkPath, trackingPath)

  /** [[syncSource]] against any registered target connector — the sink
    * side of the sync is the connector's mutation contract, so JDBC /
    * property-graph / custom stores get identical incremental
    * semantics. */
  def syncSourceTo(spark: SparkSession, source: DataFrame,
      process: DataFrame => DataFrame, logicFp: String,
      connector: graft.sinks.TargetConnector, target: String,
      trackingPath: String): Long =
    sync(spark, source, process, logicFp, connector, target, trackingPath,
      fullSnapshot = true)

  /** Change-stream variant (live_updater.rs:23-424 consumption path):
    * the batch holds only changed keys, so absence does NOT mean
    * deletion — no stale-source cleanup, everything else identical.
    */
  def applyChanges(spark: SparkSession, batch: DataFrame,
      process: DataFrame => DataFrame, logicFp: String,
      sinkPath: String, trackingPath: String): Long =
    applyChangesTo(spark, batch, process, logicFp,
      graft.sinks.ParquetConnector, sinkPath, trackingPath)

  /** [[applyChanges]] against any registered target connector. */
  def applyChangesTo(spark: SparkSession, batch: DataFrame,
      process: DataFrame => DataFrame, logicFp: String,
      connector: graft.sinks.TargetConnector, target: String,
      trackingPath: String): Long =
    sync(spark, batch, process, logicFp, connector, target, trackingPath,
      fullSnapshot = false)

  /** Change-stream variant WITH explicit removals — the event-queue
    * consumption path (amazon_s3.rs ObjectRemoved events): the batch
    * carries upserts exactly like [[applyChangesTo]], while
    * `deletedKeys` (a `source_key` frame, optionally with an `ordinal`
    * column) are synced as deletions, so their previously exported
    * target keys are cleaned exactly.
    *
    * Deletes participate in the SAME version comparison as upserts
    * (r18, closing the r17 pass-11 deferral): in the reference a
    * delete is a `SourceValue::NonExistence` whose `SourceVersion`
    * flows through the identical `should_skip` checks
    * (row_indexer.rs:99-131, source_indexer.rs:141-177), so
    *  - a replayed STALE ObjectRemoved (ordinal older than the stored
    *    row's) is skipped — it never drops a newer row;
    *  - at an ordinal TIE the delete wins (`NonExistence` outranks
    *    `CurrentLogic` in the SourceVersionKind order,
    *    row_indexer.rs:34-41, so the upsert-side skip fires first);
    *  - a delete with NO ordinal is never skippable
    *    (row_indexer.rs:117-124, the `_ => false` arm) — it always
    *    applies, and wins against same-batch upserts (the batch
    *    analogue of "cannot be adjudicated ⇒ the conservative arm").
    * When `deletedKeys` has no `ordinal` column at all, every delete
    * is the no-ordinal case: it drops the stored row unconditionally
    * AND suppresses any same-batch upsert for its key (delete-wins is
    * the convention for every unadjudicable conflict; pre-r18 the
    * upsert was diffed first and re-added the key — a
    * last-writer-raced outcome this law replaces). The S3 event-queue
    * consumer is unaffected either way: its removed keys are disjoint
    * from its re-fetched upserts by construction. */
  def applyChangeStreamTo(spark: SparkSession, batch: DataFrame,
      deletedKeys: DataFrame, process: DataFrame => DataFrame,
      logicFp: String, connector: graft.sinks.TargetConnector,
      target: String, trackingPath: String): Long =
    sync(spark, batch, process, logicFp, connector, target, trackingPath,
      fullSnapshot = false, deletedSourceKeys = Some(deletedKeys))

  private val Evaluate = "evaluate"
  private val Bump = "bump"
  private val Delete = "delete"

  /** One row per source key the batch changes, from one aggregate:
    * `source_key`, `_op` (evaluate / bump / delete), `_u` (the
    * last-wins upsert, every batch column) and `_t` (the stored
    * tracking row). Keys the batch leaves as they are have no row.
    *
    * The upserts, the deletes and the tracking rows are unioned and
    * grouped once by `source_key`. A full snapshot takes every
    * tracking row (a tracked key with no upsert is deleted); a change
    * stream takes only the rows of its own keys, by a broadcast
    * semi-join.
    *
    * The per-key laws ([[applyChangeStreamTo]] states the delete arm):
    *  - last-wins: of N rows for one key only the max-ordinal one is
    *    kept, carrying that row's content. The reference serializes
    *    rows per key and never processes an older ordinal
    *    (source_indexer.rs:142-177, row_indexer.rs:110-133); a batch
    *    has no arrival order to break ordinal ties with, so the pick
    *    is a deterministic total order, stable across runs and
    *    partitionings: `max_by` over (ordinal, content_hash, every
    *    payload column cast to string in name order). An ascending
    *    struct order sorts a null field first, so the max is the
    *    "desc nulls last" pick. Under an honored hash contract the
    *    payload never adjudicates anything.
    *  - the delete arm: one delete per key at its max ordinal; an
    *    upsert survives it only when strictly newer, and a surviving
    *    delete drops the stored row unless that row is strictly newer.
    *    A delete with no ordinal (or a delete stream with no ordinal
    *    column) is never skippable.
    *  - the stored-row comparison: evaluate a new key or a fresh row
    *    whose content or logic changed; bump the ordinal of a newer
    *    row with both unchanged; drop a stale row (late-write
    *    protection, row_indexer.rs:134-178). A null hash reads as
    *    changed: reprocessing is the safe law when it is unknown. */
  private def classify(upserts: DataFrame, deletes: Option[DataFrame],
      tracking: DataFrame, logicFp: String, fullSnapshot: Boolean): DataFrame = {
    val payload = upserts.columns
      .filterNot(Set("source_key", "ordinal", "content_hash")).sorted.toSeq
    val u0 = struct(upserts.columns.toSeq.map(c => quotedCol(c).as(c)): _*)
    val order = struct(col("ordinal") +: col("content_hash") +:
      payload.map(c => quotedCol(c).cast("string")): _*)
    val t0 = struct(col("ordinal"), col("content_hash"), col("logic_fp"),
      col("target_keys"))
    def typeOf(c: org.apache.spark.sql.Column, df: DataFrame) =
      df.select(c).schema.head.dataType
    val (uType, orderType, tType) =
      (typeOf(u0, upserts), typeOf(order, upserts), typeOf(t0, tracking))
    def arm(df: DataFrame, u: Boolean, d: Boolean, t: Boolean) = df.select(
      col("source_key"),
      (if (u) u0 else lit(null).cast(uType)).as("_u"),
      (if (u) order else lit(null).cast(orderType)).as("_order"),
      (if (!d) lit(null).cast("long")
       else if (df.columns.contains("ordinal")) col("ordinal").cast("long")
       else lit(null).cast("long")).as("_d_ord"),
      lit(d).as("_d"),
      (if (t) t0 else lit(null).cast(tType)).as("_t"))
    val batchKeys = deletes.fold(upserts.select("source_key"))(d =>
      upserts.select("source_key").unionByName(d.select("source_key")))
    val stored =
      if (fullSnapshot) tracking
      else ParquetSink.joinOnKey(tracking, broadcast(batchKeys), Seq("source_key"), "left_semi")
    val arms = Seq(arm(upserts, u = true, d = false, t = false)) ++
      deletes.map(arm(_, u = false, d = true, t = false)) :+
      arm(stored, u = false, d = false, t = true)
    val g = arms.reduce(_ union _).groupBy(col("source_key")).agg(
      max_by(col("_u"), col("_order")).as("_u"),
      max(col("_d_ord")).as("_d_ord"),
      max(col("_d")).as("_d"),
      first(col("_t"), ignoreNulls = true).as("_t"))

    val (u, t, dOrd) = (col("_u"), col("_t"), col("_d_ord"))
    val (uOrd, tOrd) = (u.getField("ordinal"), t.getField("ordinal"))
    val hasDel = col("_d")
    // an upsert strictly newer than its key's delete (never when
    // either ordinal is unknown)
    val upNewer = dOrd.isNotNull && uOrd.isNotNull && uOrd > dOrd
    val storedNewer = tOrd.isNotNull && dOrd.isNotNull && tOrd > dOrd
    val upLive = u.isNotNull && (!hasDel || upNewer)
    val isNew = tOrd.isNull
    // null-safe: a null-vs-value hash reads as changed
    val contentChanged = !(u.getField("content_hash") <=> t.getField("content_hash"))
    val logicChanged = t.getField("logic_fp") =!= lit(logicFp)
    val evaluate = upLive && (isNew || (uOrd >= tOrd && (contentChanged || logicChanged)))
    val bump = upLive && !isNew && uOrd > tOrd && !contentChanged && !logicChanged
    val delete = t.isNotNull &&
      (if (fullSnapshot) u.isNull else hasDel && !upNewer && !storedNewer)
    g.select(col("source_key"),
        when(evaluate, Evaluate).when(bump, Bump).when(delete, Delete).as("_op"),
        u, t)
      .where(col("_op").isNotNull)
  }

  /** One sync, committed from one classified delta ([[classify]]):
    * the classification is materialized once, its evaluate / bump /
    * delete counts observed on that same job, and every later step
    * reads it. An idle batch stops there. Otherwise `process` runs
    * over the evaluate rows, the stale target keys come from the
    * stored `target_keys` the delta carries, and the sink and the
    * tracking table each take one [[ParquetSink.merge]]-shaped write. */
  private def sync(spark: SparkSession, source: DataFrame,
      process: DataFrame => DataFrame, logicFp: String,
      connector: graft.sinks.TargetConnector, target: String,
      trackingPath: String, fullSnapshot: Boolean,
      deletedSourceKeys: Option[DataFrame] = None): Long = {
    val counts = Observation()
    def counted(op: String) = count(when(col("_op") === op, lit(1))).as(op)
    val delta = new SourceDelta(classify(source, deletedSourceKeys,
        readTracking(spark, trackingPath), logicFp, fullSnapshot)
      .observe(counts, counted(Evaluate), counted(Bump), counted(Delete))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
      source.columns.toSeq)
    try {
      Partitioning.materialize(delta.classified)
      // the optimizer drops the observation of a provably empty delta
      val n = counts.get.map { case (k, v) => k -> v.asInstanceOf[Long] }
        .withDefaultValue(0L)
      // idle-batch fast path (r17 review pass 11): nothing to
      // evaluate, bump or delete leaves the state exactly as it is, so
      // neither table is rewritten
      if (n(Evaluate) + n(Bump) + n(Delete) == 0) return 0L

      val outputs = process(delta.toEvaluate).cache()
      try {
        // materialized here, so the writes below plan their joins
        // against its measured size
        Partitioning.materialize(outputs)
        // exact stale-key deletion: the stored keys of re-evaluated and
        // deleted sources, minus this run's keys
        //
        // CONTRACT (r18, pinned against the reference's precommit
        // keyset law): target keys are NOT shared across source keys.
        // The reference tracks target keys PER source key and deletes a
        // source row's legacy keys unconditionally — a key absent from
        // THAT row's new output is staged for deletion with no check
        // against other rows' keysets (row_indexer.rs:151-153 keyed by
        // TargetKeyPair within one source row, :353-386 legacy-key
        // deletion) — so a target key emitted by two source keys is
        // clobbered there exactly as it would be here. Every library
        // process() derives target_key injectively from source_key
        // (chunk ids, etc.); a violating process() loses rows in BOTH
        // engines, which is why this subtracts only this run's outputs.
        val staleKeys = ParquetSink.joinOnKey(
          delta.classified.where(col("_op") =!= Bump)
            .select(explode(col("_t.target_keys")).as("target_key")),
          outputs.select("target_key"), Seq("target_key"), "left_anti")
        connector.applyMutation(spark, target,
          outputs.drop("source_key"), Seq("target_key"), Some(staleKeys))

        // commit tracking: evaluated rows with their new keysets,
        // ordinal bumps over the stored rows, deleted sources dropped.
        // The keysets join on `struct(source_key)`: never null, so a
        // NULL source key meets its own outputs, and a plain equi-join
        // on newKeys' grouping key lets the planner drop the join where
        // only the evaluated keys are read (the merge's key side)
        val byKey = struct(col("source_key")).as("_k")
        val newKeys = outputs.groupBy(byKey)
          .agg(collect_list(col("target_key")).as("target_keys"))
        val evaluatedTracking = delta.op(Evaluate)
          .select(byKey, col("source_key"), col("_u.ordinal").as("ordinal"),
            col("_u.content_hash").as("content_hash"))
          .join(newKeys, Seq("_k"), "left")
          .select(col("source_key"), col("ordinal"), col("content_hash"),
            lit(logicFp).as("logic_fp"),
            coalesce(col("target_keys"), array().cast("array<string>")).as("target_keys"))
        val bumped = delta.op(Bump).select(col("source_key"),
          col("_u.ordinal").as("ordinal"), col("_t.content_hash").as("content_hash"),
          col("_t.logic_fp").as("logic_fp"), col("_t.target_keys").as("target_keys"))
        def asTracking(df: DataFrame) = df.select(trackingSchema.fields.toSeq.map(f =>
          col(f.name).cast(f.dataType).as(f.name)): _*)
        ParquetSink.merge(spark, trackingPath,
          asTracking(evaluatedTracking).unionByName(asTracking(bumped)),
          Seq("source_key"), Some(delta.op(Delete).select("source_key")))
      } finally outputs.unpersist()
      n(Evaluate)
    } finally delta.classified.unpersist()
  }
}

/** Function-level memoization (memoization.rs:17-254): a persistent
  * cache table keyed by the fingerprint of (function logic, inputs);
  * computation happens only for cache misses, via the canonical
  * left-anti-join pattern.
  */
object Memo {

  /** @param inputs   rows carrying a `_fp` fingerprint column
    * @param compute  evaluates MISSES only; must return `_fp` + value
    *                 columns (the cache row schema)
    * @return one row per distinct input `_fp` with value columns, from
    *         cache where possible; cache is appended with new results
    */
  def cached(spark: SparkSession, cachePath: String, inputs: DataFrame,
      compute: DataFrame => DataFrame): DataFrame = {
    // ONE row per _fp (r17 review pass 11): plain distinct() kept
    // every (fp, other-columns) variant, computing duplicates and
    // appending duplicate _fp cache rows that fan out every later
    // hit join. The fingerprint COVERS the inputs by contract
    // (fingerprint.rs's role), so any representative row per _fp is
    // the same input. For CONTRACT-VIOLATING inputs (same _fp,
    // different payload — r18 ADVICE) the representative is now
    // picked by a total ordering over the payload columns, so the
    // computed/cached result is stable across runs and partition
    // layouts rather than whichever row dropDuplicates kept.
    val payloadCols = inputs.columns.filterNot(_ == "_fp")
    val payloadOrderable = inputs.schema.fields
      .filter(f => payloadCols.contains(f.name))
      .forall(f => org.apache.spark.sql.catalyst.expressions
        .RowOrdering.isOrderable(f.dataType))
    val distinctIn =
      if (payloadCols.isEmpty) inputs.distinct()
      else if (payloadOrderable)
        // min over ONE struct of the payload columns: map-side
        // combinable (a row_number window here would shuffle every
        // duplicate row to its _fp's partition and sort — strictly
        // worse for the common contract-honoring caller, r18 review);
        // A deterministic total order (native struct comparison,
        // field-by-field, nulls first — NOT the r17 string-cast
        // order: "10" < "2" as strings but not as numbers; either is
        // a valid deterministic pick, pass 8). Columns re-selected in
        // the INPUT order — compute() sees the schema it was given.
        // quotedCol/getField (r19 review): dotted payload names must
        // not parse as nested access — the same class the last-wins
        // tie-break was fixed for
        inputs.groupBy(col("_fp"))
          .agg(min(struct(payloadCols.map(Incremental.quotedCol): _*))
            .as("_rep"))
          .select(inputs.columns.map(c =>
            if (c == "_fp") col("_fp")
            else col("_rep").getField(c).as(c)): _*)
      else {
        // unorderable payload (map-typed column): the aggregate form
        // would fail analysis — keep the string-cast window for this
        // arm only (r18 pass 8: the r18 aggregate rewrite silently
        // narrowed the accepted schemas)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("_fp")
          .orderBy(payloadCols.map(c =>
            Incremental.quotedCol(c).cast("string").asc_nulls_first): _*)
        inputs.withColumn("_memo_rn", row_number().over(w))
          .where(col("_memo_rn") === 1).drop("_memo_rn")
      }
    val prior = ParquetSink.read(spark, cachePath)
    val misses = prior match {
      case None => distinctIn
      case Some(cache) =>
        distinctIn.join(cache.select("_fp"), Seq("_fp"), "left_anti")
    }
    // the transient cache lives only for the isEmpty+write pair and
    // is RELEASED here (pass 11: it leaked one pinned RDD per call);
    // results are then served from the cache FILE just written, so
    // nothing recomputes downstream
    val computed = compute(misses).cache()
    if (!computed.isEmpty) computed.write.mode("append").parquet(cachePath)
    computed.unpersist()
    distinctIn.select("_fp")
      .join(ParquetSink.read(spark, cachePath).getOrElse(computed),
        Seq("_fp"))
  }

  /** Fingerprint of logic + input values (fingerprint.rs:34-143 role:
    * any change in the op spec or inputs changes the key). Each value
    * carries a null-flag prefix because concat_ws SKIPS null columns —
    * without it (null, "x") and ("x", null) would collide on one key
    * and serve each other's cached results.
    *
    * FORMAT IS VERSIONED (r18 ADVICE): the hashed string starts with
    * a "graft-memo-v2" tag. The r17 move to length-prefixed values
    * was a silent format break — any memo cache or tracking
    * `logic_fp` persisted under the old format stops matching on
    * upgrade (first run recomputes everything; append-only cache
    * files keep the old-format rows forever). Introducing the tag is
    * itself that break one final time — library consumers with
    * persisted r17-format caches must rotate them across this
    * upgrade (in-repo the fingerprint has only test consumers). From
    * here the version makes every next break deliberate: bump the
    * tag AND rotate `cachePath` / `trackingPath` together. */
  def fingerprint(logic: String, cols: org.apache.spark.sql.Column*): org.apache.spark.sql.Column = {
    // length-prefixed values (r17 review pass 11): a bare separator
    // is not escaped from the values, so ["x\u0000y"] and ["x","y"]
    // concatenated identically — the collision class the null flag
    // was added against, reintroduced through embedded separators.
    // "1<len>:<value>" makes every column boundary unambiguous.
    val tagged = cols.map { c =>
      val s = c.cast("string")
      when(s.isNull, lit("0"))
        .otherwise(concat(lit("1"), length(s), lit(":"), s))
    }
    sha2(concat_ws("\u0000",
      lit("graft-memo-v2") +: lit(logic) +: tagged: _*), 256)
  }
}
