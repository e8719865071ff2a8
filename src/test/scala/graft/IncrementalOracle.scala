package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.incremental.{Incremental, ParquetSink}

/** The join-based incremental sync the one-pass commit replaced, kept
  * as the oracle of the sync laws: a window picks the last-wins upsert,
  * `diff` joins it to tracking, the delete arm is adjudicated by its
  * own joins, the batch is counted and probed for idleness, the stale
  * keys join tracking again, and the tracking table is rewritten whole
  * from the untouched rows. Its `diff` is the join law the spec
  * compares `Incremental.diff`'s key sets against. */
object IncrementalOracle {

  private def lastWinsPerKey(batch: DataFrame): DataFrame = {
    val payloadTieBreak = batch.columns
      .filterNot(Set("source_key", "ordinal", "content_hash"))
      .sorted.toSeq
      .map(c => col("`" + c.replace("`", "``") + "`").cast("string").desc_nulls_last)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source_key")
      .orderBy(col("ordinal").desc_nulls_last +:
        col("content_hash").desc_nulls_last +: payloadTieBreak: _*)
    batch.withColumn("_lw_rn", row_number().over(w))
      .where(col("_lw_rn") === 1).drop("_lw_rn")
  }

  /** (toEvaluate, ordinalOnly, toDelete) */
  def diff(source: DataFrame, tracking: DataFrame,
      logicFp: String): (DataFrame, DataFrame, DataFrame) = {
    val t = tracking.select(
      col("source_key"), col("ordinal").as("_t_ordinal"),
      col("content_hash").as("_t_hash"), col("logic_fp").as("_t_fp"))
    val joined = lastWinsPerKey(source).join(t, Seq("source_key"), "left")
    val isNew = col("_t_ordinal").isNull
    val fresh = col("ordinal") >= col("_t_ordinal")
    val contentChanged = !(col("content_hash") <=> col("_t_hash"))
    val logicChanged = col("_t_fp") =!= lit(logicFp)
    val toEvaluate = joined
      .where(isNew || (fresh && (contentChanged || logicChanged)))
      .drop("_t_ordinal", "_t_hash", "_t_fp")
    val ordinalOnly = joined
      .where(!isNew && col("ordinal") > col("_t_ordinal") &&
        !contentChanged && !logicChanged)
      .drop("_t_ordinal", "_t_hash", "_t_fp")
    val toDelete = tracking.join(
      source.select(col("source_key")), Seq("source_key"), "left_anti")
    (toEvaluate, ordinalOnly, toDelete)
  }

  def syncSource(spark: SparkSession, source: DataFrame,
      process: DataFrame => DataFrame, logicFp: String,
      sinkPath: String, trackingPath: String): Long =
    sync(spark, source, process, logicFp, sinkPath, trackingPath, fullSnapshot = true)

  def applyChanges(spark: SparkSession, batch: DataFrame,
      process: DataFrame => DataFrame, logicFp: String,
      sinkPath: String, trackingPath: String): Long =
    sync(spark, batch, process, logicFp, sinkPath, trackingPath, fullSnapshot = false)

  def applyChangeStream(spark: SparkSession, batch: DataFrame,
      deletedKeys: DataFrame, process: DataFrame => DataFrame,
      logicFp: String, sinkPath: String, trackingPath: String): Long =
    sync(spark, batch, process, logicFp, sinkPath, trackingPath,
      fullSnapshot = false, deletedSourceKeys = Some(deletedKeys))

  private def sync(spark: SparkSession, source: DataFrame,
      process: DataFrame => DataFrame, logicFp: String,
      sinkPath: String, trackingPath: String, fullSnapshot: Boolean,
      deletedSourceKeys: Option[DataFrame] = None): Long = {
    val tracking = ParquetSink.read(spark, trackingPath)
      .getOrElse(Incremental.emptyTracking(spark))
    val (upserts, explicitDeletes) = deletedSourceKeys match {
      case None => (source, None)
      case Some(rawKeys) if !rawKeys.columns.contains("ordinal") =>
        val delKeys = rawKeys.select("source_key").distinct()
        (source.join(delKeys, Seq("source_key"), "left_anti"),
          Some(tracking.join(delKeys, Seq("source_key"), "left_semi")))
      case Some(rawKeys) =>
        val del = rawKeys.groupBy("source_key")
          .agg(max(col("ordinal")).as("_d_ord"))
          .withColumn("_d_present", lit(true))
        val up = source.join(del, Seq("source_key"), "left")
          .where(col("_d_present").isNull ||
            (col("_d_ord").isNotNull && col("ordinal").isNotNull &&
              col("ordinal") > col("_d_ord")))
          .drop("_d_ord", "_d_present")
        val upMax = source.groupBy("source_key")
          .agg(max(col("ordinal")).as("_u_ord"))
        val liveDel = del.join(upMax, Seq("source_key"), "left")
          .where(!(col("_u_ord").isNotNull && col("_d_ord").isNotNull &&
            col("_u_ord") > col("_d_ord")))
          .select("source_key", "_d_ord")
        val toDel = tracking.join(liveDel, Seq("source_key"))
          .where(!(col("ordinal").isNotNull && col("_d_ord").isNotNull &&
            col("ordinal") > col("_d_ord")))
          .drop("_d_ord")
        (up, Some(toDel))
    }
    val (toEvaluate, ordinalOnly, fullDeletes) = diff(upserts, tracking, logicFp)
    val toDelete =
      if (fullSnapshot) fullDeletes
      else explicitDeletes.getOrElse(Incremental.emptyTracking(spark))

    val evaluated = toEvaluate.cache()
    val nEvaluated = evaluated.count()
    if (nEvaluated == 0 && toDelete.isEmpty && ordinalOnly.isEmpty) {
      evaluated.unpersist()
      return 0L
    }
    val outputs = process(evaluated).cache()
    val newKeys = outputs.groupBy(col("source_key"))
      .agg(collect_list(col("target_key")).as("target_keys"))
    val evaluatedTracking = evaluated
      .select(col("source_key"), col("ordinal"), col("content_hash"))
      .join(newKeys, Seq("source_key"), "left")
      .withColumn("target_keys",
        coalesce(col("target_keys"), array().cast("array<string>")))
      .withColumn("logic_fp", lit(logicFp))
      .select("source_key", "ordinal", "content_hash", "logic_fp", "target_keys")
    val oldKeysOfEvaluated = tracking
      .join(evaluated.select("source_key"), Seq("source_key"))
      .select(explode(col("target_keys")).as("target_key"))
    val keysOfDeleted = toDelete
      .select(explode(col("target_keys")).as("target_key"))
    val staleKeys = oldKeysOfEvaluated.unionByName(keysOfDeleted)
      .join(outputs.select("target_key"), Seq("target_key"), "left_anti")
      .distinct()
    val sink = ParquetSink.read(spark, sinkPath)
    val upserted = outputs.drop("source_key")
    val kept = sink.map(_.join(upserted.select("target_key")
      .unionByName(staleKeys), Seq("target_key"), "left_anti"))
    val newRows = upserted.join(staleKeys, Seq("target_key"), "left_anti")
    ParquetSink.swapWrite(spark, sinkPath, kept.fold(newRows)(_.unionByName(newRows)))
    val bumpKeys = ordinalOnly.select(
      col("source_key"), col("ordinal").as("_new_ordinal"))
    val untouched = tracking
      .join(evaluatedTracking.select("source_key"), Seq("source_key"), "left_anti")
      .join(toDelete.select("source_key"), Seq("source_key"), "left_anti")
      .join(bumpKeys, Seq("source_key"), "left")
      .withColumn("ordinal", coalesce(col("_new_ordinal"), col("ordinal")))
      .drop("_new_ordinal")
      .select("source_key", "ordinal", "content_hash", "logic_fp", "target_keys")
    ParquetSink.swapWrite(spark, trackingPath,
      untouched.unionByName(evaluatedTracking))
    evaluated.unpersist()
    outputs.unpersist()
    nEvaluated
  }
}
