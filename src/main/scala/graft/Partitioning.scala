package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Partition-spreading for CPU-heavy narrow stages.
  *
  * A small parquet file arrives as one input split, but per-row costs
  * of hashing/shingling stages are orders of magnitude above scan cost —
  * without a spread they serialize on one core. At cluster scale inputs
  * already have many splits, so we only ever *increase* parallelism
  * (never collapse a big input onto few partitions).
  */
object Partitioning {
  /** Repartition up to the session's parallelism if the plan currently
    * has fewer partitions; no-op (no shuffle) otherwise.
    *
    * The partition count is read from `df`'s own physical plan, not
    * through `Dataset.rdd`: `rdd` plans a second, deserializing query,
    * and after it every `Observation` on `df` reads zeros once the
    * real action runs.
    *
    * Streaming plans cannot be inspected this way (and micro-batch
    * partitioning is source-driven anyway) — spread is an identity
    * there, so every operator built on it runs unchanged on
    * `readStream` inputs.
    */
  def spread(df: DataFrame): DataFrame = {
    if (df.isStreaming) return df
    val target = parallelism(df.sparkSession)
    if (df.queryExecution.toRdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** The session's parallelism target: the larger of
    * `spark.sql.shuffle.partitions` and the default parallelism. */
  def parallelism(spark: SparkSession): Int = math.max(
    spark.conf.get("spark.sql.shuffle.partitions", "32").toInt,
    spark.sparkContext.defaultParallelism)

  /** Runs `df`'s plan once, filling its cache entry: one job, where
    * `count()` adds an aggregate exchange. */
  def materialize(df: DataFrame): Unit =
    df.foreachPartition((_: Iterator[Row]) => ())
}
