package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

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
    * Streaming plans cannot be inspected via `.rdd` (and micro-batch
    * partitioning is source-driven anyway) — spread is an identity
    * there, so every operator built on it runs unchanged on
    * `readStream` inputs.
    */
  def spread(df: DataFrame): DataFrame = {
    if (df.isStreaming) return df
    val target = parallelism(df.sparkSession)
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** The session's parallelism target: the larger of
    * `spark.sql.shuffle.partitions` and the default parallelism. */
  def parallelism(spark: SparkSession): Int = math.max(
    spark.conf.get("spark.sql.shuffle.partitions", "32").toInt,
    spark.sparkContext.defaultParallelism)
}
