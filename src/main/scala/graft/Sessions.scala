package graft

import org.apache.spark.sql.SparkSession

/** Recommended SparkSession setup for this library.
  *
  * Local mode mirrors the cluster posture: AQE on (runtime coalescing
  * + skew-join handling), UTC, nanosecond-parquet readability for the
  * events table, the graft_* SQL functions registered, and a class
  * cache sized to the library's working set ([[codegenCacheConf]]) whose
  * whole-stage classes are reused across stage numbers
  * ([[codegenClassNameConf]]). On
  * a real cluster the same builder applies with `master` unset and
  * shuffle.partitions sized to ~2-3× total cores (AQE coalesces the
  * excess); `spark.sql.files.maxPartitionBytes` stays default 128 MB
  * so a 100 TB scan yields ~800k input splits.
  */
object Sessions {

  /** Capacity of Spark's JVM-wide LRU of compiled generated classes.
    *
    * Spark's default of 100 is smaller than the library's working
    * set: one ingest pass compiles about 120 distinct classes, a churn
    * run (change batches, token-base refresh, index rebuild and the
    * search mix) about 330, and a `graft.Bench` pass 500. At 100
    * entries each pass evicts classes the next one needs, and Janino
    * compiles them again: about 160 classes per churn change batch
    * and 65 per ingest pass. 1,000 holds each working set whole;
    * keeping a churn run's classes costs about 5 MB more live heap
    * than the default's 100.
    *
    * The capacity is a static conf, read once, when the JVM's first
    * generated class is compiled: a caller who builds their own
    * session must set [[codegenCacheConf]] on it before its first
    * query, and a value set on a later session has no effect.
    * Executors read it from the same `SparkConf`, so on a cluster the
    * builder's setting reaches them too. */
  val CodegenCacheEntries = 1000

  val codegenCacheConf: (String, String) =
    ("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)

  /** Whole-stage classes are named without their stage number.
    *
    * By default each generated class is named after its stage id
    * (`GeneratedIteratorForCodegenStage7`), and the id is part of the
    * code the class cache is keyed on. AQE re-plans a query stage by
    * stage and numbers the stages afresh, so the same pipeline comes
    * back under another number and Janino compiles it again: 4–18
    * classes per churn change batch after the first, each compiled
    * before. With the id out of the name, a pipeline compiled once is
    * reused under any stage number. The id stays in the generated
    * code's comments, which the cache key leaves out. A fixed posture,
    * set wherever [[codegenCacheConf]] is. */
  val codegenClassNameConf: (String, String) =
    ("spark.sql.codegen.useIdInClassName", "false")

  def localBuilder(cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config(Tables.nanosConf._1, Tables.nanosConf._2)
      .config(codegenCacheConf._1, codegenCacheConf._2)
      .config(codegenClassNameConf._1, codegenClassNameConf._2)
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)

  def local(cores: Int): SparkSession = {
    val s = localBuilder(cores).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
