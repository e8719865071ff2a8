package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

object Compiles {
  /** Generated classes compiled in this JVM while `body` runs: each
    * miss of Spark's class cache, on the driver or in a local task,
    * counts one. */
  def during(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }
}

/** The class-cache posture ([[Sessions.codegenCacheConf]],
  * [[Sessions.codegenClassNameConf]]): a query shape compiled once
  * stays compiled while more distinct shapes run than Spark's default
  * capacity of 100 holds, and under any stage number. */
class CodegenCacheSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  test("Sessions.localBuilder and the test session carry the class-cache capacity") {
    val b = Sessions.localBuilder(2)
    // the builder's options are sql-private; they are read reflectively
    val options = b.getClass.getMethod("options").invoke(b)
      .asInstanceOf[scala.collection.Map[String, String]]
    assert(Sessions.CodegenCacheEntries > 100)
    assert(options.get(Sessions.codegenCacheConf._1)
      .contains(Sessions.CodegenCacheEntries.toString))
    assert(spark.conf.get(Sessions.codegenCacheConf._1) ===
      Sessions.CodegenCacheEntries.toString)
  }

  test("a shape re-run after 150 other distinct shapes compiles no class") {
    // each constant is inlined into the generated code, so each i is
    // a distinct class
    def shape(i: Int): Unit =
      spark.range(16).select((col("id") * lit(7919L + i) + lit(i + 0.5)).as("x")).collect()
    shape(0)
    val others = Compiles.during((1 to 150).foreach(shape))
    assert(others > 100, s"the 150 other shapes compiled only $others classes")
    assert(Compiles.during(shape(0)) === 0)
  }

  test("a pipeline re-planned under another stage number compiles no class") {
    val b = Sessions.localBuilder(2)
    val options = b.getClass.getMethod("options").invoke(b)
      .asInstanceOf[scala.collection.Map[String, String]]
    val (key, value) = Sessions.codegenClassNameConf
    assert(options.get(key).contains(value))
    assert(spark.conf.get(key) === value)
    def pipeline = spark.range(16).select((col("id") * lit(104729L) + lit(0.25)).as("x"))
    def other = spark.range(16).select((col("id") * lit(1299709L) + lit(0.75)).as("x"))
    // alone, each pipeline is stage 1; under the union, the second
    // child is numbered 2
    pipeline.collect()
    other.collect()
    assert(Compiles.during(other.union(pipeline).collect()) === 0)
  }
}
