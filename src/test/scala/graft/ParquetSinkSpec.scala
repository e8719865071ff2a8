package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.incremental.{IncrementalIndex, ParquetSink}

/** The rename-aside swap: at every point of a swap one complete
  * version of the table is on disk, and a reader finds it. */
class ParquetSinkSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  private def rows(df: DataFrame): Seq[(Long, String)] =
    df.select("id", "v").as[(Long, String)].collect().toSeq.sorted

  private val crash: () => Unit = () => throw new IllegalStateException("crash")

  test("a swap that stops after the live copy is renamed aside leaves the previous version") {
    val path = Files.createTempDirectory("swap").toString + "/t"
    val v1 = Seq((1L, "a"), (2L, "b"))
    ParquetSink.swapWrite(spark, path, v1.toDF("id", "v"))
    intercept[IllegalStateException](ParquetSink.swapWrite(spark, path,
      Seq((3L, "c")).toDF("id", "v"), crash))
    assert(ParquetSink.exists(path))
    assert(rows(ParquetSink.read(spark, path).get) === v1)
    // the next merge commits over the recovered version
    ParquetSink.merge(spark, path, Seq((2L, "B"), (4L, "d")).toDF("id", "v"), Seq("id"),
      Some(Seq(1L).toDF("id")))
    assert(rows(spark.read.parquet(path)) === Seq((2L, "B"), (4L, "d")))
    assert(!Files.exists(Paths.get(path + ".old")))
    assert(!Files.exists(Paths.get(path + ".staging")))
  }

  test("an index over a token base whose swap stopped mid-way reads the previous base") {
    val base = Files.createTempDirectory("swap-base").toString + "/tb"
    val docs = Seq((1L, "spark filter join"), (2L, "parquet data rows"))
    IncrementalIndex.syncTokenBase(spark, base, docs.toDF("doc_id", "text"), "doc_id", "text")
    val next = Seq((3L, "zanzibar tables")).toDF("doc_id", "text")
    intercept[IllegalStateException](ParquetSink.swapWrite(spark, base,
      graft.operators.Search.tokenBase(next, "doc_id", "text"), crash))
    val ix = IncrementalIndex.index(spark, base, "doc_id")
    assert(ix.dls.select("doc_id").as[Long].collect().toSet === Set(1L, 2L))
  }
}
