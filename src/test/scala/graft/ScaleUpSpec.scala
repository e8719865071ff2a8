package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The hot-key variant of the scale-up corpus. */
class ScaleUpSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  test("withHotLine prefixes the boilerplate line to about hotShare of the documents, by id") {
    val docs = (1L to 4000L).map(i => (i, s"alpha beta gamma $i", "en", "src", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val hot = ScaleUp.withHotLine(docs, 0.2).cache()
    assert(hot.columns.toSeq === docs.columns.toSeq)
    val marked = hot.where(col("text").startsWith(ScaleUp.HotLine + " "))
    val share = marked.count() / 4000.0
    assert(share > 0.17 && share < 0.23, s"share $share")
    // the choice depends on the id alone, and n_chars follows the text
    assert(ScaleUp.withHotLine(docs, 0.2).where(col("text").startsWith(ScaleUp.HotLine))
      .select("doc_id").as[Long].collect().toSet ===
      marked.select("doc_id").as[Long].collect().toSet)
    assert(hot.where(col("n_chars") =!= length(col("text"))).count() === 0)
    assert(ScaleUp.withHotLine(docs, 0.0).collect().toSeq === docs.collect().toSeq)
    hot.unpersist()
  }
}
