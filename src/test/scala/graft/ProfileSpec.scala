package graft

import org.scalatest.funsuite.AnyFunSuite

/** graft.Profile: the listened run's counters are complete and
  * repeatable (the marker-job drain), the `--explain` mode reads the
  * persisted artifacts, and names are checked up front. */
class ProfileSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private val Counts = """jobs=\s*(\d+) stages=\s*(\d+) tasks=\s*(\d+)""".r.unanchored
  private val StageTasks = """stage=\s*\d+ tasks=\s*(\d+)""".r.unanchored

  test("two listened runs of a query report the same jobs, stages and " +
      "tasks, and tasks is the sum over the STAGE lines") {
    val q = "q17_jaccard_pairs"
    val runs = (1 to 2).map(_ => Profile.run(spark, dir, Seq(q), explain = false))
    runs.foreach { lines =>
      assert(lines.head.startsWith(s"PROFILE $q"), lines.head)
      assert(lines(1).startsWith(s"PROF $q"), lines(1))
    }
    val counts = runs.map(_(1) match {
      case Counts(j, s, t) => (j.toInt, s.toInt, t.toInt)
    })
    assert(counts(0) === counts(1))
    val (jobs, stages, tasks) = counts(0)
    assert(jobs >= 1 && stages >= 1, runs(0).mkString("\n"))
    runs.foreach { lines =>
      val stageLines = lines.filter(_.startsWith("STAGE "))
      assert(stageLines.size === stages, lines.mkString("\n"))
      assert(stageLines.map { case StageTasks(t) => t.toInt }.sum === tasks)
    }
  }

  test("a second listened run of a warm query compiles no class") {
    val q = "q09_bm25_tokens"
    val Compiled = """compiles=\s*(\d+) compile_ms=\s*([\d.]+)""".r.unanchored
    val runs = (1 to 2).map(_ => Profile.run(spark, dir, Seq(q), explain = false)(1))
    runs.foreach(l => assert(Compiled.matches(l), l))
    runs(1) match { case Compiled(c, ms) =>
      assert(c.toInt === 0, runs(1))
      assert(ms.toDouble === 0.0, runs(1))
    }
  }

  test("--explain shows the persisted BM25 index the warm q09 reads") {
    val lines = Profile.run(spark, dir, Seq("q09_bm25_tokens"), explain = true)
    assert(lines.head.contains("q09_bm25_tokens"))
    assert(lines.mkString("\n").contains("InMemoryTableScan"), lines.mkString("\n"))
  }

  test("an unknown query name fails before any query runs, naming it") {
    val e = intercept[IllegalArgumentException] {
      Profile.run(spark, dir, Seq("q15_dedup_exact", "q999_no_such"), explain = false)
    }
    assert(e.getMessage.contains("q999_no_such"))
  }
}
