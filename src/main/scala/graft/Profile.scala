package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.ExplainMode

/** The diagnostic main: `graft.Profile [--explain] [names…]` over the
  * registered queries (default: the bench set), at
  * `SPARK_GRAFT_SF_DIR` on `SPARK_GRAFT_CPUS` cores.
  *
  * Each query runs three times warm (`PROFILE name t1 t2 t3`, wall
  * seconds: one-time cost such as artifact builds and codegen shows in
  * t1 only), then once more under a listener. The `PROF` line gives
  * that run's wall, jobs, stages, tasks, summed task time, GC, shuffle
  * read/write, and the worst stage's max/median task time (`skew`, over
  * stages of at least two tasks), and the generated classes the run
  * compiled (`compiles`, `compile_ms`: Spark's JVM-wide codegen
  * counters, read before and after, so they add no job; a warm query
  * whose classes stay in the class cache compiles 0); a `STAGE` line
  * per stage lists its tasks, median and max. Wall ≫ taskSec/cores
  * means scheduling overhead (fewer stages help); taskSec ≈ wall ×
  * cores means compute.
  *
  * `--explain` instead prints each query's formatted physical plan
  * after one warm run, so a persisted artifact that a warm bench cell
  * reads shows as an InMemoryTableScan, not as its build subtree. */
object Profile {
  def main(args: Array[String]): Unit = {
    val (flags, names) = args.toSeq.partition(_.startsWith("--"))
    require(flags.forall(_ == "--explain"), s"unknown option: ${flags.mkString(" ")}")
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.range(1000000).selectExpr("sum(id)").collect()
    try run(spark, sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
        if (names.nonEmpty) names else SparkEntry.benchQueries, flags.nonEmpty)
      .foreach(println)
    finally spark.stop()
  }

  /** The output lines of one run; every name is checked before any
    * query runs. */
  def run(spark: SparkSession, sfDir: String, names: Seq[String],
      explain: Boolean): Seq[String] = {
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown query: ${unknown.mkString(", ")}")
    names.flatMap { n =>
      val q = () => SparkEntry.queries(n)(spark, sfDir)
      if (explain) {
        q().count()
        Seq(s"========== $n ==========",
          q().queryExecution.explainString(ExplainMode.fromString("formatted")))
      } else {
        val times = (1 to 3).map { _ =>
          val t0 = System.nanoTime()
          q().count()
          (System.nanoTime() - t0) / 1e9
        }
        f"PROFILE $n%-24s ${times.map(t => f"$t%.2f").mkString(" ")}" +:
          listened(spark.sparkContext, n)(q().count())
      }
    }
  }

  private val Group = "graft.profile"
  private val Marker = "graft.profile.marker"

  /** Runs `body` with its jobs in job group [[Group]] under a
    * [[Counters]] listener, drains the listener bus and formats the
    * counters. */
  private def listened(sc: SparkContext, n: String)(body: => Unit): Seq[String] = {
    def inGroup(g: String)(f: => Unit): Unit = {
      sc.setJobGroup(g, n)
      try f finally sc.clearJobGroup()
    }
    val c = new Counters
    sc.addSparkListener(c)
    try {
      val (compiles0, compileNs0) = compiled
      val t0 = System.nanoTime()
      inGroup(Group)(body)
      val wall = (System.nanoTime() - t0) / 1e9
      val (compiles1, compileNs1) = compiled
      // the bus delivers events in order: once the marker job's end
      // reaches the listener, so has every event of the run before it
      inGroup(Marker)(sc.parallelize(Seq(1), 1).count())
      require(c.markerEnd.await(10, TimeUnit.SECONDS),
        s"$n: the listener bus did not drain in 10 s")
      c.lines(n, wall, compiles1 - compiles0, (compileNs1 - compileNs0) / 1e6)
    } finally sc.removeSparkListener(c)
  }

  /** Classes compiled in this JVM so far, and their compile time in
    * ns: both are updated by each miss of Spark's class cache, on the
    * driver and in local-mode tasks alike. */
  private def compiled: (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)

  /** Job, stage and task counters over the jobs of job group
    * [[Group]]; the end of a [[Marker]] job opens `markerEnd`. */
  private final class Counters extends SparkListener {
    val markerEnd = new CountDownLatch(1)
    private val stageIds = mutable.Set.empty[Int]
    private val markerJobs = mutable.Set.empty[Int]
    private var jobs, stages, tasks = 0
    private var taskMs, gcMs, shufRead, shufWrite = 0L
    private val durations = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
        case Group => jobs += 1; stageIds ++= e.stageIds
        case Marker => markerJobs += e.jobId
        case _ =>
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      if (markerJobs.contains(e.jobId)) markerEnd.countDown()
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
      if (stageIds.contains(t.stageId))
        durations.getOrElseUpdate(t.stageId, mutable.ArrayBuffer.empty) += t.taskInfo.duration
    }
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = synchronized {
      val s = sc.stageInfo
      if (stageIds.contains(s.stageId)) {
        stages += 1
        tasks += s.numTasks
        taskMs += s.taskMetrics.executorRunTime
        gcMs += s.taskMetrics.jvmGCTime
        shufRead += s.taskMetrics.shuffleReadMetrics.totalBytesRead
        shufWrite += s.taskMetrics.shuffleWriteMetrics.bytesWritten
      }
    }

    private def median(d: IndexedSeq[Long]): Double =
      if (d.size % 2 == 1) d(d.size / 2).toDouble
      else (d(d.size / 2 - 1) + d(d.size / 2)) / 2.0

    def lines(n: String, wall: Double, compiles: Long,
        compileMs: Double): Seq[String] = synchronized {
      val perStage = durations.toSeq.sortBy(_._1).map { case (id, d) => (id, d.sorted.toIndexedSeq) }
      val skew = perStage.collect { case (_, d) if d.size >= 2 =>
        d.last / math.max(median(d), 1.0) }.maxOption.getOrElse(1.0)
      f"PROF $n%-30s wall=$wall%6.3f jobs=$jobs%2d stages=$stages%3d tasks=$tasks%4d taskSec=${taskMs / 1e3}%8.2f gcSec=${gcMs / 1e3}%5.2f shufR=${shufRead / 1024}%8dKiB shufW=${shufWrite / 1024}%8dKiB skew=$skew%5.2f compiles=$compiles%3d compile_ms=$compileMs%7.1f" +:
        perStage.map { case (id, d) =>
          f"STAGE $n%-30s stage=$id%4d tasks=${d.size}%4d medianMs=${median(d)}%8.1f maxMs=${d.last}%6d" }
    }
  }
}
