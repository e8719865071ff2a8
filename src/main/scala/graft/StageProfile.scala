package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Per-query job/stage accounting main (guide §1.1/§7.1 with the UI
  * disabled): runs each named query 3× warm, then once more with a
  * listener attached, and prints jobs / stages / tasks / summed task
  * time / shuffle bytes next to the wall time — separating scheduling
  * overhead (wall ≫ taskTime/cores) from genuine compute (taskTime
  * ≈ wall × cores). The local feedback loop for deciding whether a
  * cell needs FEWER STAGES or CHEAPER WORK.
  *
  * Task-time skew is the max/median task duration of each stage with
  * at least two tasks: `skew=` is the worst stage, and the `STAGE`
  * lines under a query list every stage's tasks, median and max. */
object StageProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.benchQueries
    val spark = Sessions.local(cpus)
    spark.range(1000000).selectExpr("sum(id)").collect()
    if (sys.env.get("SPARK_GRAFT_PREP").forall(_ == "1"))
      SparkEntry.prepareArtifacts(spark, sfDir)
    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    @volatile var taskMs = 0L
    @volatile var gcMs = 0L
    @volatile var shufRead = 0L
    @volatile var shufWrite = 0L
    val durations = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = durations.synchronized {
        durations.getOrElseUpdate(t.stageId, mutable.ArrayBuffer.empty) += t.taskInfo.duration
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = ()
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        stages += 1
        tasks += sc.stageInfo.numTasks
        taskMs += sc.stageInfo.taskMetrics.executorRunTime
        gcMs += sc.stageInfo.taskMetrics.jvmGCTime
        shufRead += sc.stageInfo.taskMetrics.shuffleReadMetrics.totalBytesRead
        shufWrite += sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten
      }
    }
    val results = mutable.ArrayBuffer.empty[String]
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      (1 to 3).foreach(_ => fn(spark, sfDir).count()) // warm
      jobs = 0; stages = 0; tasks = 0; taskMs = 0L; gcMs = 0L
      shufRead = 0L; shufWrite = 0L
      durations.synchronized(durations.clear())
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      // drain listener bus so the counters are complete (the bus is
      // private; a short sleep after the action suffices locally)
      Thread.sleep(300)
      spark.sparkContext.removeSparkListener(listener)
      val perStage = durations.synchronized(durations.toSeq.sortBy(_._1)
        .map { case (id, d) => (id, d.sorted.toIndexedSeq) })
      def median(d: IndexedSeq[Long]): Double =
        if (d.size % 2 == 1) d(d.size / 2).toDouble
        else (d(d.size / 2 - 1) + d(d.size / 2)) / 2.0
      val skew = perStage.collect { case (_, d) if d.size >= 2 =>
        d.last / math.max(median(d), 1.0) }.maxOption.getOrElse(1.0)
      results += f"$n%-30s wall=$wall%6.3f jobs=$jobs%2d stages=$stages%3d tasks=$tasks%4d taskSec=${taskMs / 1e3}%8.2f gcSec=${gcMs / 1e3}%5.2f shufR=${shufRead / 1024}%8dKiB shufW=${shufWrite / 1024}%8dKiB skew=$skew%5.2f"
      println("PROF " + results.last)
      perStage.foreach { case (id, d) =>
        println(f"STAGE $n%-30s stage=$id%4d tasks=${d.size}%4d medianMs=${median(d)}%8.1f maxMs=${d.last}%6d") }
    }
    println("==== summary ====")
    results.foreach(r => println("PROF " + r))
    spark.stop()
  }
}
