package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** What one set-up of a workload shares with its measured phase. */
final class Ctx(val spark: SparkSession, val trace: Trace, val work: Path,
    val cores: Int, val seed: Long) {
  def span[T](name: String)(body: => T): T = trace.span(name)(body)
  def withTrace(t: Trace): Ctx = new Ctx(spark, t, work, cores, seed)
  def path(name: String): String = work.resolve(name).toString
}

final case class Check(name: String, ok: Boolean, detail: String)

/** Result of a measured phase. `units` is the input rows processed
  * (documents ingested, change rows committed); `latenciesMs` are the
  * timed user-facing operations (ingest passes, search reads) and
  * `freshnessMs` the times from arrival until searchable (the BM25
  * index of an ingest pass built, a change batch committed and its
  * index refreshed); `named` holds the workload's values under their
  * own names. */
final case class Measured(
    attempted: Long,
    failed: Long,
    units: Double,
    latenciesMs: Seq[Double],
    freshnessMs: Seq[Double],
    named: Map[String, Any],
    counters: Map[String, Double])

trait Workload {
  def name: String
  def clients: Int
  /** Inputs in memory, from the seed (untimed). */
  def inputs: Map[String, Any]
  def digest: String
  /** One timed set-up, repeated: load inputs, build what the measured
    * phase depends on and that changes under it, warm up on a separate
    * seed stream. Each repetition replaces the previous one's state. */
  def setup(ctx: Ctx): Unit
  /** Once per process, untimed, before the set-ups: JIT and
    * code-generation warm-up on a separate seed stream, and state that
    * a restarted service finds already on disk. */
  def warmup(ctx: Ctx): Unit
  def measure(ctx: Ctx, seconds: Double): Measured
  /** Untimed output checks, after the measured phase. */
  def check(ctx: Ctx): Seq[Check]
  /** The generator is deterministic: digest of a fresh generation. */
  def regenerateDigest(seed: Long): String
}

object Main {

  val SetupReps = 3

  /** End-to-end metrics, as declared in BENCHMARK.json. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "latency_ms" -> "ms", "freshness_ms" -> "ms",
    "cpu_ms_per_row" -> "ms", "live_heap_mb" -> "MB")

  val LayerSpans: Seq[String] = Seq(
    "dataflow.import",
    "artifacts.tokens", "artifacts.bm25", "artifacts.shingles", "artifacts.fingerprints",
    "dedup.exact", "dedup.minhash_lsh", "dedup.jaccard",
    "chunk.two_tier", "embed.stub", "ivf.build", "sinks.export",
    "search.bm25", "search.vector_topk", "search.ivf", "search.rrf", "search.rerank",
    "incremental.diff", "incremental.apply", "index.sync_token_base", "index.rebuild")

  val Counters: Seq[(String, String)] = Seq(
    "artifacts.cached_mb" -> "MB",
    "dedup.exact.groups" -> "count", "dedup.lsh.candidates" -> "count",
    "dedup.lsh.precision" -> "ratio", "dedup.jaccard.copostings" -> "count",
    "dedup.jaccard.pairs" -> "count", "chunk.rows" -> "count",
    "sinks.export.rows" -> "count", "search.jobs_per_query" -> "count",
    "search.driver_ms_per_query" -> "ms", "search.ivf.scan_ratio" -> "ratio",
    "spark.job_floor_ms" -> "ms", "incremental.evaluate_ratio" -> "ratio",
    "incremental.deleted_rows" -> "count", "index.retokenized_rows" -> "count",
    "bench.trace_overhead_ratio" -> "ratio",
    "bench.span_coverage" -> "ratio", "ingest.single_core_s" -> "s",
    "spark.jobs" -> "count", "spark.task_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.shuffle_write_mb" -> "MB", "spark.spill_mb" -> "MB",
    "spark.skew_max" -> "ratio", "spark.task_retries" -> "count")

  def perLayer: Seq[(String, String)] =
    LayerSpans.flatMap(s => Seq(s"$s.calls" -> "count", s"$s.self_ms" -> "ms",
      s"$s.jobs" -> "count")) ++ Counters

  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, cores: Int, work: Path, out: Option[Path])

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1",
      m.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors()),
      Paths.get(m("work")), m.get("record").map(Paths.get(_)))
  }

  def session(cores: Int, work: Path): SparkSession = {
    val s = graft.Sessions.localBuilder(cores)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Persist and count: the Spark work lands where this is called. */
  def forceCount(df: DataFrame): (DataFrame, Long) = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    (p, p.count())
  }

  def force(df: DataFrame): DataFrame = forceCount(df)._1

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))

  /** Progress line on standard error. */
  def log(msg: String): Unit = System.err.println(
    f"perfbench ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%7.2f s: $msg")

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** Whether quantile `q` of `n` samples has at least ten beyond it. */
  def admissible(n: Int, q: Double): Boolean = n * (1 - q) >= 10

  def workload(name: String, seed: Long): Workload = name match {
    case "ingest" => new Ingest(seed)
    case "churn" => new Churn(seed)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    Files.createDirectories(o.work)
    val wl = workload(o.workload, o.seed)
    val checks = mutable.ArrayBuffer[Check]()

    // generator self-test: same seed, same digest; another seed, another
    val again = wl.regenerateDigest(o.seed)
    val other = wl.regenerateDigest(o.seed + 1)
    checks += Check("generator.same_seed_same_digest", again == wl.digest, again)
    checks += Check("generator.other_seed_other_digest", other != wl.digest, other)
    log("generator checked")

    // session start and warm-up once, then the set-up several times
    val stateDir = o.work.resolve("state")
    Files.createDirectories(stateDir)
    val spark = session(o.cores, o.work)
    val sc = spark.sparkContext
    val ctx = new Ctx(spark, new Trace(false, sc), stateDir, o.cores, o.seed)
    log("session started")
    wl.warmup(ctx)
    log("warmed up")
    val setupTimes = (1 to (if (o.trace) 1 else SetupReps)).map { rep =>
      val t0 = System.nanoTime()
      wl.setup(ctx)
      val t = (System.nanoTime() - t0) / 1e9
      log(f"set-up $rep took $t%.2f s")
      t
    }

    val liveAfterSetup = Host.liveHeapMb
    val hostBefore = Host.snapshot()
    val cpu0 = Host.cpuNanos
    log("measuring")
    val m = wl.measure(ctx, o.seconds)
    val cpu1 = Host.cpuNanos
    val hostAfter = Host.snapshot()
    val liveHeap = math.max(liveAfterSetup, Host.liveHeapMb)

    // traced run: the same measured phase again with spans on
    val traced: Option[(Measured, Trace, JobCounters)] =
      if (!o.trace) None
      else {
        val counters = new JobCounters
        sc.addSparkListener(counters)
        val tr = new Trace(true, sc)
        val tm = wl.measure(ctx.withTrace(tr), o.seconds)
        counters.drain(sc)
        sc.removeSparkListener(counters)
        Some((tm, tr, counters))
      }

    log("checking")
    checks ++= wl.check(ctx)
    log("checked")
    val jobFloor = if (o.trace) {
      sc.setLocalProperty(Trace.Key, null)
      val ts = (1 to 30).map { _ =>
        val t = System.nanoTime(); sc.parallelize(Seq(1), 1).count(); (System.nanoTime() - t) / 1e6
      }
      median(ts.drop(5))
    } else 0.0
    val rss = Host.peakRssMb
    spark.stop()

    val singleCore =
      if (o.trace && wl.name == "ingest") {
        graft.operators.CorpusArtifacts.reset()
        val one = session(1, o.work)
        val dir = o.work.resolve("single")
        deleteTree(dir); Files.createDirectories(dir)
        val t = System.nanoTime()
        wl.asInstanceOf[Ingest].singlePass(new Ctx(one, new Trace(false, one.sparkContext),
          dir, 1, o.seed))
        val s = (System.nanoTime() - t) / 1e9
        one.stop()
        s
      } else 0.0

    val failedChecks = checks.count(!_.ok)
    val attempted = m.attempted + checks.size
    val failed = m.failed + failedChecks
    val cpuMsPerRow = (cpu1 - cpu0) / 1e6 / math.max(m.units, 1.0)

    val e2e = Map(
      "setup_s" -> median(setupTimes.toSeq),
      "latency_ms" -> median(m.latenciesMs),
      "freshness_ms" -> median(m.freshnessMs),
      "cpu_ms_per_row" -> cpuMsPerRow,
      "live_heap_mb" -> liveHeap)

    val layer: Map[String, Double] = traced.map { case (tm, tr, counters) =>
      layerMetrics(m, tm, tr, counters, jobFloor, singleCore)
    }.getOrElse(Map.empty)

    val samples = m.latenciesMs.size
    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> wl.name, "seed" -> o.seed, "seconds" -> o.seconds,
      "trace" -> o.trace, "input_digest" -> wl.digest, "inputs" -> wl.inputs,
      "setup_s_reps" -> setupTimes.toSeq,
      "latency_samples" -> samples,
      "freshness_samples" -> m.freshnessMs.size,
      "latency_p75_ms" -> (if (admissible(samples, 0.75)) quantile(m.latenciesMs, 0.75) else null),
      "latency_p95_ms" -> (if (admissible(samples, 0.95)) quantile(m.latenciesMs, 0.95) else null),
      "cpu_s" -> (cpu1 - cpu0) / 1e9,
      "peak_rss_mb" -> rss,
      "failed_ratio" -> failed.toDouble / attempted,
      "named" -> m.named,
      "end_to_end" -> e2e,
      "host" -> Host.noise(hostBefore, hostAfter, o.cores, wl.clients),
      "checks" -> checks.map(c => Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
      "per_layer" -> layer)
    val recordJson = Json(record)
    o.out.foreach { p =>
      Files.createDirectories(p.getParent)
      Files.write(p, recordJson.getBytes("UTF-8"))
    }
    if (traced.isDefined) {
      val spansPath = o.work.getParent.resolve(s"spans-${wl.name}-${o.seed}.jsonl")
      val lines = traced.get._2.spans.map(s => Json(Map("run" -> s"${wl.name}-${o.seed}",
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "thread" -> s.thread,
        "start_ns" -> s.start, "end_ns" -> s.end)))
      Files.write(spansPath, lines.mkString("\n").getBytes("UTF-8"))
    }
    checks.filterNot(_.ok).foreach(c => System.err.println(s"CHECK FAILED ${c.name}: ${c.detail}"))
    println("perfbench-record " + recordJson)

    val metrics: Seq[(String, String, Double)] =
      if (o.trace) perLayer.map { case (n, u) => (n, u, layer.getOrElse(n, 0.0)) }
      else EndToEnd.map { case (n, u) => (n, u, e2e(n)) }
    val result = mutable.LinkedHashMap[String, Any](
      "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> mutable.LinkedHashMap(metrics.map { case (n, u, v) =>
        n -> mutable.LinkedHashMap("value" -> v, "unit" -> u) }: _*))
    println(Json(result))
    System.out.flush()
  }

  private def layerMetrics(untraced: Measured, tm: Measured, tr: Trace,
      counters: JobCounters, jobFloor: Double, singleCore: Double): Map[String, Double] = {
    val spans = tr.spans
    val self = Trace.selfNanos(spans)
    val out = mutable.LinkedHashMap[String, Double]()
    LayerSpans.foreach { n =>
      val ss = spans.filter(_.name == n)
      out(s"$n.calls") = ss.size
      out(s"$n.self_ms") = ss.map(s => self(s.id)).sum / 1e6
      out(s"$n.jobs") = ss.map(s => counters.forSpan(s.id).map(_.jobs).getOrElse(0L)).sum
    }
    // layer spans directly under an operation span (ingest.pass,
    // churn.apply, churn.probe, search.query) against those operations
    val roots = spans.filter(_.parent == 0)
    val rootIds = roots.map(_.id).toSet
    val rootTime = roots.map(s => s.end - s.start).sum.toDouble
    val layerTime = spans.filter(s => rootIds(s.parent)).map(s => s.end - s.start).sum.toDouble
    out("bench.span_coverage") = if (rootTime > 0) layerTime / rootTime else 0.0
    val base = median(untraced.latenciesMs)
    out("bench.trace_overhead_ratio") =
      if (base > 0) median(tm.latenciesMs) / base - 1.0 else 0.0
    out("spark.job_floor_ms") = jobFloor
    out("ingest.single_core_s") = singleCore
    val all = counters.all
    out("spark.jobs") = all.map(_.jobs).sum.toDouble
    out("spark.task_cpu_s") = all.map(_.taskCpuNanos).sum / 1e9
    out("spark.gc_s") = all.map(_.gcMs).sum / 1e3
    out("spark.shuffle_write_mb") = all.map(_.shuffleWriteBytes).sum / 1048576.0
    out("spark.spill_mb") = all.map(_.spillBytes).sum / 1048576.0
    out("spark.skew_max") = counters.skewMax
    out("spark.task_retries") = all.map(_.taskRetries).sum.toDouble
    // query-level job counts and driver time (search and churn reads)
    val queryRoots = roots.filter(_.name == "search.query")
    if (queryRoots.nonEmpty) {
      val kids = spans.groupBy(_.parent)
      def desc(id: Long): Seq[Span] = kids.getOrElse(id, Nil).flatMap(c => c +: desc(c.id))
      val perQuery = queryRoots.map { r =>
        val ids = r.id +: desc(r.id).map(_.id)
        (ids.flatMap(counters.forSpan).map(_.jobs).sum,
          (r.end - r.start) - counters.jobUnionNanos(ids))
      }
      out("search.jobs_per_query") = perQuery.map(_._1).sum.toDouble / perQuery.size
      out("search.driver_ms_per_query") = perQuery.map(_._2).sum / 1e6 / perQuery.size
    }
    tm.counters.foreach { case (k, v) => out(k) = v }
    out.toMap
  }
}
