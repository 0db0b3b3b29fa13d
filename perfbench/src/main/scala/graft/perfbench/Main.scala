package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** What one run of a workload hands back to [[Main]]. */
final case class Outcome(
    attempted: Long,
    failed: Long,
    checks: Seq[(String, Boolean, String)],
    e2e: Map[String, (Double, String)],
    workloadMetrics: Map[String, (Double, String)],
    samples: Map[String, Int],
    notes: Map[String, Any] = Map.empty)

/** Shared run state: the session, the seed, the tracer and probes, and
  * the measured window. A workload calls `begin()` right before its
  * first timed call and `end()` right after its last one. */
final class Ctx(val spark: SparkSession, val work: String,
                val seed: Long, val seconds: Double, val trace: Boolean,
                val cores: Int) {
  val runId: String = f"${System.currentTimeMillis()}%x-$seed"
  val tracer = new Tracer(runId, trace)
  val streams = new StreamProbe
  val probe: Option[SparkProbe] = if (trace) Some(new SparkProbe(spark)) else None

  /** Set-up phases: (name, seconds since the previous mark). */
  val phases = scala.collection.mutable.ArrayBuffer[(String, Double)]()
  private var lastMark = System.nanoTime()
  def mark(phase: String): Unit = {
    val now = System.nanoTime()
    phases += phase -> (now - lastMark) / 1e9
    lastMark = now
  }

  var firstCallEpochMs = 0L
  var windowStart = 0L
  var windowEnd = 0L
  private var fs0: FsStats.Snap = _
  private var fs1: FsStats.Snap = _

  /** Bytes of input the workload fed the program inside the window. */
  var inputBytes = 0L
  /** Directories holding the program's outputs and state. */
  var liveDirs: Seq[String] = Nil

  def begin(): Unit = {
    probe.foreach(_.start())
    streams.setMeasuring(true)
    fs0 = FsStats.snap()
    firstCallEpochMs = System.currentTimeMillis()
    windowStart = System.nanoTime()
  }

  def end(): Unit = {
    windowEnd = System.nanoTime()
    probe.foreach(_.stop())
    streams.setMeasuring(false)
    fs1 = FsStats.snap()
  }

  def elapsed: Double = (System.nanoTime() - windowStart) / 1e9
  def timeLeft: Boolean = elapsed < seconds
  def windowS: Double = (windowEnd - windowStart) / 1e9

  /** Layer metrics every workload reports in a traced run. */
  def layerMetrics(ops: Int): Map[String, Double] = {
    val p = probe.get
    val sp = p.metrics(windowS, cores)
    val timers = p.opTimers
    val ops1 = math.max(1, ops)
    val (files, bytes) = FsStats.live(liveDirs)
    val names = tracer.byName(windowStart, windowEnd)
    def total(name: String) = names.get(name).map(_._2).getOrElse(0.0)
    val (cover, unattributed) = tracer.coverage(windowStart, windowEnd)
    sp ++ SparkProbe.OpTimers.map(t => s"spark.op.${t}_s" -> timers.getOrElse(t, 0.0)) ++ Map(
      "spark.jobs_per_op" -> sp("spark.jobs") / ops1,
      "queries.build_s" -> total("queries.build"),
      "queries.execute_s" -> total("queries.execute"),
      "fs.bytes_written" -> (fs1.bytesWritten - fs0.bytesWritten).toDouble,
      "fs.bytes_read" -> (fs1.bytesRead - fs0.bytesRead).toDouble,
      "fs.files_live" -> files.toDouble,
      "fs.bytes_live" -> bytes.toDouble,
      "fs.write_amp" ->
        (fs1.bytesWritten - fs0.bytesWritten).toDouble / math.max(1L, inputBytes),
      "trace.span_coverage" -> cover,
      "trace.unattributed_share" -> unattributed)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.length
    if (n == 0) Double.NaN
    else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}

/** Entry point of one benchmark run in a fresh JVM:
  * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *  --work <dir> --cores <n>`.
  * Writes `<work>/result.json` and, traced, `<work>/spans.jsonl`. */
object Main {
  val Workloads: Map[String, Ctx => Outcome] = Map(
    "ods_stream" -> OdsStream.run,
    "hybrid_serving" -> HybridServing.run)

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = a("work")
    val cores = a("cores").toInt
    Files.createDirectories(Paths.get(work))
    val spark = GraftSession.builder("perfbench")
      .master(s"local[$cores]")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop-tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val ctx = new Ctx(spark, work, a("seed").toLong,
      a("seconds").toDouble, a("trace") == "1", cores)
    spark.streams.addListener(ctx.streams)
    ctx.probe.foreach(_.register())
    val name = a("workload")
    val out =
      try Workloads(name)(ctx)
      finally spark.stop()
    val checksS = (System.nanoTime() - ctx.windowEnd) / 1e9

    val setupS = (ctx.firstCallEpochMs - jvmStartMs) / 1e3
    val checksFailed = out.checks.count(!_._2)
    val metrics = mutable.LinkedHashMap[String, (Double, String)]()
    metrics("setup_s") = (setupS, "s")
    out.e2e.foreach { case (k, v) => metrics(k) = v }
    val failedShare = (out.failed + checksFailed).toDouble / math.max(1L, out.attempted)
    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> name, "seed" -> ctx.seed, "trace" -> ctx.trace,
      "run_id" -> ctx.runId, "nproc" -> cores,
      "shuffle_partitions" -> spark.conf.getOption("spark.sql.shuffle.partitions").orNull,
      "window_s" -> ctx.windowS,
      "after_window_s" -> checksS,
      "ops_failed_share" -> failedShare,
      "calls_attempted" -> out.attempted, "calls_failed" -> out.failed,
      "checks" -> out.checks.map { case (n, ok, why) =>
        Map("name" -> n, "ok" -> ok, "detail" -> why) },
      "samples" -> out.samples,
      "workload_metrics" -> out.workloadMetrics.map { case (k, (v, u)) =>
        k -> Map("value" -> v, "unit" -> u) })
    // the end-to-end values in every run's record, traced too, so the
    // tracing overhead is the difference of the two kinds of run
    record("end_to_end") = metrics.toMap.map { case (k, (v, u)) =>
      k -> Map("value" -> v, "unit" -> u) }
    record("setup_phases_s") = (ctx.phases :+ ("jvm_and_session" -> sessionS)).toMap
    out.notes.foreach { case (k, v) => record(k) = v }
    if (ctx.trace) {
      val ops = out.samples.values.sum
      ctx.layerMetrics(ops).foreach { case (k, v) => metrics(k) = (v, unitOf(k)) }
      record("spans") = ctx.tracer.byName().map { case (n, (c, t, s)) =>
        n -> Map("count" -> c, "total_s" -> t, "self_s" -> s) }
      record("op_timers_s") = ctx.probe.get.opTimers.toSeq.sortBy(-_._2).take(20).toMap
      ctx.tracer.write(s"$work/spans.jsonl", ctx.windowStart)
    }
    val json = Json.obj(
      "correct" -> (checksFailed == 0 && out.checks.nonEmpty),
      "attempted" -> math.max(1L, out.attempted + out.checks.size),
      "failed" -> (out.failed + checksFailed),
      "metrics" -> metrics.map { case (k, (v, u)) =>
        k -> Map("value" -> v, "unit" -> u) }.toMap,
      "record" -> record.toMap)
    Files.write(Paths.get(s"$work/result.json"), json.getBytes(StandardCharsets.UTF_8))
  }

  def unitOf(metric: String): String =
    if (metric.endsWith("_bytes") || metric.startsWith("fs.bytes")) "bytes"
    else if (metric.endsWith("_ms")) "ms"
    else if (metric.endsWith("_s")) "s"
    else if (metric.endsWith("_share") || metric.endsWith("_amp") || metric.endsWith("_coverage")) "ratio"
    else "count"
}
