package graft.perfbench

import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark's own metrics, read through listeners the harness registers
  * itself. Events count only while the probe is measuring; `start` and
  * `stop` drain the listener bus first, so work queued before the
  * timed window never leaks into it and work inside it is all counted. */
final class SparkProbe(spark: SparkSession) {
  private val measuring = new AtomicBoolean(false)
  private def on = measuring.get()

  val jobs, stages, tasks = new AtomicLong
  private val ms = mutable.Map[String, Long]().withDefaultValue(0L)
  private val ns = mutable.Map[String, Long]().withDefaultValue(0L)
  private val bytes = mutable.Map[String, Long]().withDefaultValue(0L)
  private var peakExecMemory = 0L
  private var planningMs = 0L
  private val opTimersNs = mutable.Map[String, Long]().withDefaultValue(0L)

  private val taskListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (on) jobs.incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (on) stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (on && e.taskMetrics != null) SparkProbe.this.synchronized {
        tasks.incrementAndGet()
        val m = e.taskMetrics
        val info = e.taskInfo
        ms("run") += m.executorRunTime
        ns("cpu") += m.executorCpuTime
        ms("gc") += m.jvmGCTime
        ms("fetch_wait") += m.shuffleReadMetrics.fetchWaitTime
        val gettingResult =
          if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L
        ms("scheduler_delay") += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
        bytes("input") += m.inputMetrics.bytesRead
        bytes("shuffle_write") += m.shuffleWriteMetrics.bytesWritten
        bytes("shuffle_read") += m.shuffleReadMetrics.totalBytesRead
        bytes("spill") += m.memoryBytesSpilled + m.diskBytesSpilled
        peakExecMemory = math.max(peakExecMemory, m.peakExecutionMemory)
      }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (on) SparkProbe.this.synchronized {
        planningMs += Seq("analysis", "optimization", "planning")
          .flatMap(p => qe.tracker.phases.get(p)).map(_.durationMs).sum
        val seen = mutable.Set[Long]()
        SparkProbe.walk(qe.executedPlan) { p =>
          p.metrics.foreach { case (key, m) =>
            val scale = m.metricType match {
              case "timing" => 1000000L
              case "nsTiming" => 1L
              case _ => 0L
            }
            if (scale > 0 && seen.add(m.id))
              opTimersNs(s"${SparkProbe.nodeName(p)}.$key") += m.value * scale
          }
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(taskListener)
    spark.listenerManager.register(queryListener)
  }

  def start(): Unit = { ListenerDrain(spark); measuring.set(true) }
  def stop(): Unit = { ListenerDrain(spark); measuring.set(false) }

  /** The listener-side metrics for a window of `wallS` seconds. */
  def metrics(wallS: Double, cores: Int): Map[String, Double] = synchronized {
    val cpuS = ns("cpu") / 1e9
    Map(
      "spark.planning_s" -> planningMs / 1e3,
      "spark.jobs" -> jobs.get.toDouble,
      "spark.stages" -> stages.get.toDouble,
      "spark.tasks" -> tasks.get.toDouble,
      "spark.scheduler_delay_s" -> ms("scheduler_delay") / 1e3,
      "spark.executor_run_s" -> ms("run") / 1e3,
      "spark.executor_cpu_s" -> cpuS,
      "spark.gc_s" -> ms("gc") / 1e3,
      "spark.cpu_busy_share" -> cpuS / math.max(1e-9, wallS * cores),
      "spark.input_bytes" -> bytes("input").toDouble,
      "spark.shuffle_write_bytes" -> bytes("shuffle_write").toDouble,
      "spark.shuffle_read_bytes" -> bytes("shuffle_read").toDouble,
      "spark.shuffle_fetch_wait_s" -> ms("fetch_wait") / 1e3,
      "spark.spill_bytes" -> bytes("spill").toDouble,
      "spark.peak_exec_memory_bytes" -> peakExecMemory.toDouble)
  }

  /** Every SQL-metric timer seen, in seconds, keyed `<node>.<metric>`. */
  def opTimers: Map[String, Double] = synchronized(opTimersNs.map {
    case (k, v) => k -> v / 1e9
  }.toMap)
}

object SparkProbe {
  /** The SQL-metric timers reported as `spark.op.<node>.<metric>_s`: a
    * fixed list, so the metric set does not depend on which plans ran. */
  val OpTimers: Seq[String] = Seq(
    "WholeStageCodegen.pipelineTime", "HashAggregate.aggTime",
    "Sort.sortTime", "Exchange.shuffleWriteTime",
    "BroadcastExchange.buildTime", "BroadcastExchange.collectTime",
    "Scan.scanTime")

  /** Plan nodes with their AQE stages, reused exchanges and subqueries
    * descended into (each SQL metric is counted once by its id). */
  def walk(p: SparkPlan)(f: SparkPlan => Unit): Unit = {
    f(p)
    p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)(f)
      case s: QueryStageExec => walk(s.plan)(f)
      case r: ReusedExchangeExec => walk(r.child)(f)
      case other => other.children.foreach(c => walk(c)(f))
    }
    p.subqueries.foreach(sq => walk(sq)(f))
  }

  /** `WholeStageCodegen (3)` → `WholeStageCodegen`, `Scan parquet` →
    * `Scan`. */
  def nodeName(p: SparkPlan): String = {
    val n = p.nodeName.replaceAll(" \\(\\d+\\)$", "")
    if (n.startsWith("Scan ")) "Scan" else n.replace(' ', '_')
  }
}

/** Streaming progress of every query the workload starts. It is
  * registered in every run, traced or not: the late-row check reads
  * `lateRowsDropped` whichever kind of run it is. */
final class StreamProbe extends StreamingQueryListener {
  private var measuring = false
  private val durMs = mutable.Map[String, Long]().withDefaultValue(0L)
  private var triggers = 0L
  private var inputRows = 0L
  private var lateAll = 0L
  private var lateWindow = 0L
  private val lastState = mutable.Map[java.util.UUID, (Long, Long)]()
  private var stateCommitMs = 0L

  def setMeasuring(b: Boolean): Unit = synchronized { measuring = b }

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized {
      val p = e.progress
      val late = p.stateOperators.map(_.numRowsDroppedByWatermark).sum
      lateAll += late
      lastState(p.id) = (p.stateOperators.map(_.numRowsTotal).sum,
        p.stateOperators.map(_.memoryUsedBytes).sum)
      if (measuring) {
        lateWindow += late
        triggers += 1
        inputRows += p.numInputRows
        p.durationMs.asScala.foreach { case (k, v) => durMs(k) += v.longValue }
        stateCommitMs += p.stateOperators.map(_.commitTimeMs).sum
      }
    }

  def lateRowsDropped: Long = synchronized(lateAll)

  /** `runWallS`: the summed wall of the apps' `run` calls, of which the
    * part outside any trigger is query start and stop. */
  def metrics(runWallS: Double): Map[String, Double] = synchronized {
    Map(
      "streaming.latestOffset_ms" -> durMs("latestOffset").toDouble,
      "streaming.queryPlanning_ms" -> durMs("queryPlanning").toDouble,
      "streaming.addBatch_ms" -> durMs("addBatch").toDouble,
      "streaming.walCommit_ms" -> durMs("walCommit").toDouble,
      "streaming.commit_ms" -> durMs("commit").toDouble,
      "streaming.triggers" -> triggers.toDouble,
      "streaming.start_stop_s" ->
        math.max(0.0, runWallS - durMs("triggerExecution") / 1e3),
      "streaming.state_rows" -> lastState.values.map(_._1).sum.toDouble,
      "streaming.state_memory_bytes" -> lastState.values.map(_._2).sum.toDouble,
      "streaming.state_commit_ms" -> stateCommitMs.toDouble,
      "streaming.late_rows_dropped" -> lateWindow.toDouble,
      "sources.input_rows" -> inputRows.toDouble)
  }
}

/** Hadoop `FileSystem` statistics of the local file system: the bytes
  * every read and write the program makes through Hadoop moves,
  * executors included (they share the driver's JVM in local mode).
  * The local file system counts no operations, only bytes. */
object FsStats {
  final case class Snap(bytesRead: Long, bytesWritten: Long)

  @annotation.nowarn("cat=deprecation")
  def snap(): Snap = {
    val ss = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file")
    Snap(ss.map(_.getBytesRead).sum, ss.map(_.getBytesWritten).sum)
  }

  /** (files, bytes) under the given directories. */
  def live(dirs: Seq[String]): (Long, Long) = {
    var files = 0L; var bytes = 0L
    dirs.map(java.nio.file.Paths.get(_)).filter(java.nio.file.Files.exists(_))
      .foreach { d =>
        val s = java.nio.file.Files.walk(d)
        try s.iterator.asScala.filter(java.nio.file.Files.isRegularFile(_))
          .foreach { f => files += 1; bytes += java.nio.file.Files.size(f) }
        finally s.close()
      }
    (files, bytes)
  }
}

object ListenerDrain {
  def apply(spark: SparkSession): Unit =
    org.apache.spark.BenchListenerDrain(spark.sparkContext)
}
