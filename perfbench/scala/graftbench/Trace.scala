package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable.ArrayBuffer

/** Epoch-based clock with nanosecond resolution: benchmark spans and
  * Spark's listener events (epoch milliseconds) share one time line. */
object Clock {
  private val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowNs: Long = offsetNs + System.nanoTime()
}

/** The machine's CPU time so far, in clock ticks summed over its CPUs
  * (the first line of `/proc/stat`): `run` is time spent running
  * (user, nice, system, irq, softirq), `steal` time a virtual CPU was
  * ready to run but the host ran something else. Zeros where there is
  * no `/proc/stat`. */
object HostCpu {
  final case class Ticks(run: Long, steal: Long)

  def now: Ticks = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/stat")
    val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
    Ticks(f(0) + f(1) + f(2) + f(5) + f(6), if (f.length > 7) f(7) else 0L)
  }.getOrElse(Ticks(0L, 0L))
}

/** A benchmark call into one layer: `kind` names the call (ctx, build,
  * action, request), `name` the entry or route, `cls` the module or
  * request class it is attributed to; `cpu0` and `cpu1` are the
  * machine's CPU ticks at its start and end. */
final case class Span(kind: String, name: String, cls: String, pass: String,
                      startNs: Long, endNs: Long, cpu0: HostCpu.Ticks, cpu1: HostCpu.Ticks) {
  def seconds: Double = (endNs - startNs) / 1e9
  def toJson: Map[String, Any] = Map("kind" -> kind, "name" -> name,
    "cls" -> cls, "pass" -> pass, "start_ns" -> startNs, "end_ns" -> endNs,
    "run_ticks" -> (cpu1.run - cpu0.run), "steal_ticks" -> (cpu1.steal - cpu0.steal))
}

/** Records what Spark reports on its public listener buses while
  * registered: jobs, stages with their task metrics, per-action
  * Catalyst phases and plan shape, and streaming progress. Nothing is
  * attributed here; each record carries its epoch time and the
  * report joins records to the spans whose window contains them (one
  * caller, so windows never overlap). Everything stays in memory until
  * [[toJson]]. */
final class Trace(spark: SparkSession, eavRoot: String) {
  private val jobs = ArrayBuffer[Map[String, Any]]()
  private val jobStart = scala.collection.mutable.Map[Int, Long]()
  private val stages = ArrayBuffer[Map[String, Any]]()
  private val queries = ArrayBuffer[Map[String, Any]]()
  private val progress = ArrayBuffer[Map[String, Any]]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobStart(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs += Map("id" -> e.jobId, "start_ms" -> jobStart.getOrElse(e.jobId, e.time),
        "end_ms" -> e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      val m = i.taskMetrics
      stages += Map("id" -> i.stageId,
        "start_ms" -> i.submissionTime.getOrElse(0L),
        "end_ms" -> i.completionTime.getOrElse(0L),
        "tasks" -> i.numTasks,
        "task_ms" -> (if (m == null) 0L else m.executorRunTime),
        "shuffle_write" -> (if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten),
        "shuffle_read" -> (if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead),
        "spill" -> (if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }

  private val queryListener = new QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)

    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      def phaseMs(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
      val at = phases.values.map(_.startTimeMs).filter(_ > 0).minOption
        .getOrElse(System.currentTimeMillis())
      val plan: SparkPlan = qe.executedPlan
      val nodes = collectWithSubqueries(plan) { case p => p }
      val eavScans = nodes.collect { case s: FileSourceScanExec
        if s.relation.location.rootPaths.exists(_.toString.contains(eavRoot)) => s }
      def metric(p: SparkPlan, k: String) = p.metrics.get(k).map(_.value).getOrElse(0L)
      val q = Map("at_ms" -> at,
        "analysis_ms" -> phaseMs("analysis"),
        "optimization_ms" -> phaseMs("optimization"),
        "planning_ms" -> phaseMs("planning"),
        "plan_nodes" -> nodes.size,
        "exchanges" -> nodes.count {
          case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
          case _ => false
        },
        "rows_out" -> nodes.map(metric(_, "numOutputRows")).sum,
        "eav_scan_bytes" -> eavScans.map(metric(_, "filesSize")).sum,
        "eav_scan_files" -> eavScans.map(metric(_, "numFiles")).sum,
        "eav_scan_partitions" -> eavScans.map(metric(_, "numPartitions")).sum)
      Trace.this.synchronized { queries += q }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      val at = scala.util.Try(java.time.Instant.parse(p.timestamp).toEpochMilli)
        .getOrElse(System.currentTimeMillis())
      val r = Map("at_ms" -> at, "batch_ms" -> d("triggerExecution"),
        "commit_ms" -> (d("walCommit") + d("commitOffsets")),
        "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
        "input_rows" -> p.numInputRows)
      Trace.this.synchronized { progress += r }
    }
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  /** Unregister, after the listener buses have delivered what was
    * posted: events arrive asynchronously, so wait until a quiet
    * interval passes with no new record. */
  def stop(): Unit = {
    def size = synchronized(jobs.size + stages.size + queries.size + progress.size)
    var last = -1
    while (size != last) { last = size; Thread.sleep(300) }
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  def toJson: Map[String, Any] = synchronized {
    Map("jobs" -> jobs.toList, "stages" -> stages.toList,
      "queries" -> queries.toList, "streaming" -> progress.toList)
  }
}
