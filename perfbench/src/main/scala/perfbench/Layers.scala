package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowGroupLimitExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark's own counters for one traced pass: planning phases from each
  * action's `QueryExecution.tracker`, scheduling and task metrics from
  * the scheduler events, the final physical plan's shape, cached block
  * residency, and micro-batch progress. Every handler runs on the
  * listener bus thread, and the totals are read only after the bus has
  * drained.
  *
  * A traced run registers one instance before any table is read or
  * stream started, because sessions cloned later (a streaming query
  * runs its batches in one) copy the listeners present at that point;
  * it counts only while `on` is set, that is, during traced passes. */
final class Layers extends SparkListener with QueryExecutionListener {
  @volatile var on = false
  private val sums = mutable.LinkedHashMap[String, Double]()
  private def add(k: String, v: Double): Unit =
    if (on) sums(k) = sums.getOrElse(k, 0.0) + v
  private def max(k: String, v: Double): Unit =
    if (on) sums(k) = math.max(sums.getOrElse(k, 0.0), v)

  private val stageSubmit = mutable.Map[(Int, Int), Long]()
  private val stageTaskMs = mutable.Map[(Int, Int), mutable.ArrayBuffer[Long]]()
  private val cached = mutable.Map[String, Long]()
  private var cachedBytes = 0L

  private val MB = 1024.0 * 1024.0

  /** The totals recorded so far, in the units of the metric names. */
  def snapshot(): Map[String, Double] = synchronized(sums.toMap)

  /** Starts counting from zero; the cache peak starts at what is
    * cached now. */
  def reset(): Unit = synchronized {
    sums.clear()
    max("caches.peak_mb", cachedBytes / MB)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (on) synchronized {
      val phases = qe.tracker.phases
      def phase(p: String) = phases.get(p).map(_.durationMs / 1000.0).getOrElse(0.0)
      add("plan.analysis_s", phase("parsing") + phase("analysis"))
      add("plan.optimizer_s", phase("optimization"))
      add("plan.physical_s", phase("planning"))
      shape(qe.executedPlan)
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  private def shape(root: SparkPlan): Unit = {
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case _: ReusedExchangeExec => add("shape.nodes", 1)
      case _ =>
        add("shape.nodes", 1)
        p match {
          case _: ShuffleExchangeLike => add("shape.exchanges", 1)
          case _: BroadcastExchangeLike => add("shape.broadcasts", 1)
          case _: SortExec => add("shape.sorts", 1)
          case _: SortMergeJoinExec => add("shape.smj", 1)
          case _: BroadcastHashJoinExec => add("shape.bhj", 1)
          case _: WindowGroupLimitExec => add("shape.window_group_limits", 1)
          case _ =>
        }
        p.metrics.get("numTasksFallBacked").foreach(m =>
          add("shape.sort_agg_fallback_tasks", m.value.toDouble))
        p.children.foreach(walk)
        p.subqueries.foreach(walk)
    }
    walk(root)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized(add("sched.jobs", 1))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    stageSubmit((i.stageId, i.attemptNumber())) =
      i.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val key = (e.stageInfo.stageId, e.stageInfo.attemptNumber())
    add("sched.stages", 1)
    // skew: the slowest task against the median task of the stage,
    // over stages with enough tasks for a median to mean something
    stageTaskMs.remove(key).foreach { ts =>
      if (ts.size >= 4) {
        val sorted = ts.sorted
        val med = math.max(sorted(sorted.size / 2), 1L)
        max("skew.task_max_over_median", sorted.last.toDouble / med)
      }
    }
    stageSubmit.remove(key)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    add("sched.tasks", 1)
    val key = (e.stageId, e.stageAttemptId)
    stageSubmit.get(key).foreach(t0 =>
      add("sched.delay_s", math.max(0L, e.taskInfo.launchTime - t0) / 1000.0))
    val m = e.taskMetrics
    if (m != null) {
      stageTaskMs.getOrElseUpdate(key, mutable.ArrayBuffer()) += m.executorRunTime
      add("exec.run_s", m.executorRunTime / 1000.0)
      add("exec.cpu_s", m.executorCpuTime / 1e9)
      add("exec.gc_s", m.jvmGCTime / 1000.0)
      max("exec.peak_mem_mb", m.peakExecutionMemory / MB)
      add("shuffle.write_mb", m.shuffleWriteMetrics.bytesWritten / MB)
      add("shuffle.records", m.shuffleWriteMetrics.recordsWritten.toDouble)
      add("shuffle.write_s", m.shuffleWriteMetrics.writeTime / 1e9)
      add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1000.0)
      add("spill.mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / MB)
      add("scan.read_mb", m.inputMetrics.bytesRead / MB)
      add("scan.records", m.inputMetrics.recordsRead.toDouble)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val id = info.blockId.name
      cachedBytes -= cached.remove(id).getOrElse(0L)
      if (info.storageLevel.isValid) {
        val size = info.memSize + info.diskSize
        cached(id) = size
        cachedBytes += size
      }
      max("caches.peak_mb", cachedBytes / MB)
    }
  }

  /** Micro-batch progress, registered with the session's stream manager. */
  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Layers.this.synchronized {
        val d = e.progress.durationMs
        def ms(k: String) = Option(d.get(k)).map(_.longValue / 1000.0).getOrElse(0.0)
        add("streaming.trigger_s", ms("triggerExecution"))
        add("streaming.add_batch_s", ms("addBatch"))
        add("streaming.wal_commit_s", ms("walCommit"))
        add("streaming.planning_s", ms("queryPlanning"))
      }
  }
}
