package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, RowDataSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch milliseconds. `op` is the id of
  * the benchmark operation that caused it, or -1 when the span carries no
  * op tag (plan and trigger spans are attributed to ops by time, since the
  * client is a single closed loop).
  */
final case class Span(kind: String, name: String, id: String, parent: String,
                      op: Long, start: Double, end: Double,
                      attrs: Map[String, Double])

/** Listeners that turn Spark's own events into spans, kept in memory and
  * written out when the run ends. Registered only for the traced passes.
  */
final class Tracer(spark: SparkSession) {
  val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  private val jobs = TrieMap.empty[Int, Tracer.JobInfo]
  private val stageJob = TrieMap.empty[Int, Int]
  private val stageAgg = TrieMap.empty[(Int, Int), Array[Double]]
  // task metric slots summed per stage attempt
  private val TaskKeys = Seq("tasks", "run_ms", "cpu_ms", "gc_ms", "failed",
    "shuffle_write_bytes", "shuffle_write_records", "shuffle_read_bytes",
    "shuffle_read_records", "spill_bytes", "input_bytes", "input_records",
    "output_bytes", "output_records")

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.OpKey)))
        .map(_.toLong).getOrElse(-1L)
      jobs(e.jobId) = Tracer.JobInfo(op, e.time, e.stageIds)
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.remove(e.jobId).foreach { j =>
        val ok = if (e.jobResult == JobSucceeded) 1.0 else 0.0
        spans.add(Span("job", s"job ${e.jobId}", s"j${e.jobId}",
          if (j.op >= 0) s"o${j.op}" else "", j.op, j.start.toDouble,
          e.time.toDouble, Map("ok" -> ok, "stages" -> j.stages.size.toDouble)))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val a = stageAgg.getOrElseUpdate((e.stageId, e.stageAttemptId),
        new Array[Double](TaskKeys.size))
      val m = e.taskMetrics
      a.synchronized {
        a(0) += 1
        if (!e.taskInfo.successful) a(4) += 1
        if (m != null) {
          a(1) += m.executorRunTime
          a(2) += m.executorCpuTime / 1e6
          a(3) += m.jvmGCTime
          a(5) += m.shuffleWriteMetrics.bytesWritten
          a(6) += m.shuffleWriteMetrics.recordsWritten
          a(7) += m.shuffleReadMetrics.totalBytesRead
          a(8) += m.shuffleReadMetrics.recordsRead
          a(9) += m.memoryBytesSpilled + m.diskBytesSpilled
          a(10) += m.inputMetrics.bytesRead
          a(11) += m.inputMetrics.recordsRead
          a(12) += m.outputMetrics.bytesWritten
          a(13) += m.outputMetrics.recordsWritten
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val a = stageAgg.remove((si.stageId, si.attemptNumber()))
        .getOrElse(new Array[Double](TaskKeys.size))
      val job = stageJob.getOrElse(si.stageId, -1)
      val start = si.submissionTime.getOrElse(0L).toDouble
      val end = si.completionTime.map(_.toDouble).getOrElse(start)
      spans.add(Span("stage", si.name, s"s${si.stageId}.${si.attemptNumber()}",
        s"j$job", -1L, start, end,
        TaskKeys.zip(a).toMap + ("failed_stage" -> (if (si.failureReason.isDefined) 1.0 else 0.0))))
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe)
    override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
      record(funcName, qe)
    private def record(funcName: String, qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty) {
        val plan = qe.executedPlan
        spans.add(Span("plan", funcName, s"p${ids.incrementAndGet()}", "", -1L,
          phases.map(_.startTimeMs).min.toDouble, phases.map(_.endTimeMs).max.toDouble,
          Map("plan_ms" -> phases.map(_.durationMs).sum.toDouble,
            "exchanges" -> Tracer.count(plan, { case _: Exchange => true }).toDouble,
            "scans" -> Tracer.count(plan, {
              case _: FileSourceScanExec | _: BatchScanExec | _: RowDataSourceScanExec => true
            }).toDouble)))
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val durs = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }.toMap
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val stateCommit = p.stateOperators.map(_.commitTimeMs.toDouble).sum
      spans.add(Span("trigger", s"${p.name} b${p.batchId}", s"t${ids.incrementAndGet()}",
        "", -1L, start, start + durs.getOrElse("triggerExecution", 0.0),
        durs.map { case (k, v) => s"${k}_ms" -> v } ++ Map(
          "input_rows" -> p.numInputRows.toDouble,
          "state_commit_ms" -> stateCommit)))
    }
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  /** Detaches the listeners once every event posted so far is delivered. */
  def stop(): Unit = {
    org.apache.spark.PerfbenchShim.drainListenerBus(spark.sparkContext)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(planListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }
}

object Tracer {
  /** Local property carrying the op id; threads started inside an op,
    * such as a streaming query's execution thread, inherit it. */
  val OpKey = "perfbench.op"

  private final case class JobInfo(op: Long, start: Long, stages: Seq[Int])

  /** Nodes matching `p` in an executed plan, looking through adaptive
    * wrappers and materialized query stages. */
  def count(plan: SparkPlan, p: PartialFunction[SparkPlan, Boolean]): Int = {
    def walk(n: SparkPlan): Int = {
      val self = if (p.applyOrElse(n, (_: SparkPlan) => false)) 1 else 0
      val inner = n match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case _ => 0
      }
      self + inner + (n.children ++ n.subqueries).map(walk).sum
    }
    walk(plan)
  }
}
