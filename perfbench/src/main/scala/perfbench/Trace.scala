package perfbench

import java.time.Instant
import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.{Success, TaskEndReason}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution,
  RowDataSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans and counters from Spark's public listeners, kept in memory while
  * registered and written once at the end of the run.
  *
  *  - jobs and stages (`SparkListener`), each tagged with the operation
  *    (`pass/query/mode/phase`) the benchmark thread set as a local property;
  *    stages carry their tasks' summed metrics;
  *  - one record per query execution (`QueryExecutionListener`): the
  *    Catalyst phases from `qe.tracker` and operator times summed from the
  *    SQL metrics of the final (AQE) plan;
  *  - one record per streaming micro-batch (`StreamingQueryListener`).
  *
  * Times are epoch seconds. Attribution to passes and queries is by time
  * containment (one query runs at a time) and by the job tag.
  */
final class Trace(spark: SparkSession) {
  import Trace._

  private final class Stage(val tag: String, val start: Double) {
    var end = Option.empty[Double]
    /** summed task metrics: tasks, failed tasks, run, CPU and GC seconds,
      * shuffle written and read, spilled and output bytes */
    val sums = new Array[Double](9)
  }

  private val jobStart = TrieMap.empty[Int, (Double, String)]
  private val stageTag = TrieMap.empty[Int, String]
  private val stages = TrieMap.empty[(Int, Int), Stage]
  private val jobs = ArrayBuffer.empty[Job]
  private val qes = ArrayBuffer.empty[Map[String, Double]]
  private val batches = ArrayBuffer.empty[Map[String, Double]]

  private def tagOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(Harness.TagKey))).getOrElse("")

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tag = tagOf(e.properties)
      jobStart(e.jobId) = (e.time / 1e3, tag)
      e.stageIds.foreach(stageTag(_) = tag)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobStart.remove(e.jobId).foreach { case (s, tag) =>
        jobs.synchronized(jobs += Job(s, e.time / 1e3, tag, e.jobResult == JobSucceeded))
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val i = e.stageInfo
      val start = i.submissionTime.map(_ / 1e3).getOrElse(Harness.now())
      stages.getOrElseUpdate((i.stageId, i.attemptNumber()),
        new Stage(stageTag.getOrElse(i.stageId, tagOf(e.properties)), start))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      stages.get((i.stageId, i.attemptNumber())).foreach { s =>
        s.end = Some(i.completionTime.map(_ / 1e3).getOrElse(Harness.now()))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      stages.get((e.stageId, e.stageAttemptId)).foreach { s =>
        val m = e.taskMetrics
        val failed = (e.reason: TaskEndReason) != Success
        s.synchronized {
          val a = s.sums
          a(0) += 1
          if (failed) a(1) += 1
          if (m != null) {
            a(2) += m.executorRunTime / 1e3
            a(3) += m.executorCpuTime / 1e9
            a(4) += m.jvmGCTime / 1e3
            a(5) += m.shuffleWriteMetrics.bytesWritten
            a(6) += m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead
            a(7) += m.diskBytesSpilled
            a(8) += m.outputMetrics.bytesWritten
          }
        }
      }
  }

  /** Operator time (ms metrics) and row counts summed over a plan,
    * descending into AQE query stages. */
  private def planMetrics(root: SparkPlan): Map[String, Double] = {
    val acc = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var outRows = -1.0
    def metric(p: SparkPlan, name: String): Double =
      p.metrics.get(name).map(_.value.toDouble).getOrElse(0.0)
    def walk(p: SparkPlan): Unit = {
      if (outRows < 0 && p.metrics.contains("numOutputRows"))
        outRows = metric(p, "numOutputRows")
      val name = p.nodeName
      if (name.startsWith("WholeStageCodegen")) acc("wscg_s") += metric(p, "pipelineTime") / 1e3
      if (name.contains("Aggregate")) acc("agg_s") += metric(p, "aggTime") / 1e3
      if (name == "Sort") acc("sort_s") += metric(p, "sortTime") / 1e3
      // ShuffledHashJoin and BroadcastExchange report their build side
      acc("join_build_s") += metric(p, "buildTime") / 1e3
      p match {
        case _: FileSourceScanExec | _: BatchScanExec | _: RowDataSourceScanExec =>
          acc("scan_rows") += metric(p, "numOutputRows")
        case _ =>
      }
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case s: QueryStageExec => walk(s.plan)
        case _ => (p.children ++ p.subqueries).foreach(walk)
      }
    }
    walk(root)
    acc("out_rows") = outRows.max(0.0)
    acc.toMap
  }

  private def recordQe(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    val t = Harness.now()
    val start = if (phases.isEmpty) t else phases.values.map(_.startTimeMs).min / 1e3
    val end = if (phases.isEmpty) t else phases.values.map(_.endTimeMs).max / 1e3
    val ph = Seq("analysis", "optimization", "planning").map { k =>
      s"${k}_s" -> phases.get(k).map(_.durationMs / 1e3).getOrElse(0.0)
    }.toMap
    val ops = try planMetrics(qe.executedPlan) catch { case _: Throwable => Map.empty }
    qes.synchronized(qes += Map("start" -> start, "end" -> end) ++ ph ++ ops)
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      recordQe(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      recordQe(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue / 1e3 }
      val start = Instant.parse(p.timestamp).toEpochMilli / 1e3
      batches.synchronized(batches += Map("start" -> start,
        "end" -> (start + d.getOrElse("triggerExecution", 0.0)),
        "add_batch_s" -> d.getOrElse("addBatch", 0.0),
        "planning_s" -> d.getOrElse("queryPlanning", 0.0),
        "wal_commit_s" -> d.getOrElse("walCommit", 0.0),
        "rows" -> p.numInputRows.toDouble))
    }
  }

  /** Waits until every posted listener event has been delivered
    * (`LiveListenerBus.waitUntilEmpty` is not part of the public API). */
  private def drain(): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  def start(): Unit = {
    drain()
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def stop(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  def record: Record = Record(jobs.toSeq,
    stages.values.toSeq.sortBy(_.start).map { s =>
      val a = s.sums
      StageRecord(s.start, s.end, s.tag, a(0), a(1), a(2), a(3), a(4), a(5),
        a(6), a(7), a(8))
    },
    qes.toSeq, batches.toSeq)
}

object Trace {
  final case class Job(start: Double, end: Double, tag: String, ok: Boolean)

  final case class StageRecord(start: Double, end: Option[Double], tag: String,
    tasks: Double, failedTasks: Double, runS: Double, cpuS: Double, gcS: Double,
    shuffleWriteB: Double, shuffleReadB: Double, spillB: Double, outputB: Double)

  /** Query executions and streaming batches are flat maps of `start`,
    * `end` and their figures. */
  final case class Record(jobs: Seq[Job], stages: Seq[StageRecord],
    qes: Seq[Map[String, Double]], batches: Seq[Map[String, Double]])
}
