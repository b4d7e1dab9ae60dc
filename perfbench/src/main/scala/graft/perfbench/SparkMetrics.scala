package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark's own job, stage and task metrics for one traced operation.
  * The operation id rides on a thread-local Spark property, so every job
  * the operation starts carries it; stages and tasks map back through
  * their job. Plan time comes from the QueryExecutionListener's phase tracker,
  * mapped to the operation through the SQL execution id of its jobs. */
final class SparkMetrics extends SparkListener with QueryExecutionListener {
  import SparkMetrics._

  final class Acc {
    var jobs, stages, tasks, listingJobs = 0L
    var listingMs, execRunMs, execCpuNs, shuffleWrite, shuffleRead = 0L
    var fetchWaitMs, spill, peakMem, inputBytes, inputRows, taskGcMs, planMs = 0L
  }

  private val byOp = mutable.Map.empty[Int, Acc]
  private val stageOp = mutable.Map.empty[Int, Int]
  private val jobStart = mutable.Map.empty[Int, (Int, Long, Boolean)]
  private val execOp = mutable.Map.empty[Long, Int]
  private val planMsByExec = mutable.Map.empty[Long, Long]
  private var pendingPlanMs = 0L

  private def acc(op: Int): Acc = byOp.getOrElseUpdate(op, new Acc)

  /** Per-op totals, after [[unregister]]. Plan time is folded in here:
    * it is keyed by execution id, which maps to an op through its jobs. */
  def totals: Map[Int, Acc] = synchronized {
    planMsByExec.foreach { case (e, ms) => execOp.get(e).foreach(op => acc(op).planMs += ms) }
    planMsByExec.clear()
    byOp.toMap
  }

  /** Listen for op `op`: jobs started from this thread carry its id. */
  def register(spark: SparkSession, op: Int): Unit = {
    spark.listenerManager.register(this)
    spark.sparkContext.addSparkListener(this)
    spark.sparkContext.setLocalProperty(OpKey, op.toString)
  }

  /** Wait until every event already posted has reached this listener,
    * then detach it. */
  def unregister(spark: SparkSession): Unit = {
    spark.sparkContext.setLocalProperty(OpKey, null)
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    spark.listenerManager.unregister(this)
    spark.sparkContext.removeSparkListener(this)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty(OpKey))).map(_.toInt).foreach { op =>
      val desc = props.flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
      jobStart(e.jobId) = (op, e.time, desc.contains("Listing leaf files and directories"))
      e.stageIds.foreach(s => stageOp(s) = op)
      props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(x => execOp(x.toLong) = op)
      acc(op).jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (op, t0, listing) =>
      if (listing) {
        val a = acc(op)
        a.listingJobs += 1
        a.listingMs += e.time - t0
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageOp.get(e.stageInfo.stageId).foreach(op => acc(op).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (op <- stageOp.get(e.stageId); m <- Option(e.taskMetrics)) {
      val a = acc(op)
      a.tasks += 1
      a.execRunMs += m.executorRunTime
      a.execCpuNs += m.executorCpuTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
      a.inputBytes += m.inputMetrics.bytesRead
      a.inputRows += m.inputMetrics.recordsRead
      a.taskGcMs += m.jvmGCTime
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    val ms = Seq("analysis", "optimization", "planning")
      .flatMap(qe.tracker.phases.get).map(_.durationMs).sum
    pendingPlanMs += ms
  }

  /** The execution-listener bus reports a query to [[onSuccess]] while it
    * handles the query's SQLExecutionEnd, on this same queue and before
    * this listener sees that event (it was registered first), so the plan
    * time pending here belongs to this execution id. */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd => synchronized {
      planMsByExec(end.executionId) = planMsByExec.getOrElse(end.executionId, 0L) + pendingPlanMs
      pendingPlanMs = 0L
    }
    case _ => ()
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object SparkMetrics {
  val OpKey = "perfbench.op"
}
