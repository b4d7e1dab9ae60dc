package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One timed operation of a workload. `round` groups the operations of
  * one simulated day, or of one analyst round (three dashboard sessions
  * and a query-mix pass). */
final case class Op(id: Int, kind: String, round: Int, traced: Boolean,
                    startNs: Long, endNs: Long, ok: Boolean, error: String,
                    gcNs: Long)

/** A traced interval inside an operation, recorded from the benchmark's
  * own code around one call into a layer. `parent` is -1 for a span whose
  * parent is the operation itself. */
final case class Span(op: Int, id: Int, parent: Int, name: String,
                      startNs: Long, endNs: Long)

final case class Check(name: String, ok: Boolean, detail: String)

/** In-memory record of a run: operations, spans, correctness checks and
  * the JVM's GC and JIT counters. Nothing is written until the run ends. */
final class Recorder(val tracing: Boolean, opTimeoutS: Double) {
  val ops = ArrayBuffer.empty[Op]
  val spans = ArrayBuffer.empty[Span]
  val checks = ArrayBuffer.empty[Check]
  /** Seconds of each named set-up phase, in order. */
  val setupPhases = mutable.LinkedHashMap.empty[String, Double]

  def phase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally setupPhases(name) = setupPhases.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
  }

  private var opId = -1
  private var traced = false
  private var stack: List[Int] = Nil
  private var nextSpan = 0

  /** Off during set-up: operations then run unrecorded, and a failure
    * fails the set-up. */
  var measuring = false
  private var round = 0
  /** Spark metrics of every traced op. */
  val sparkTotals = mutable.Map.empty[Int, SparkMetrics#Acc]

  /** A traced run traces every other op, flipping with each group of ops
    * (a round, or a workload's own group), so that every kind of op is
    * traced in some groups and not in others; the untraced ops beside them
    * measure the tracing overhead. A group opened with `all` traces every
    * op in it. */
  private var groupIdx = 0
  private var groupStart = 0
  private var groupAll = false
  private def tracedOp(id: Int): Boolean =
    tracing && (groupAll || (id - groupStart + groupIdx) % 2 == 1)

  def group(all: Boolean = false): Unit = {
    groupIdx += 1
    groupStart = ops.size
    groupAll = all
  }

  /** Whether round `r` starts: rounds start until the deadline and each
    * one that starts runs to its end. A traced run runs at least
    * `tracedRounds` rounds. */
  def startRound(r: Int, deadline: Long, tracedRounds: Int = 2): Boolean =
    System.nanoTime() < deadline || (tracing && r < tracedRounds)

  def inRound[T](r: Int)(body: => T): T = {
    round = r
    groupIdx = r - 1
    group()
    body
  }

  /** Time one operation. A throw, or a wall time over the timeout, counts
    * the operation as failed; it is recorded, never retried. */
  def op[T](spark: SparkSession, kind: String)(body: => T): Option[T] =
    if (!measuring) Some(body) else timedOp(spark, kind)(body)

  private def timedOp[T](spark: SparkSession, kind: String)(body: => T): Option[T] = {
    val id = ops.size
    traced = tracedOp(id)
    opId = id
    stack = Nil
    // registered for this op only, so untraced ops pay nothing
    val listener = if (traced) Some(new SparkMetrics) else None
    listener.foreach(_.register(spark, id))
    val g0 = Jvm.gcNs()
    val t0 = System.nanoTime()
    val (res, err) =
      try (Some(body), "")
      catch { case e: Throwable => (None, s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    val t1 = System.nanoTime()
    val gc = Jvm.gcNs() - g0
    listener.foreach { l =>
      l.unregister(spark)
      sparkTotals ++= l.totals
    }
    val late = (t1 - t0) / 1e9 > opTimeoutS
    val error = if (err.nonEmpty) err else if (late) f"timed out after ${(t1 - t0) / 1e9}%.1f s" else ""
    ops += Op(id, kind, round, traced, t0, t1, error.isEmpty, error, gc)
    if (error.nonEmpty) System.err.println(s"[perfbench] op $id $kind failed: $error")
    opId = -1
    traced = false
    res.filter(_ => error.isEmpty)
  }

  /** Record a span when the current operation is traced; otherwise just
    * run the body. */
  def span[T](name: String)(body: => T): T =
    if (!traced) body
    else {
      val id = nextSpan
      nextSpan += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(opId, id, parent, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    val d = if (ok) "" else detail
    checks += Check(name, ok, d)
    if (!ok) System.err.println(s"[perfbench] check $name failed: $d")
  }
}

/** JVM counters from the management beans. */
object Jvm {
  def gcNs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum * 1000000L

  def jitNs(): Long = {
    val b = ManagementFactory.getCompilationMXBean
    if (b != null && b.isCompilationTimeMonitoringSupported) b.getTotalCompilationTime * 1000000L
    else 0L
  }

  /** Heap in use after a full collection, in MB. */
  def retainedHeapMb(): Double = {
    System.gc()
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def maxHeapMb(): Double = Runtime.getRuntime.maxMemory / 1048576.0

  /** Wait, at most `maxMs`, until the JIT compiler is nearly idle (under
    * 30 ms of compilation in 100 ms), so that compilation queued by the
    * warm-up does not compete with the measured window. */
  def settleJit(maxMs: Long): Unit = {
    val deadline = System.nanoTime() + maxMs * 1000000L
    var prev = jitNs()
    var settled = false
    while (!settled && System.nanoTime() < deadline) {
      Thread.sleep(100)
      val cur = jitNs()
      settled = cur - prev < 30000000L
      prev = cur
    }
  }
}
