package graft.perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import graft.{BoxProbe, Sessions}

/** A workload: untimed set-up, a closed loop of rounds until the
  * deadline, then checks and the raw record of what it did. */
trait Workload {
  def setup(): Unit
  def run(deadline: Long): Unit
  def verify(): Unit
  def output(): Map[String, Any]
}

/** The benchmark's JVM side. It runs one workload with one client thread
  * and writes the raw record (operations, spans, Spark metrics, checks,
  * outputs) as JSON; `perfbench/run.py` turns that into metrics and runs
  * the DuckDB oracle checks.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <sfDir> <runDir> <out.json>
  * The working directory must be `runDir`: lakes the program derives
  * land under it. */
object Main {
  /** An operation slower than this counts as failed. */
  val OpTimeoutS = 60.0
  /** Longest wait for the JIT to settle after set-up. */
  val JitSettleMs = 4000L
  /** Longest wait for run.py's oracle work before the measured window. */
  val OracleWaitS = 60L

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, sfDir, runDirS, out) = args
    val seed = seedS.toLong
    val runDir = Paths.get(runDirS).toAbsolutePath
    val probeSec = BoxProbe.measure()
    val probeParSec = BoxProbe.measurePar()
    val rec = new Recorder(traceS == "1", OpTimeoutS)
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    // The query mix's DuckDB oracle does not depend on the run, so
    // run.py computes it while this side sets up; the measured window
    // waits until it is done, so that it never runs beside the window.
    val oracleSql = if (workload == "dashboard_session") QueryMix.oracleSql else Map.empty[String, String]
    val sqlTmp = runDir.resolve("oracle-sql.json.tmp")
    Files.writeString(sqlTmp, mapper.writeValueAsString(oracleSql))
    Files.move(sqlTmp, runDir.resolve("oracle-sql.json"), StandardCopyOption.ATOMIC_MOVE)

    val t0 = System.nanoTime()
    val spark = rec.phase("session")(Sessions.local())
    val w: Workload = workload match {
      case "pipeline_day" => new PipelineDay(spark, sfDir, runDir, seed, rec)
      case "dashboard_session" => new DashboardSession(spark, sfDir, seed, rec)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    w.setup()
    rec.phase("jit_settle")(Jvm.settleJit(JitSettleMs))
    val setupS = (System.nanoTime() - t0) / 1e9
    if (oracleSql.nonEmpty) {
      val deadline = System.nanoTime() + OracleWaitS * 1000000000L
      while (!Files.exists(runDir.resolve("oracle-done")) && System.nanoTime() < deadline) Thread.sleep(50)
    }

    val gc0 = Jvm.gcNs()
    val jit0 = Jvm.jitNs()
    val w0 = System.nanoTime()
    rec.measuring = true
    w.run(w0 + (secondsS.toDouble * 1e9).toLong)
    rec.measuring = false
    val w1 = System.nanoTime()
    val windowGcNs = Jvm.gcNs() - gc0
    val jitNs = Jvm.jitNs() - jit0

    w.verify()
    val outputs = w.output()
    val retained = if (rec.tracing) Jvm.retainedHeapMb() else 0.0
    def sec(ns: Long) = (ns - w0) / 1e9

    val record = Map(
      "workload" -> workload,
      "context" -> Map(
        "probe_sec" -> probeSec, "probe_par_sec" -> probeParSec,
        "nproc" -> Runtime.getRuntime.availableProcessors(),
        "driver_heap_mb" -> Jvm.maxHeapMb(),
        "spark_cores" -> spark.sparkContext.defaultParallelism),
      "setup_s" -> Seq(setupS),
      "setup_phases" -> rec.setupPhases,
      "op_timeout_s" -> OpTimeoutS,
      "window_s" -> (w1 - w0) / 1e9,
      "window_gc_s" -> windowGcNs / 1e9,
      "jit_s" -> jitNs / 1e9,
      "retained_heap_mb" -> retained,
      "ops" -> rec.ops.map(o => Map("id" -> o.id, "kind" -> o.kind, "round" -> o.round,
        "traced" -> o.traced, "start" -> sec(o.startNs), "end" -> sec(o.endNs), "ok" -> o.ok,
        "error" -> o.error, "gc_s" -> o.gcNs / 1e9)),
      "spans" -> rec.spans.map(s => Map("op" -> s.op, "id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start" -> sec(s.startNs), "end" -> sec(s.endNs))),
      "spark" -> rec.sparkTotals.map { case (op, a) => op.toString -> Map(
        "jobs" -> a.jobs, "stages" -> a.stages, "tasks" -> a.tasks,
        "listing_jobs" -> a.listingJobs, "listing_s" -> a.listingMs / 1e3,
        "exec_run_s" -> a.execRunMs / 1e3, "exec_cpu_s" -> a.execCpuNs / 1e9,
        "shuffle_write_mb" -> a.shuffleWrite / 1048576.0, "shuffle_read_mb" -> a.shuffleRead / 1048576.0,
        "fetch_wait_s" -> a.fetchWaitMs / 1e3, "spill_mb" -> a.spill / 1048576.0,
        "peak_exec_mem_mb" -> a.peakMem / 1048576.0, "input_mb" -> a.inputBytes / 1048576.0,
        "input_rows" -> a.inputRows, "task_gc_s" -> a.taskGcMs / 1e3, "plan_s" -> a.planMs / 1e3)
      }.toMap,
      "checks" -> rec.checks.map(c => Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
      "outputs" -> outputs)
    Files.writeString(Paths.get(out), mapper.writeValueAsString(record))
    spark.stop()
  }
}
