package graft.perfbench

import java.nio.file.{Files, Path}
import java.sql.{DriverManager, Timestamp}
import java.time.{LocalDate, LocalDateTime}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.{Clean, PartitionedLake, SnapshotLake}
import graft.incremental.Incremental
import graft.model.{Jdbc, Tables}
import graft.report.Report

/** `pipeline_day`: the reference's cadence. One round is one simulated
  * day: eight three-hourly ETL cycles from a JDBC source into the
  * snapshot lake, and at 09:30 the daily report over the lineitem lake.
  *
  * Each cycle replays the previous cycle's batch under its tag (the
  * orchestrator's retry, which must commit nothing), extracts the rows
  * after the watermark and up to the cycle's "now", cleans them, appends
  * them exactly once, advances the watermark and reads its own rows back.
  */
object PipelineDay {
  final case class Cycle(k: Int, lo: Timestamp, now: Timestamp, rows: Long,
                         version: Long, fresh: Long, tag: String,
                         ckptNs: Long, ckptBytes: Long, casLost: Long)
  final case class Daily(day: LocalDate, m: Report.ReportMetrics)
}

final class PipelineDay(spark: SparkSession, sfDir: String, runDir: Path,
                        seed: Long, rec: Recorder) extends Workload {
  import PipelineDay._

  private val rnd = new scala.util.Random(seed)
  private val conn = Jdbc.Conn(s"jdbc:derby:${runDir.resolve("derby/eventsdb")};create=true",
    user = "app", password = "", driver = "org.apache.derby.jdbc.EmbeddedDriver")
  private val table = "EVENTS_DB"
  private var idRange = (0L, 0L)

  // The events stream covers 2024-01-01..2024-01-30. A run needs at most
  // MaxDays days of it, starting on a seeded day.
  private val MaxDays = 2
  private val firstDay = LocalDate.of(2024, 1, 2).plusDays(rnd.nextInt(29 - MaxDays).toLong)
  private val WarmupDay = LocalDate.of(1998, 6, 15)
  // Report days: lineitem covers 1995-01-02..2001-11-04 (2,499 days); the
  // range is widened by 139 days on each side so that about one day in
  // ten has no rows and the empty-report path runs too.
  private val reportLo = LocalDate.of(1995, 1, 2).minusDays(139)
  private val reportSpan = 2499 + 2 * 139
  private def reportDay(): LocalDate = reportLo.plusDays(rnd.nextInt(reportSpan).toLong)

  private val lakeRoot = runDir.resolve("lake/events").toString
  private val stateDir = runDir.resolve("state").toString
  private val reportDir = runDir.resolve("reports").toString

  private val cycles = ArrayBuffer.empty[Cycle]
  private val reports = ArrayBuffer.empty[Daily]
  private var replays = 0
  private var prev: Option[(String, DataFrame, Long)] = None

  private def lakeCounters: (Long, Long, Long) =
    (SnapshotLake.ckptNanos.get, SnapshotLake.ckptBytes.get, SnapshotLake.casLost.get)

  private def source: DataFrame =
    Jdbc.table(spark, conn, table, partitioning = Some(("event_id", idRange._1, idRange._2 + 1,
      spark.sparkContext.defaultParallelism)))

  private def ts(d: LocalDateTime) = Timestamp.valueOf(d)

  /** Stage the events a run can reach (the warm-up day and MaxDays
    * measured days) into an embedded Derby database, indexed on the
    * watermark column as the reference's source database is. */
  private def stageDerby(): Unit = {
    val src = Tables.events(spark, sfDir).select("event_id", "ts", "user_id", "event_type", "value")
      .filter(col("ts") >= lit(ts(firstDay.minusDays(1).atStartOfDay())) &&
        col("ts") <= lit(ts(firstDay.plusDays(MaxDays.toLong).atStartOfDay())))
    src.write.format("jdbc")
      .option("url", conn.url).option("driver", conn.driver).option("dbtable", table)
      .option("createTableColumnTypes", "event_type VARCHAR(32)")
      .option("batchsize", "10000")
      .mode("overwrite").save()
    val c = DriverManager.getConnection(conn.url, conn.user, conn.password)
    try c.createStatement().execute(s"CREATE INDEX ${table}_TS ON $table (\"ts\")")
    finally c.close()
    val b = src.agg(min("event_id"), max("event_id")).collect()(0)
    idRange = (b.getLong(0), b.getLong(1))
  }

  def setup(): Unit = {
    System.setProperty("derby.system.home", runDir.resolve("derby").toString)
    // The Derby copy stands in for the source database and is rebuilt
    // every run; it needs no syncs to disk.
    System.setProperty("derby.system.durability", "test")
    rec.phase("derby_staging")(stageDerby())
    rec.phase("lineitem_lake")(PartitionedLake.ensureLineitemLake(spark, sfDir))
    rec.phase("warmup_cycle")(warmupCycle())
    rec.phase("warmup_report")(Report.save(Report.renderHtml(Report.metrics(spark, sfDir, WarmupDay)),
      runDir.resolve("warmup-reports").toString, WarmupDay))
    Incremental(stateDir).writeState(ts(firstDay.atStartOfDay().minusSeconds(1)))
  }

  /** One cycle into a throwaway lake on the day before the measured
    * days, so the measured rounds start with compiled code. */
  private def warmupCycle(): Unit = {
    val warmRoot = runDir.resolve("lake/warmup").toString
    val warm = new Incremental(runDir.resolve("warmup-state/last_run.txt"))
    val day0 = firstDay.minusDays(1).atStartOfDay()
    warm.writeState(ts(day0.minusSeconds(1)))
    val b = Clean.cleanEvents(warm.extract(source.filter(col("ts") <= lit(ts(day0.plusHours(3)))), "ts"))
    SnapshotLake.appendOnceGrouped(b, warmRoot, "warmup")
    SnapshotLake.read(spark, warmRoot).count()
    ()
  }

  private def cycle(k: Int): Unit = {
    val now = ts(firstDay.atStartOfDay().plusHours(3L * (k + 1)))
    val inc = Incremental(stateDir)
    val lo = inc.adjustedBound(inc.readState().get)
    val counters0 = lakeCounters
    rec.op(spark, "cycle") {
      prev.foreach { case (tag, df, v) =>
        val got = rec.span("etl.tag_probe")(SnapshotLake.appendOnceGrouped(df, lakeRoot, tag))
        replays += 1
        rec.check("replay", got == v, s"replay of $tag returned version $got, not $v")
      }
      val batch = rec.span("incremental.extract_build")(
        inc.extract(source.filter(col("ts") <= lit(now)), "ts"))
      val cleaned = rec.span("etl.clean_build")(Clean.cleanEvents(batch)).persist()
      try {
        val agg = rec.span("etl.extract_clean")(
          cleaned.agg(count(lit(1)), max(col("ts"))).collect()(0))
        val n = agg.getLong(0)
        if (n > 0) {
          val tag = s"cycle-$k"
          val v = rec.span("etl.append")(SnapshotLake.appendOnceGrouped(cleaned, lakeRoot, tag))
          rec.span("incremental.write_state")(inc.writeState(agg.getTimestamp(1)))
          val fresh = rec.span("etl.fresh_read")(SnapshotLake.read(spark, lakeRoot, Some(v))
            .filter(col("ts") > lit(lo) && col("ts") <= lit(now)).count())
          rec.check("fresh_read", fresh == n, s"cycle $k read $fresh rows back, committed $n")
          val (ns, bytes, lost) = lakeCounters
          cycles += Cycle(k, lo, now, n, v, fresh, tag,
            ns - counters0._1, bytes - counters0._2, lost - counters0._3)
          prev = Some((tag, cleaned, v))
        }
      } finally { cleaned.unpersist(); () }
    }
    ()
  }

  private def report(): Unit = {
    val day = reportDay()
    rec.op(spark, "report") {
      val m = rec.span("report.metrics")(Report.metrics(spark, sfDir, day))
      rec.span("report.render")(Report.save(Report.renderHtml(m), reportDir, day))
      reports += Daily(day, m)
    }
    ()
  }

  def run(deadline: Long): Unit = {
    var d = 0
    while (rec.startRound(d, deadline) && d < MaxDays) {
      rec.inRound(d) {
        (0 until 8).foreach { c =>
          cycle(d * 8 + c)
          if (c == 2) report() // 09:30, after the 09:00 cycle
        }
      }
      d += 1
    }
  }

  /** Lake-side checks the JVM can make alone; the oracle checks on rows
    * and reports run against DuckDB afterwards. */
  def verify(): Unit = {
    val versions = SnapshotLake.history(lakeRoot).size
    rec.check("one_version_per_cycle", versions == cycles.size,
      s"${cycles.size} cycles with data, $versions versions")
    cycles.foreach(c => rec.check("tag_version", SnapshotLake.tagVersion(lakeRoot, c.tag).contains(c.version),
      s"${c.tag} resolves to ${SnapshotLake.tagVersion(lakeRoot, c.tag)}, committed ${c.version}"))
  }

  private def lakeBytes: Long = {
    val s = Files.walk(runDir.resolve("lake/events"))
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }

  def output(): Map[String, Any] = {
    val lakeRows = if (cycles.isEmpty) 0L else SnapshotLake.read(spark, lakeRoot).count()
    val filesPerCommit = cycles.map(c => SnapshotLake.commitChange(lakeRoot, c.version)._2.size)
    Map(
      "first_day" -> firstDay.toString,
      "replays" -> replays,
      "lake_rows" -> lakeRows,
      "lake_bytes" -> (if (cycles.isEmpty) 0L else lakeBytes),
      "files_per_commit" -> filesPerCommit,
      "cycles" -> cycles.map(c => Map("k" -> c.k, "lo" -> c.lo.toString, "now" -> c.now.toString,
        "rows" -> c.rows, "version" -> c.version, "fresh" -> c.fresh,
        "ckpt_s" -> c.ckptNs / 1e9, "ckpt_bytes" -> c.ckptBytes, "cas_lost" -> c.casLost)),
      "reports" -> reports.map { r =>
        val m = r.m
        Map("day" -> r.day.toString, "report_date" -> m.reportDate, "total_revenue" -> m.totalRevenue,
          "n_tx" -> m.nTx, "avg_tx" -> m.avgTx, "best_truck" -> m.bestTruck,
          "best_revenue" -> m.bestRevenue, "worst_truck" -> m.worstTruck,
          "worst_revenue" -> m.worstRevenue, "total_fees" -> m.totalFees,
          "net_revenue" -> m.netRevenue)
      },
      "q44_sql" -> graft.SparkEntry.oracleSql("q44_report_metrics"))
  }
}
