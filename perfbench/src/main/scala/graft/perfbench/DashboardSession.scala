package graft.perfbench

import java.time.LocalDate

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.report.Dashboard

/** `dashboard_session`: analyst rounds. A round is three dashboard
  * sessions, one per sidebar state, then one pass of the query mix. The
  * filters are seeded in three widths that spread the cached working set
  * over about five orders of magnitude. `open` plus the KPI row is the
  * time to the first chart; the other nine charts follow in the
  * reference's order over the cached slice. No lake and no writes. The
  * query mix then meets each of its twenty queries for the first time in
  * the session. */
object DashboardSession {
  final case class Session(width: String, f: Dashboard.Filters, kpis: Option[Row])
}

final class DashboardSession(spark: SparkSession, sfDir: String, seed: Long,
                             rec: Recorder) extends Workload {
  import DashboardSession._

  private val rnd = new scala.util.Random(seed)
  private val firstShip = LocalDate.of(1995, 1, 2)
  private val lastShip = LocalDate.of(2001, 11, 4)
  private val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val widths = Seq("narrow", "medium", "wide")

  private def day(lo: LocalDate, hi: LocalDate): LocalDate =
    lo.plusDays(rnd.nextInt((hi.toEpochDay - lo.toEpochDay + 1).toInt).toLong)

  /** narrow: 28-31 days and three suppliers (about 10-25 rows);
    * medium: k = 3 or 4 of the five priorities over about 2082/k days
    * (1.9 or 1.4 years), which holds the slice near 10^5 of the 6·10^5
    * rows whatever the seed; wide: every date, no lists. */
  private def filters(width: String): Dashboard.Filters = width match {
    case "narrow" =>
      val from = day(firstShip, lastShip.minusDays(31))
      val sups = Seq.fill(3)(f"Supplier#${1 + rnd.nextInt(1000)}%09d").distinct
      Dashboard.Filters(from, from.plusDays(27L + rnd.nextInt(4)), Some(sups), None)
    case "medium" =>
      val k = 3 + rnd.nextInt(2)
      val span = 2082 / k + rnd.nextInt(31) - 15
      val from = day(firstShip, lastShip.minusDays(span.toLong))
      Dashboard.Filters(from, from.plusDays(span - 1L), None, Some(rnd.shuffle(priorities).take(k).sorted))
    case _ => Dashboard.Filters(firstShip, lastShip, None, None)
  }

  private val charts: Seq[(String, Dashboard => DataFrame)] = Seq(
    "dailyTrend" -> (_.dailyTrend),
    "dayOfMonthHistogram" -> (_.dayOfMonthHistogram),
    "revenueBySupplier" -> (_.revenueBySupplier),
    "priorityCounts" -> (_.priorityCounts),
    "paymentMix" -> (_.paymentMix),
    "truckPaymentMatrix" -> (_.truckPaymentMatrix(priorities)),
    "perTruckSummary" -> (_.perTruckSummary),
    "topDays" -> (_.topDays(10)),
    "rawHead" -> (_.rawHead(20)))

  private val sessions = ArrayBuffer.empty[Session]
  private val mix = new QueryMix(spark, sfDir, seed, rec)

  /** One session, returning its KPI row (None when the open failed). */
  private def session(width: String, f: Dashboard.Filters): Option[Row] = {
    val opened = rec.op(spark, "dash_open") {
      val d = rec.span("report.dash_build")(Dashboard.open(spark, sfDir, f))
      // A failed cache fill must not leave the slice pinned for later sessions.
      try (d, rec.span("report.dash_cache_fill")(d.kpis.collect()(0)))
      catch { case e: Throwable => d.close(); throw e }
    }
    opened.foreach { case (d, _) =>
      charts.foreach { case (name, chart) =>
        rec.op(spark, s"dash_chart") {
          rec.span(s"report.chart.$name")(chart(d).collect())
        }
      }
      d.close()
    }
    opened.map(_._2)
  }

  /** Warm-up: one wide session, the one that runs every chart's code
    * over the most rows. A narrower one saves set-up time but leaves the
    * measured opens slower and less steady. The query mix gets none: its
    * pass measures each query's first run in the session. */
  def setup(): Unit =
    rec.phase("warmup")(session("wide", filters("wide")))

  /** One round is one session of each width, in a fixed order, so every
    * run holds the same mix, then the query-mix pass; the seed chooses
    * the filters and the query order. One round is enough for a traced
    * run: tracing flips with each session, and traces the whole pass. */
  def run(deadline: Long): Unit = {
    var r = 0
    while (rec.startRound(r, deadline, tracedRounds = 1)) {
      rec.inRound(r) {
        widths.foreach { width =>
          val f = filters(width)
          rec.group()
          sessions += Session(width, f, session(width, f))
        }
        rec.group(all = true)
        mix.pass()
      }
      r += 1
    }
  }

  def verify(): Unit = ()

  def output(): Map[String, Any] = Map(
    "sessions" -> sessions.map { s =>
      Map("width" -> s.width, "from" -> s.f.from.toString, "to" -> s.f.to.toString,
        "suppliers" -> s.f.suppliers.getOrElse(Nil), "priorities" -> s.f.priorities.getOrElse(Nil),
        "kpis" -> s.kpis.map(r => Map(
          "total_revenue" -> r.getDouble(0), "n_tx" -> r.getLong(1), "avg_tx" -> r.getDouble(2),
          "avg_daily_revenue" -> r.getDouble(3), "card_pct" -> r.getDouble(4))).orNull)
    },
    "q55_sql" -> graft.SparkEntry.oracleSql("q55_dash_kpis"),
    "mix" -> mix.output())
}
