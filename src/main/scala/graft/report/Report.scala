package graft.report

import java.time.LocalDate

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.PartitionedLake
import graft.model.Tables

/** The daily-report pipeline (ref: pipeline/report-lambda/
  * generate_report.py): read exactly one day's partition from the lake,
  * compute the financial KPI set, render HTML on the driver.
  *
  * Spark restatement of the Lambda (SURVEY §3.2): a scan of the one
  * `year=Y/month=M/day=D` directory (nothing else is listed or read; the
  * reference builds the S3 prefix by hand, generate_report.py:32), one
  * Spark action collecting the day's total, per-supplier and per-method
  * aggregates, a driver-side fold of those few rows into
  * [[ReportMetrics]], template on the driver.
  *
  * All money rides as exact integer cents (order-independent at any
  * partition count); the fee model is the reference's 2%-of-revenue on
  * card-like methods (generate_report.py:124-142), with `o_orderpriority`
  * standing in for `payment_method` and 'urgent' for 'card'.
  *
  * Empty-day semantics (generate_report.py:72-84): a day with no rows
  * yields zeroed metrics and "n/a" best/worst — never a crash or a null —
  * and the HTML renders a "no data" banner.
  */
object Report {

  final case class TruckRow(name: String, revenue: Double, nTx: Long, avgTx: Double)
  final case class PaymentRow(method: String, revenue: Double, fee: Double)

  final case class ReportMetrics(
      reportDate: String,
      totalRevenue: Double,
      nTx: Long,
      avgTx: Double,
      bestTruck: String,
      bestRevenue: Double,
      worstTruck: String,
      worstRevenue: Double,
      totalFees: Double,
      netRevenue: Double,
      perTruck: Seq[TruckRow],
      perPayment: Seq[PaymentRow])

  /** "Yesterday" in UTC — the reference's default window
    * (generate_report.py:24-29 / F8); every job entry point takes the date
    * as a parameter so tests and backfills are deterministic. */
  def yesterday(): LocalDate = LocalDate.now(java.time.ZoneOffset.UTC).minusDays(1)

  private def cents(c: Column) = round(c * 100).cast("long")
  private def rev = col("l_extendedprice") * (lit(1) - col("l_discount"))

  /** The day's rows: only the `year=Y/month=M/day=D` directory is listed
    * and scanned, as the reference builds the day's S3 prefix by hand
    * (generate_report.py:32). None when the lake has no such directory. */
  def daySlice(spark: SparkSession, sfDir: String, date: LocalDate): Option[DataFrame] =
    PartitionedLake.readPartition(spark, PartitionedLake.ensureLineitemLake(spark, sfDir),
      date.getYear, date.getMonthValue, date.getDayOfMonth)

  /** The report's three aggregates in one frame, one row per group,
    * `kind` naming the grain: the total over the slice, per supplier over
    * slice ⋈ broadcast(supplier), per method over slice ⋈ orders with the
    * method's fee. The joins are inner, so a lineitem without a supplier
    * or order counts toward the total only. */
  private def aggregates(spark: SparkSession, sfDir: String, slice: DataFrame): DataFrame = {
    def grain(kind: String, key: Column, df: DataFrame) =
      df.groupBy(key.as("key"))
        .agg(sum(cents(rev)).as("rc"), count(lit(1)).as("n"))
        .withColumn("kind", lit(kind))
        .withColumn("avg", round(col("rc") / col("n")) / 100.0)
    val total = grain("total", lit(null).cast("string"), slice)
    val trucks = grain("supplier", col("s_name"),
      slice.join(broadcast(Tables.supplier(spark, sfDir)), col("l_suppkey") === col("s_suppkey")))
    // 2% on card-like methods, rounded per method like the reference's
    // per-method cost dict
    val methods = grain("method", col("o_orderpriority"),
      slice.join(Tables.orders(spark, sfDir).select("o_orderkey", "o_orderpriority"),
        col("l_orderkey") === col("o_orderkey")))
      .withColumn("fee", when(lower(col("key")).contains("urgent"), round(col("rc") * 0.02).cast("long"))
        .otherwise(0L))
    total.unionByName(trucks).unionByName(methods, allowMissingColumns = true)
  }

  /** The report for one date: one Spark action collects [[aggregates]],
    * and the driver folds its rows in exact cents. Best and worst order
    * by (revenue, name), as q18 breaks ties. A day without a directory
    * starts no Spark job. */
  def metrics(spark: SparkSession, sfDir: String, date: LocalDate): ReportMetrics = {
    val rows = daySlice(spark, sfDir, date).fold(Array.empty[Row])(aggregates(spark, sfDir, _).collect())
    def rowsOf(kind: String) = rows.filter(_.getAs[String]("kind") == kind).toSeq
    val (rc, n, avg) = rowsOf("total").headOption
      .fold((0L, 0L, 0.0))(r => (r.getAs[Long]("rc"), r.getAs[Long]("n"), r.getAs[Double]("avg")))
    val trucks = rowsOf("supplier").map(r => (r.getAs[Long]("rc"), r.getAs[String]("key"), r))
    val best = trucks.maxByOption(t => (t._1, t._2))
    val worst = trucks.minByOption(t => (t._1, t._2))
    val methods = rowsOf("method").sortBy(_.getAs[String]("key"))
    val fees = methods.map(_.getAs[Long]("fee")).sum
    ReportMetrics(
      reportDate = date.toString,
      totalRevenue = rc / 100.0, nTx = n, avgTx = avg,
      bestTruck = best.fold("n/a")(_._2), bestRevenue = best.fold(0L)(_._1) / 100.0,
      worstTruck = worst.fold("n/a")(_._2), worstRevenue = worst.fold(0L)(_._1) / 100.0,
      totalFees = fees / 100.0, netRevenue = (rc - fees) / 100.0,
      perTruck = trucks.sortBy(t => (-t._1, t._2)).map { case (c, name, r) =>
        TruckRow(name, c / 100.0, r.getAs[Long]("n"), r.getAs[Double]("avg"))
      },
      perPayment = methods.map(r =>
        PaymentRow(r.getAs[String]("key"), r.getAs[Long]("rc") / 100.0, r.getAs[Long]("fee") / 100.0)))
  }

  /** [[metrics]]' scalar fields as one row: the CORRECTNESS-gated face of
    * the report (q44). */
  def metricsDF(spark: SparkSession, sfDir: String, date: LocalDate): DataFrame = {
    import spark.implicits._
    val m = metrics(spark, sfDir, date)
    Seq((m.reportDate, m.totalRevenue, m.nTx, m.avgTx, m.bestTruck, m.bestRevenue,
      m.worstTruck, m.worstRevenue, m.totalFees, m.netRevenue))
      .toDF("report_date", "total_revenue", "n_tx", "avg_tx", "best_truck", "best_revenue",
        "worst_truck", "worst_revenue", "total_fees", "net_revenue")
  }

  /** Driver-side HTML render (ref generate_report.py:160-387). */
  def renderHtml(m: ReportMetrics): String = {
    def money(d: Double) = f"$$$d%,.2f"
    val body =
      if (m.nTx == 0)
        s"""<p class="empty">No transactions recorded on ${m.reportDate}.</p>"""
      else {
        val truckRows = m.perTruck.map(t =>
          s"<tr><td>${t.name}</td><td>${money(t.revenue)}</td><td>${t.nTx}</td><td>${money(t.avgTx)}</td></tr>")
          .mkString("\n")
        val payRows = m.perPayment.map(p =>
          s"<tr><td>${p.method}</td><td>${money(p.revenue)}</td><td>${money(p.fee)}</td></tr>")
          .mkString("\n")
        s"""<ul>
           |  <li>Total revenue: ${money(m.totalRevenue)}</li>
           |  <li>Transactions: ${m.nTx}</li>
           |  <li>Average transaction: ${money(m.avgTx)}</li>
           |  <li>Best seller: ${m.bestTruck} (${money(m.bestRevenue)})</li>
           |  <li>Worst seller: ${m.worstTruck} (${money(m.worstRevenue)})</li>
           |  <li>Processing fees: ${money(m.totalFees)}</li>
           |  <li>Net revenue: ${money(m.netRevenue)}</li>
           |</ul>
           |<h2>Per-seller</h2>
           |<table><tr><th>Seller</th><th>Revenue</th><th>Tx</th><th>Avg</th></tr>
           |$truckRows</table>
           |<h2>Payment methods</h2>
           |<table><tr><th>Method</th><th>Revenue</th><th>Fee</th></tr>
           |$payRows</table>""".stripMargin
      }
    s"""<!DOCTYPE html>
       |<html><head><title>Daily report ${m.reportDate}</title></head>
       |<body><h1>Daily report — ${m.reportDate}</h1>
       |$body
       |</body></html>""".stripMargin
  }

  /** Report sink (S10): write the HTML under `outDir` with the reference's
    * key scheme `reports/daily-report-<date>.html`. */
  def save(html: String, outDir: String, date: LocalDate): java.nio.file.Path = {
    val dir = java.nio.file.Paths.get(outDir)
    java.nio.file.Files.createDirectories(dir)
    java.nio.file.Files.writeString(dir.resolve(s"daily-report-$date.html"), html)
  }
}
