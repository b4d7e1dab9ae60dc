package graft.report

import java.nio.file.Files
import java.time.{LocalDate, LocalDateTime}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions.{lit, round}
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.etl.PartitionedLake
import graft.model.Schemas

/** Report metrics + HTML, including the empty-day branch
  * (generate_report.py:72-84) — SURVEY §7.4 trap 5. */
class ReportSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("metrics on a day with data are internally consistent") {
    val m = Report.metrics(spark, TestSpark.Sf, LocalDate.of(2000, 6, 15))
    assert(m.nTx > 0)
    assert(m.totalRevenue > 0)
    assert(m.netRevenue == m.totalRevenue - m.totalFees)
    assert(m.bestRevenue >= m.worstRevenue)
    assert(m.perTruck.nonEmpty)
    // per-truck revenues sum back to the total (exact cents arithmetic)
    val perTruckSum = math.round(m.perTruck.map(t => t.revenue * 100).sum) / 100.0
    assert(perTruckSum == m.totalRevenue)
    // fee model: only card-like ('urgent') methods carry a fee
    assert(m.perPayment.filter(p => !p.method.toLowerCase.contains("urgent"))
      .forall(_.fee == 0.0))
  }

  test("empty day yields zeroed metrics, not nulls or a crash") {
    val m = Report.metrics(spark, TestSpark.Sf, LocalDate.of(1990, 1, 1))
    assert(m.nTx == 0)
    assert(m.totalRevenue == 0.0 && m.avgTx == 0.0 && m.netRevenue == 0.0)
    assert(m.bestTruck == "n/a" && m.worstTruck == "n/a")
    assert(m.perTruck.isEmpty && m.perPayment.isEmpty)
  }

  test("HTML renders data and empty variants") {
    val full = Report.renderHtml(Report.metrics(spark, TestSpark.Sf, LocalDate.of(2000, 6, 15)))
    assert(full.contains("<table>") && full.contains("Net revenue"))
    val empty = Report.renderHtml(Report.metrics(spark, TestSpark.Sf, LocalDate.of(1990, 1, 1)))
    assert(empty.contains("No transactions recorded"))
    assert(empty.startsWith("<!DOCTYPE html>"))
  }

  /** Run `body` under a job group of its own and return, with its result,
    * the SQL executions it started (id → physical plan) and the execution
    * id of each Spark job it started (None for a job outside SQL, such as
    * a schema-inference job). */
  private def traced[T](body: => T): (T, Map[Long, String], Seq[Option[Long]]) = {
    val sc = spark.sparkContext
    val group = s"report-spec-${java.util.UUID.randomUUID}"
    val execs = new ConcurrentHashMap[Long, String]
    val jobs = new ConcurrentLinkedQueue[Option[Long]]
    val markerSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
          if (e.properties.getProperty("spark.job.description") == group) markerSeen.countDown()
          else jobs.add(Option(e.properties.getProperty(SQLExecution.EXECUTION_ID_KEY)).map(_.toLong))
        }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart if s.jobGroupId.contains(group) =>
          execs.put(s.executionId, s.physicalPlanDescription)
        case _ =>
      }
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "ReportSpec")
    try {
      val out = body
      // The listener's queue delivers events in posting order, so once a
      // marker job started after `body` is seen, every event of `body` is.
      sc.setJobDescription(group)
      sc.parallelize(Seq(1), 1).count()
      assert(markerSeen.await(60, TimeUnit.SECONDS), "the listener never saw the marker job")
      (out, execs.asScala.toMap, jobs.asScala.toSeq)
    } finally { sc.clearJobGroup(); sc.removeSparkListener(listener) }
  }

  test("a day with data runs one SQL action over only its directory") {
    val date = LocalDate.of(2000, 6, 15)
    val lake = new java.io.File(PartitionedLake.ensureLineitemLake(spark, TestSpark.Sf)).getAbsolutePath
    val (m, execs, jobs) = traced(Report.metrics(spark, TestSpark.Sf, date))
    assert(m.nTx > 0)
    assert(execs.size == 1, s"one SQL action expected, got ${execs.size}:\n${execs.values.mkString("\n")}")
    val (id, plan) = execs.head
    assert(jobs.flatten.forall(_ == id), s"jobs outside the report's action: $jobs")
    val lakeScans = plan.linesIterator.filter(l => l.contains("Location:") && l.contains(lake)).toSeq
    assert(lakeScans.nonEmpty, s"the action must scan the lake:\n$plan")
    assert(lakeScans.forall(_.contains(s"[file:$lake/year=2000/month=6/day=15]")),
      s"every lake scan must be rooted at the day's directory:\n${lakeScans.mkString("\n")}")
  }

  test("an absent day starts no Spark job and renders the empty report") {
    PartitionedLake.ensureLineitemLake(spark, TestSpark.Sf)
    val (html, execs, jobs) =
      traced(Report.renderHtml(Report.metrics(spark, TestSpark.Sf, LocalDate.of(1990, 1, 1))))
    assert(jobs.isEmpty && execs.isEmpty, s"jobs $jobs, SQL actions ${execs.keys}")
    assert(html.contains("No transactions recorded"))
  }

  /** A hand-built sf dir and its lake. Two suppliers, an urgent and a
    * low-priority order; on 2000-06-15 five lineitems (in cents):
    * A/urgent 1025, B/low 1225, no supplier/urgent 100, A/no order 200,
    * no supplier/no order 300; on 2000-06-16 one more, outside the day. */
  private def withTinyLake(body: String => Unit): Unit = {
    val dir = Files.createTempDirectory("graft-report-fold").toString
    def write(name: String, schema: StructType, rows: Row*): Unit =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.parquet(s"$dir/$name.parquet")
    def on(day: Int) = LocalDateTime.of(2000, 6, day, 12, 0)
    def li(order: Long, supp: Long, price: Double, day: Int) =
      Row(order, 1L, supp, 1, 1.0, price, 0.0, 0.0, "N", "O", on(day))
    write("supplier", Schemas.supplier, Row(1L, "Supplier#A", 1, 0.0), Row(2L, "Supplier#B", 1, 0.0))
    write("orders", Schemas.orders,
      Row(10L, 1L, "O", 0.0, on(1), "1-URGENT"), Row(11L, 1L, "O", 0.0, on(1), "5-LOW"))
    write("lineitem", Schemas.lineitem,
      li(10, 1, 10.25, 15), li(11, 2, 12.25, 15), li(10, 7, 1.00, 15),
      li(99, 1, 2.00, 15), li(98, 8, 3.00, 15), li(10, 1, 100.0, 16))
    try body(dir)
    finally {
      FileUtils.deleteDirectory(new java.io.File(PartitionedLake.lakeRoot(dir)))
      FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("a half-cent per-method fee rounds as Spark's round(rc * 0.02)") {
    withTinyLake { sf =>
      val m = Report.metrics(spark, sf, LocalDate.of(2000, 6, 15))
      val urgent = m.perPayment.find(_.method == "1-URGENT").get
      val rc = math.round(urgent.revenue * 100)
      assert(rc == 1125 && rc % 50 == 25)
      val sparkFee = spark.range(1).select(round(lit(rc) * 0.02).cast("long")).head().getLong(0)
      assert(math.round(urgent.fee * 100) == sparkFee)
      assert(m.perPayment.find(_.method == "5-LOW").get.fee == 0.0)
      assert(m.totalFees == urgent.fee)
    }
  }

  test("a lineitem without a supplier or order counts toward the total only") {
    withTinyLake { sf =>
      val date = LocalDate.of(2000, 6, 15)
      val m = Report.metrics(spark, sf, date)
      assert(m.nTx == 5 && m.totalRevenue == 28.50 && m.avgTx == 5.70)
      // A and B tie at 1225 cents: best takes the greater name, worst the lesser
      assert(m.perTruck == Seq(
        Report.TruckRow("Supplier#A", 12.25, 2, 6.13), Report.TruckRow("Supplier#B", 12.25, 1, 12.25)))
      assert(m.perPayment == Seq(
        Report.PaymentRow("1-URGENT", 11.25, 0.23), Report.PaymentRow("5-LOW", 12.25, 0.0)))
      assert((m.bestTruck, m.bestRevenue, m.worstTruck, m.worstRevenue) ==
        (("Supplier#B", 12.25, "Supplier#A", 12.25)))
      assert(m.totalFees == 0.23 && m.netRevenue == 28.27)
      // q44's face is the same fold
      assert(Report.metricsDF(spark, sf, date).head() == Row(m.reportDate, m.totalRevenue, m.nTx,
        m.avgTx, m.bestTruck, m.bestRevenue, m.worstTruck, m.worstRevenue, m.totalFees, m.netRevenue))
    }
  }

  test("report sink writes the reference's key scheme") {
    val dir = java.nio.file.Files.createTempDirectory("graft-report").toString
    val date = LocalDate.of(2000, 6, 15)
    val p = Report.save("<html></html>", dir, date)
    assert(p.getFileName.toString == "daily-report-2000-06-15.html")
    assert(java.nio.file.Files.readString(p) == "<html></html>")
  }
}
