package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Tables

/** The relational parity inventory — every operator class from SURVEY.md §2
  * (reference: `pipeline/athena_queries.sql`, `pipeline/dashboard.py`,
  * `pipeline/report-lambda/generate_report.py`), re-expressed as lazy
  * Catalyst plans over the star schema in /root/testdata.
  *
  * Semantic mapping (SURVEY.md §7.1 / FIXTURES.md §5):
  * `lineitem` plays the `transactions` fact (`l_extendedprice*(1-l_discount)`
  * → `total`, `l_shipdate` → `at`), `supplier` plays `dim_trucks`
  * (broadcast-joined), `events` plays the incremental source, `orders`
  * supplies the string-predicate column (`o_orderpriority` stands in for
  * `payment_method` in the fee model, reference
  * `generate_report.py:124-142`).
  *
  * Scale notes (the 100 TB contract):
  *   - dimension joins are explicit `broadcast()` — no shuffle of the fact;
  *   - aggregations are plain `groupBy` → hash aggregate with map-side
  *     partial aggregation; one shuffle on the grouping key, no more;
  *   - global "share of total" uses an aggregate-then-window plan: the
  *     window runs over the *aggregated* (tiny) relation, never the fact;
  *   - top-k is `orderBy(...).limit(k)` which Spark plans as
  *     `TakeOrderedAndProject` (per-partition heap + driver merge, no
  *     global sort);
  *   - final `orderBy` on small aggregated outputs exists for oracle
  *     determinism and costs nothing at scale (input is already tiny).
  */
object Relational {

  /** Net revenue per line — the `total` column of the reference fact. */
  private def rev: Column = col("l_extendedprice") * (lit(1) - col("l_discount"))
  private val revSql = "l_extendedprice * (1 - l_discount)"

  /** Money math in exact integer cents — the same normalization the
    * reference's DB schema uses (pence, `transform.py:21`). Summing longs is
    * exact and order-independent, so distributed partial aggregation yields
    * bit-identical results to any single-node oracle regardless of partition
    * count or merge order; double sums would drift with summation order and
    * `round(x, 2)` implementations differ across engines. The final
    * `/ 100.0` and integer `round(x)` are single deterministic IEEE ops
    * identical across engines. Headroom: cents sums overflow long only past
    * ~9e16 dollars — far beyond 100 TB of fact data. */
  private def cents(c: Column): Column = round(c * 100).cast("long")
  /** SUM(money) at 2dp, exact/order-independent. */
  private def moneySum(c: Column): Column = sum(cents(c)) / 100.0
  /** AVG(money) rounded to 2dp, exact/order-independent. */
  private def moneyAvg(c: Column): Column = round(sum(cents(c)) / count(lit(1))) / 100.0
  /** Percentage a/b at 2dp from two exact long aggregates. */
  private def pct2(a: Column, b: Column): Column = round(lit(10000.0) * a / b) / 100.0
  /** Round an already-deterministic double to 2dp identically in both engines. */
  private def round2(c: Column): Column = round(c * 100) / 100.0

  private def centsSql(e: String)    = s"CAST(round(($e) * 100) AS BIGINT)"
  private def centsSumSql(e: String) = s"CAST(sum(${centsSql(e)}) AS BIGINT)"
  private def moneySumSql(e: String) = s"${centsSumSql(e)} / 100.0"
  private def moneyAvgSql(e: String) = s"round(${centsSumSql(e)} / count(*)) / 100.0"
  private def pct2Sql(a: String, b: String) = s"round(10000.0 * ($a) / ($b)) / 100.0"
  private def round2Sql(e: String)   = s"round(($e) * 100) / 100.0"

  private def li(s: SparkSession, d: String)  = Tables.lineitem(s, d)
  private def sup(s: SparkSession, d: String) = Tables.supplier(s, d)
  private def ord(s: SparkSession, d: String) = Tables.orders(s, d)
  private def ev(s: SparkSession, d: String)  = Tables.events(s, d)

  val defs: Vector[Q] = Vector(

    // ── A1: global SUM/COUNT/AVG KPIs (athena_queries.sql:18-23,
    //        dashboard.py:117-123, generate_report.py:87-89)
    Q("q01_global_kpis",
      s"""SELECT ${moneySumSql(revSql)} AS total_revenue,
         |       count(*) AS n_tx,
         |       ${moneyAvgSql(revSql)} AS avg_tx
         |FROM lineitem""".stripMargin) { (s, d) =>
      li(s, d).agg(
        moneySum(rev).as("total_revenue"),
        count(lit(1)).as("n_tx"),
        moneyAvg(rev).as("avg_tx"))
    },

    // ── A3: group-by single key, single+multi agg (dashboard.py:177-209)
    Q("q02_revenue_by_flag",
      s"""SELECT l_returnflag,
         |       ${moneySumSql(revSql)} AS revenue,
         |       count(*) AS n_tx
         |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      li(s, d).groupBy("l_returnflag")
        .agg(moneySum(rev).as("revenue"), count(lit(1)).as("n_tx"))
        .orderBy("l_returnflag")
    },

    // ── A4: revenue share of total (athena_queries.sql:31). Aggregate
    //    first, then an unpartitioned window over the 3-row result — the
    //    single-partition window never sees the fact table.
    Q("q03_revenue_share",
      s"""SELECT l_returnflag,
         |       ${pct2Sql(centsSumSql(revSql), s"sum(${centsSumSql(revSql)}) OVER ()")}
         |         AS revenue_share_pct
         |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      li(s, d).groupBy("l_returnflag").agg(sum(cents(rev)).as("r"))
        .withColumn("revenue_share_pct",
          pct2(col("r"), sum("r").over(Window.partitionBy())))
        .select("l_returnflag", "revenue_share_pct")
        .orderBy("l_returnflag")
    },

    // ── A5+F4: composite-key daily trend (athena_queries.sql:50-59);
    //    year/month/day derivation mirrors load.py:45-47.
    Q("q04_daily_trend",
      s"""SELECT CAST(year(l_shipdate) AS INTEGER) AS "year",
         |       CAST(month(l_shipdate) AS INTEGER) AS "month",
         |       CAST(day(l_shipdate) AS INTEGER) AS "day",
         |       ${moneySumSql(revSql)} AS daily_revenue,
         |       count(*) AS n_tx
         |FROM lineitem GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin) { (s, d) =>
      li(s, d)
        .groupBy(
          year(col("l_shipdate")).as("year"),
          month(col("l_shipdate")).as("month"),
          dayofmonth(col("l_shipdate")).as("day"))
        .agg(moneySum(rev).as("daily_revenue"), count(lit(1)).as("n_tx"))
        .orderBy("year", "month", "day")
    },

    // ── F1+A3: hourly histogram (athena_queries.sql:63-68, dashboard.py:156)
    Q("q05_hourly_histogram",
      s"""SELECT CAST(hour(ts) AS INTEGER) AS hour,
         |       count(*) AS n_events,
         |       ${moneySumSql("value")} AS total_value
         |FROM events GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      ev(s, d).groupBy(hour(col("ts")).as("hour"))
        .agg(count(lit(1)).as("n_events"), moneySum(col("value")).as("total_value"))
        .orderBy("hour")
    },

    // ── F3+O3: weekday revenue in calendar order Mon..Sun
    //    (athena_queries.sql:72-77, dashboard.py:279-282). Spark has no
    //    isodow; ((dayofweek+5)%7)+1 maps Sun=1..Sat=7 onto Mon=1..Sun=7.
    Q("q06_weekday_revenue",
      s"""SELECT CAST(isodow(l_shipdate) AS INTEGER) AS weekday_num,
         |       dayname(l_shipdate) AS day_name,
         |       ${moneySumSql(revSql)} AS revenue
         |FROM lineitem GROUP BY 1, 2 ORDER BY 1""".stripMargin) { (s, d) =>
      li(s, d)
        .groupBy(
          (((dayofweek(col("l_shipdate")) + 5) % 7) + 1).as("weekday_num"),
          date_format(col("l_shipdate"), "EEEE").as("day_name"))
        .agg(moneySum(rev).as("revenue"))
        .orderBy("weekday_num")
    },

    // ── Flagship (README.md:240-249): daily revenue by dimension —
    //    partitioned scan ⋈ broadcast dim → composite group → ordered.
    Q("q07_daily_revenue_by_supplier",
      s"""SELECT CAST(l_shipdate AS DATE) AS ship_date, s_name,
         |       ${moneySumSql(revSql)} AS revenue
         |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         |GROUP BY 1, 2 ORDER BY ship_date DESC, revenue DESC, s_name""".stripMargin) { (s, d) =>
      li(s, d)
        .join(broadcast(sup(s, d)), col("l_suppkey") === col("s_suppkey"))
        .groupBy(to_date(col("l_shipdate")).as("ship_date"), col("s_name"))
        .agg(moneySum(rev).as("revenue"))
        .orderBy(col("ship_date").desc, col("revenue").desc, col("s_name"))
    },

    // ── J3: LEFT JOIN dim→fact keeping zero-sales members
    //    (athena_queries.sql:124-134)
    Q("q08_supplier_sales_including_zero",
      s"""SELECT s_suppkey, s_name,
         |       count(l_orderkey) AS n_tx,
         |       coalesce(${moneySumSql(revSql)}, 0.0) AS revenue
         |FROM supplier LEFT JOIN lineitem ON s_suppkey = l_suppkey
         |GROUP BY 1, 2 ORDER BY s_suppkey""".stripMargin) { (s, d) =>
      sup(s, d)
        .join(li(s, d), col("s_suppkey") === col("l_suppkey"), "left")
        .groupBy("s_suppkey", "s_name")
        .agg(
          count(col("l_orderkey")).as("n_tx"),
          coalesce(moneySum(rev), lit(0.0)).as("revenue"))
        .orderBy("s_suppkey")
    },

    // ── A7: COUNT(DISTINCT) per group (athena_queries.sql:97,106)
    Q("q09_distinct_suppliers_per_flag",
      """SELECT l_returnflag, count(DISTINCT l_suppkey) AS n_suppliers
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      li(s, d).groupBy("l_returnflag")
        .agg(countDistinct(col("l_suppkey")).as("n_suppliers"))
        .orderBy("l_returnflag")
    },

    // ── P10+O2: comparison filter + top-k (athena_queries.sql:149-157).
    //    Spark plans orderBy+limit as TakeOrderedAndProject (no full sort).
    Q("q10_high_value_topk",
      """SELECT l_orderkey, l_linenumber, l_extendedprice
        |FROM lineitem WHERE l_extendedprice > 50000
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
        |LIMIT 20""".stripMargin) { (s, d) =>
      li(s, d).filter(col("l_extendedprice") > 50000)
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
        .limit(20)
    },

    // ── A10: two-level aggregation — avg of per-day sums (dashboard.py:126)
    Q("q11_avg_daily_revenue",
      s"""SELECT round(avg(daily)) / 100.0 AS avg_daily_revenue
         |FROM (SELECT CAST(l_shipdate AS DATE) AS dt,
         |             ${centsSumSql(revSql)} AS daily
         |      FROM lineitem GROUP BY 1)""".stripMargin) { (s, d) =>
      li(s, d)
        .groupBy(to_date(col("l_shipdate")).as("dt"))
        .agg(sum(cents(rev)).as("daily"))
        .agg((round(avg("daily")) / 100.0).as("avg_daily_revenue"))
    },

    // ── A11+P12: conditional ratio — share of rows matching a string
    //    equality predicate (dashboard.py:130-132 card-share KPI)
    Q("q12_urgent_share",
      s"""SELECT ${pct2Sql(
           "sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)",
           "count(*)")} AS urgent_pct
         |FROM orders""".stripMargin) { (s, d) =>
      ord(s, d).agg(
        pct2(
          sum(when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)),
          count(lit(1))).as("urgent_pct"))
    },

    // ── A11+A14+F6: fee model — 2% fee on rows whose lowercased label
    //    contains a substring; net = gross − fees
    //    (generate_report.py:124-156)
    Q("q13_fee_model", {
      val feeSql = "CASE WHEN lower(o_orderpriority) LIKE '%urgent%' " +
        "THEN o_totalprice * 0.02 ELSE 0.0 END"
      s"""SELECT ${moneySumSql("o_totalprice")} AS gross_revenue,
         |       ${moneySumSql(feeSql)} AS fees,
         |       (${centsSumSql("o_totalprice")} - ${centsSumSql(feeSql)}) / 100.0
         |         AS net_revenue
         |FROM orders""".stripMargin
    }) { (s, d) =>
      val fee = when(lower(col("o_orderpriority")).contains("urgent"),
        col("o_totalprice") * 0.02).otherwise(0.0)
      ord(s, d).agg(
        moneySum(col("o_totalprice")).as("gross_revenue"),
        moneySum(fee).as("fees"),
        ((sum(cents(col("o_totalprice"))) - sum(cents(fee))) / 100.0).as("net_revenue"))
    },

    // ── A12: dedup-by-key-subset keep-first, made deterministic with
    //    row_number over an explicit order (SURVEY.md §7.4 trap 1;
    //    reference transform.py:29-37 relies on pandas input order).
    // Output timestamps ride as BIGINT epoch-micros (`ts_us`): the raw
    // events parquet is nanos-typed, so a raw timestamp output column
    // carries engine-native precision (ns in DuckDB, µs in Spark) and
    // type-misses the driver's schema gate even when values agree
    // (VERDICT r6 item 1). Same idiom everywhere an events-derived
    // instant is emitted.
    Q("q14_dedup_keep_first",
      """SELECT user_id, event_type, event_id,
        |       epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
        |FROM (SELECT user_id, event_type, event_id, ts,
        |             row_number() OVER (PARTITION BY user_id, event_type
        |                                ORDER BY ts, event_id) AS rn
        |      FROM events)
        |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy(col("ts"), col("event_id"))
      ev(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"))
        .orderBy("user_id", "event_type")
    },

    // ── A13: distinct projection — dimension extraction
    //    (partition_transactions.py:12-18)
    Q("q15_dim_extract",
      """SELECT DISTINCT o_orderstatus, o_orderpriority
        |FROM orders ORDER BY 1, 2""".stripMargin) { (s, d) =>
      ord(s, d).select("o_orderstatus", "o_orderpriority").distinct()
        .orderBy("o_orderstatus", "o_orderpriority")
    },

    // ── A2: global MIN/MAX — date-range discovery / watermark computation
    //    (transform.py:62, extract.py:142, dashboard.py:78-80)
    Q("q16_date_range",
      "SELECT min(l_shipdate) AS first_at, max(l_shipdate) AS last_at FROM lineitem") {
      (s, d) =>
        li(s, d).agg(min("l_shipdate").as("first_at"), max("l_shipdate").as("last_at"))
    },

    // ── A9: value_counts (dashboard.py:230-231)
    Q("q17_value_counts",
      """SELECT event_type, count(*) AS n
        |FROM events GROUP BY 1 ORDER BY n DESC, event_type""".stripMargin) { (s, d) =>
      ev(s, d).groupBy("event_type").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("event_type"))
    },

    // ── W1: best/worst group by metric via max_by/min_by
    //    (generate_report.py:96-101 sorts and takes index[0]/[-1]).
    //    Ties are broken explicitly (ADVICE.md round 1): the ordering key is
    //    zero-padded-revenue ++ name, a single string whose lexicographic
    //    order equals (revenue, name) — identical in Spark and DuckDB, so
    //    two suppliers with equal cents can never make the hash flaky.
    Q("q18_best_worst_supplier",
      s"""WITH t AS (SELECT s_name, ${centsSumSql(revSql)} AS r
         |           FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         |           GROUP BY 1)
         |SELECT arg_max(s_name, printf('%020d', r) || s_name) AS best_supplier,
         |       max(r) / 100.0 AS best_revenue,
         |       arg_min(s_name, printf('%020d', r) || s_name) AS worst_supplier,
         |       min(r) / 100.0 AS worst_revenue
         |FROM t""".stripMargin) { (s, d) =>
      val tieKey = concat(format_string("%020d", col("r")), col("s_name"))
      li(s, d)
        .join(broadcast(sup(s, d)), col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_name").agg(sum(cents(rev)).as("r"))
        .agg(
          max_by(col("s_name"), tieKey).as("best_supplier"),
          (max("r") / 100.0).as("best_revenue"),
          min_by(col("s_name"), tieKey).as("worst_supplier"),
          (min("r") / 100.0).as("worst_revenue"))
    },

    // ── W2: top-k days by revenue (dashboard.py:296-300)
    Q("q19_top10_days",
      s"""SELECT CAST(l_shipdate AS DATE) AS dt,
         |       ${moneySumSql(revSql)} AS revenue
         |FROM lineitem GROUP BY 1
         |ORDER BY revenue DESC, dt LIMIT 10""".stripMargin) { (s, d) =>
      li(s, d)
        .groupBy(to_date(col("l_shipdate")).as("dt"))
        .agg(moneySum(rev).as("revenue"))
        .orderBy(col("revenue").desc, col("dt"))
        .limit(10)
    },

    // ── W3: rank-1 within group — peak hour per event type
    //    (athena_queries.sql:139-146)
    Q("q20_peak_hour_per_type",
      """SELECT event_type, hour, n
        |FROM (SELECT event_type, CAST(hour(ts) AS INTEGER) AS hour,
        |             count(*) AS n,
        |             row_number() OVER (PARTITION BY event_type
        |                                ORDER BY count(*) DESC, hour(ts)) AS rn
        |      FROM events GROUP BY event_type, hour(ts))
        |WHERE rn = 1 ORDER BY event_type""".stripMargin) { (s, d) =>
      val byHour = ev(s, d)
        .groupBy(col("event_type"), hour(col("ts")).as("hour"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("event_type").orderBy(col("n").desc, col("hour"))
      byHour.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("event_type", "hour", "n")
        .orderBy("event_type")
    },

    // ── A6: multi-aggregate per group, rounded (generate_report.py:92-95)
    Q("q21_supplier_summary",
      s"""SELECT s_name,
         |       ${moneySumSql(revSql)} AS revenue,
         |       count(*) AS n_tx,
         |       ${moneyAvgSql(revSql)} AS avg_tx
         |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         |GROUP BY 1 ORDER BY revenue DESC, s_name""".stripMargin) { (s, d) =>
      li(s, d)
        .join(broadcast(sup(s, d)), col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_name")
        .agg(
          moneySum(rev).as("revenue"),
          count(lit(1)).as("n_tx"),
          moneyAvg(rev).as("avg_tx"))
        .orderBy(col("revenue").desc, col("s_name"))
    },

    // ── P8+P9: dashboard filter block — BETWEEN date range + IN-lists
    //    (dashboard.py:98-109)
    Q("q22_filtered_dashboard",
      s"""SELECT l_returnflag,
         |       count(*) AS n_tx,
         |       ${moneySumSql(revSql)} AS revenue
         |FROM lineitem
         |WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
         |                     AND TIMESTAMP '1997-12-31 23:59:59'
         |  AND l_returnflag IN ('R', 'A')
         |  AND l_suppkey IN (1, 2, 3, 4, 5)
         |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      li(s, d)
        .filter(col("l_shipdate").between(
          lit("1996-01-01 00:00:00").cast("timestamp"),
          lit("1997-12-31 23:59:59").cast("timestamp")))
        .filter(col("l_returnflag").isin("R", "A"))
        .filter(col("l_suppkey").isin(1, 2, 3, 4, 5))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_tx"), moneySum(rev).as("revenue"))
        .orderBy("l_returnflag")
    },

    // ── P13+S8+S6: partition-window report scan — "yesterday's partition"
    //    analog (generate_report.py:24-33) — over the REAL year/month/day
    //    partitioned lake written by graft.etl.PartitionedLake. Only the
    //    `year=2000/month=6` directory is listed and scanned
    //    (`readPartition`) — round 1 faked this with year(l_shipdate)
    //    expression filters, which full-scan at 100 TB. The DuckDB oracle
    //    recomputes from the raw table, so the write→read round-trip is
    //    also verified.
    Q("q23_partition_window_kpis",
      s"""SELECT ${moneySumSql(revSql)} AS total_revenue,
         |       count(*) AS n_tx,
         |       ${moneyAvgSql(revSql)} AS avg_tx
         |FROM lineitem
         |WHERE year(l_shipdate) = 2000 AND month(l_shipdate) = 6""".stripMargin) { (s, d) =>
      val root = graft.etl.PartitionedLake.ensureLineitemLake(s, d)
      graft.etl.PartitionedLake.readPartition(s, root, 2000, 6)
        .getOrElse(graft.etl.PartitionedLake.read(s, root).limit(0)) // no such month: no rows
        .agg(
          moneySum(rev).as("total_revenue"),
          count(lit(1)).as("n_tx"),
          moneyAvg(rev).as("avg_tx"))
    },

    // ── O1+O2: multi-key ORDER BY asc/desc + LIMIT (athena_queries.sql:59,
    //    README.md:249, dashboard.py:342)
    Q("q24_recent_orders",
      """SELECT o_orderkey, o_orderdate, o_totalprice, o_orderpriority
        |FROM orders
        |ORDER BY o_orderdate DESC, o_totalprice DESC, o_orderkey
        |LIMIT 50""".stripMargin) { (s, d) =>
      ord(s, d)
        .select("o_orderkey", "o_orderdate", "o_totalprice", "o_orderpriority")
        .orderBy(col("o_orderdate").desc, col("o_totalprice").desc, col("o_orderkey"))
        .limit(50)
    },

    // ── U1: UNION ALL (generate_report.py:57). Round-1 version scanned the
    //    same fact twice for two tiers (VERDICT.md "what's wrong" #2); a
    //    union is only the right tool when the branches come from
    //    *different* relations, so this unions high-value rows of two
    //    distinct tables — each side one scan with its filter pushed down.
    Q("q25_union_tiers",
      s"""SELECT src, count(*) AS n, ${moneySumSql("v")} AS revenue FROM (
         |  SELECT 'order' AS src, o_totalprice AS v
         |  FROM orders WHERE o_totalprice > 100000
         |  UNION ALL
         |  SELECT 'line' AS src, l_extendedprice AS v
         |  FROM lineitem WHERE l_extendedprice > 55000
         |) GROUP BY src ORDER BY src""".stripMargin) { (s, d) =>
      val hiOrd = ord(s, d).filter(col("o_totalprice") > 100000)
        .select(lit("order").as("src"), col("o_totalprice").as("v"))
      val hiLi = li(s, d).filter(col("l_extendedprice") > 55000)
        .select(lit("line").as("src"), col("l_extendedprice").as("v"))
      hiOrd.unionByName(hiLi)
        .groupBy("src")
        .agg(count(lit(1)).as("n"), moneySum(col("v")).as("revenue"))
        .orderBy("src")
    },

    // ── Consolidation of the reference's per-level aggregation queries
    //    (SURVEY.md §2.4 note): one ROLLUP instead of N separate scans.
    Q("q26_rollup_flag_status",
      s"""SELECT l_returnflag, l_linestatus,
         |       ${moneySumSql(revSql)} AS revenue, count(*) AS n_tx
         |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
         |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin) { (s, d) =>
      li(s, d)
        .rollup("l_returnflag", "l_linestatus")
        .agg(moneySum(rev).as("revenue"), count(lit(1)).as("n_tx"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    },

    // ── GROUPING SETS consolidation: the global KPI (q01's level), the
    //    daily trend (q04's), and the flag×status rollup (q26's) produced
    //    in ONE pass — one scan, one expanded aggregate — instead of three
    //    separate queries over the same 100 TB fact table, which is the
    //    Spark-native upgrade the reference's query-per-level design begs
    //    for (ref: athena_queries.sql:19-59). The grouping id is built
    //    EXPLICITLY (4·g(day) + 2·g(flag) + g(status)) so the level
    //    encoding is engine-independent by construction; ungrouped keys
    //    are coalesced to sentinels to keep the ordering total.
    Q("q89_grouping_sets",
      s"""SELECT CAST(4*grouping(day) + 2*grouping(flag) + grouping(status) AS BIGINT) AS gid,
         |       coalesce(day, DATE '1900-01-01') AS day,
         |       coalesce(flag, '') AS flag,
         |       coalesce(status, '') AS status,
         |       count(*) AS n_tx,
         |       ${moneySumSql(revSql)} AS revenue
         |FROM (SELECT CAST(l_shipdate AS DATE) AS day, l_returnflag AS flag,
         |             l_linestatus AS status, l_extendedprice, l_discount
         |      FROM lineitem) t
         |GROUP BY GROUPING SETS ((), (day), (flag, status))
         |ORDER BY gid, day, flag, status""".stripMargin) { (s, d) =>
      li(s, d)
        .select(
          col("l_shipdate").cast("date").as("day"),
          col("l_returnflag").as("flag"),
          col("l_linestatus").as("status"),
          col("l_extendedprice"), col("l_discount"))
        .groupingSets(
          Seq(Seq(), Seq(col("day")), Seq(col("flag"), col("status"))),
          col("day"), col("flag"), col("status"))
        .agg(
          (grouping(col("day")) * 4 + grouping(col("flag")) * 2
            + grouping(col("status"))).cast("long").as("gid"),
          count(lit(1)).as("n_tx"),
          moneySum(rev).as("revenue"))
        .select(col("gid"),
          coalesce(col("day"), lit("1900-01-01").cast("date")).as("day"),
          coalesce(col("flag"), lit("")).as("flag"),
          coalesce(col("status"), lit("")).as("status"),
          col("n_tx"), col("revenue"))
        .orderBy("gid", "day", "flag", "status")
    },

    // ── A4 via spark.sql: uncorrelated scalar subquery, run through the
    //    full SQL parse→analyze→optimize path (SURVEY.md §3 entry point 4).
    //    The SQL text is shared verbatim between Spark SQL and DuckDB.
    Q("q27_share_scalar_subquery",
      shareScalarSubquerySql) { (s, d) =>
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      Tables.supplier(s, d).createOrReplaceTempView("supplier")
      s.sql(shareScalarSubquerySql)
    },

    // ── §2.9d: tumbling-window aggregation over the event stream — batch
    //    twin of graft.streaming.StreamingJobs.hourlyWindows.
    Q("q28_hourly_event_windows",
      s"""SELECT epoch_us(CAST(date_trunc('hour', ts) AS TIMESTAMP)) AS window_start,
         |       count(*) AS n, ${moneySumSql("value")} AS total_value
         |FROM events GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      ev(s, d)
        .groupBy(unix_micros(date_trunc("hour", col("ts"))).as("window_start"))
        .agg(count(lit(1)).as("n"), moneySum(col("value")).as("total_value"))
        .orderBy("window_start")
    },

    // ── P11+S2+S9: incremental extraction — strict lower bound at
    //    watermark+1s (extract.py:51-57,104-105; SURVEY.md §7.4 trap 2)
    Q("q29_incremental_since_watermark",
      """SELECT count(*) AS n_new,
        |       epoch_us(CAST(max(ts) AS TIMESTAMP)) AS max_ts_us
        |FROM events WHERE ts > TIMESTAMP '2024-01-15 00:00:01'""".stripMargin) { (s, d) =>
      ev(s, d)
        .filter(col("ts") > lit("2024-01-15 00:00:01").cast("timestamp"))
        .agg(count(lit(1)).as("n_new"), unix_micros(max("ts")).as("max_ts_us"))
    },

    // ── P2-P7+A12+F4: the full ETL cleaning pipeline as ONE lazy plan
    //    (transform.py:10-46 runs it as 7 eager pandas steps). Stage order
    //    preserved: null/zero filter → dedup keep-first → derive y/m/d.
    Q("q30_etl_clean",
      s"""SELECT event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
         |       user_id, event_type,
         |       ${round2Sql("value")} AS value,
         |       CAST(year(ts) AS INTEGER) AS "year",
         |       CAST(month(ts) AS INTEGER) AS "month",
         |       CAST(day(ts) AS INTEGER) AS "day"
         |FROM (SELECT *, row_number() OVER (
         |        PARTITION BY ts, user_id, event_type, value
         |        ORDER BY event_id) AS rn
         |      FROM events
         |      WHERE value IS NOT NULL AND value <> 0
         |        AND event_id IS NOT NULL AND ts IS NOT NULL
         |        AND user_id IS NOT NULL AND event_type IS NOT NULL)
         |WHERE rn = 1 ORDER BY event_id""".stripMargin) { (s, d) =>
      graft.etl.Clean.cleanEvents(ev(s, d))
        .withColumn("ts_us", unix_micros(col("ts"))).drop("ts")
        .orderBy("event_id")
    },

    // ── P7: boolean cast + group-by-boolean (transform.py:27 casts
    //    has_card_reader to bool; athena_queries.sql:93-101 groups by it
    //    with COUNT(DISTINCT truck)). Derived flag: "was returned".
    Q("q43_bool_flag_groups",
      s"""SELECT l_returnflag = 'R' AS was_returned,
         |       count(DISTINCT l_suppkey) AS n_suppliers,
         |       ${moneySumSql(revSql)} AS revenue
         |FROM lineitem GROUP BY 1 ORDER BY was_returned""".stripMargin) { (s, d) =>
      li(s, d)
        .withColumn("was_returned", (col("l_returnflag") === "R").cast("boolean"))
        .groupBy("was_returned")
        .agg(countDistinct("l_suppkey").as("n_suppliers"),
          moneySum(rev).as("revenue"))
        .orderBy("was_returned")
    },

    // ── The full daily-report metrics job (generate_report.py:70-157):
    //    one day's lake directory → global KPIs + best/worst seller + fee
    //    model + net revenue in a single row, folded on the driver from
    //    the report's one Spark action.
    //    Date parameterized (F8 "yesterday"); pinned here for determinism.
    //    The empty-day branch (ref :72-84) is unit-tested in ReportSpec.
    Q("q44_report_metrics",
      s"""WITH slice AS (SELECT * FROM lineitem
         |               WHERE year(l_shipdate) = 2000 AND month(l_shipdate) = 6
         |                 AND day(l_shipdate) = 15),
         |tot AS (SELECT coalesce(${centsSumSql(revSql)}, 0) AS rc, count(*) AS n_tx
         |        FROM slice),
         |tr AS (SELECT s_name, ${centsSumSql(revSql)} AS rc
         |       FROM slice JOIN supplier ON l_suppkey = s_suppkey GROUP BY 1),
         |bw AS (SELECT
         |         coalesce(arg_max(s_name, printf('%020d', rc) || s_name), 'n/a') AS best_truck,
         |         coalesce(max(rc), 0) AS best_rc,
         |         coalesce(arg_min(s_name, printf('%020d', rc) || s_name), 'n/a') AS worst_truck,
         |         coalesce(min(rc), 0) AS worst_rc
         |       FROM tr),
         |pay AS (SELECT o_orderpriority AS method, ${centsSumSql(revSql)} AS rc
         |        FROM slice JOIN orders ON l_orderkey = o_orderkey GROUP BY 1),
         |fees AS (SELECT coalesce(CAST(sum(CASE WHEN lower(method) LIKE '%urgent%'
         |                  THEN CAST(round(rc * 0.02) AS BIGINT) ELSE 0 END) AS BIGINT), 0)
         |                AS fee_c
         |         FROM pay)
         |SELECT '2000-06-15' AS report_date,
         |       rc / 100.0 AS total_revenue,
         |       n_tx,
         |       CASE WHEN n_tx = 0 THEN 0.0 ELSE round(rc / n_tx) / 100.0 END AS avg_tx,
         |       best_truck, best_rc / 100.0 AS best_revenue,
         |       worst_truck, worst_rc / 100.0 AS worst_revenue,
         |       fee_c / 100.0 AS total_fees,
         |       (rc - fee_c) / 100.0 AS net_revenue
         |FROM tot, bw, fees""".stripMargin) { (s, d) =>
      graft.report.Report.metricsDF(s, d, java.time.LocalDate.of(2000, 6, 15))
    },

    // ── Range (non-equi) join: orders binned into literal price bands via
    //    a broadcast interval dimension. Spark plans a
    //    BroadcastNestedLoopJoin — correct for a tiny interval table (each
    //    fact row tests 5 intervals, no shuffle). At scale with a LARGE
    //    interval table the plan changes to a bucketed overlap join
    //    (join on floor(price/width) buckets, then refine) — and for
    //    STATIC bands like these, a width_bucket/CASE projection avoids
    //    the join entirely; this query keeps the genuine join so the
    //    non-equi path is exercised and verified.
    Q("q49_range_join_price_bands", {
      val bandsSql =
        """(VALUES ('t1_low',      CAST(0 AS DOUBLE),      CAST(10000 AS DOUBLE)),
          |        ('t2_mid',      CAST(10000 AS DOUBLE),  CAST(25000 AS DOUBLE)),
          |        ('t3_high',     CAST(25000 AS DOUBLE),  CAST(50000 AS DOUBLE)),
          |        ('t4_premium',  CAST(50000 AS DOUBLE),  CAST(100000 AS DOUBLE)),
          |        ('t5_top',      CAST(100000 AS DOUBLE), CAST(1e12 AS DOUBLE))
          |) AS bands(band, lo, hi)""".stripMargin
      s"""SELECT band, count(*) AS n, ${moneySumSql("o_totalprice")} AS revenue
         |FROM orders JOIN $bandsSql
         |  ON o_totalprice >= lo AND o_totalprice < hi
         |GROUP BY band ORDER BY band""".stripMargin
    }) { (s, d) =>
      import s.implicits._
      val bands = Seq(
        ("t1_low", 0d, 10000d), ("t2_mid", 10000d, 25000d),
        ("t3_high", 25000d, 50000d), ("t4_premium", 50000d, 100000d),
        ("t5_top", 100000d, 1e12))
        .toDF("band", "lo", "hi")
      ord(s, d).join(broadcast(bands),
          col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
        .groupBy("band")
        .agg(count(lit(1)).as("n"), moneySum(col("o_totalprice")).as("revenue"))
        .orderBy("band")
    },

    // ── The STATIC-band twin of q49: when the interval dimension is known
    //    at plan time, a CASE projection replaces the non-equi join
    //    entirely — zero join, zero broadcast, the banding folds into the
    //    scan's WholeStageCodegen span. Same result as q49; keep the join
    //    form for *dynamic* interval dims, use this when bands are literals
    //    (the common case for price/size tiering at 100 TB).
    Q("q61_price_bands_static",
      s"""SELECT CASE WHEN o_totalprice < 10000  THEN 't1_low'
         |            WHEN o_totalprice < 25000  THEN 't2_mid'
         |            WHEN o_totalprice < 50000  THEN 't3_high'
         |            WHEN o_totalprice < 100000 THEN 't4_premium'
         |            ELSE 't5_top' END AS band,
         |       count(*) AS n, ${moneySumSql("o_totalprice")} AS revenue
         |FROM orders GROUP BY 1 ORDER BY band""".stripMargin) { (s, d) =>
      ord(s, d)
        .withColumn("band",
          when(col("o_totalprice") < 10000, "t1_low")
            .when(col("o_totalprice") < 25000, "t2_mid")
            .when(col("o_totalprice") < 50000, "t3_high")
            .when(col("o_totalprice") < 100000, "t4_premium")
            .otherwise("t5_top"))
        .groupBy("band")
        .agg(count(lit(1)).as("n"), moneySum(col("o_totalprice")).as("revenue"))
        .orderBy("band")
    },

    // ── INTERSECT / EXCEPT cohort arithmetic (§2.7 beyond q25's UNION):
    //    customers active in both 1995 and 1996, vs churned (1995 only)
    //    vs newly acquired (1996 only). Spark compiles intersect/except
    //    on a deduplicated key column to aggregate + left-semi/anti hash
    //    joins — both year cohorts shuffle once on o_custkey and every
    //    set op reuses that co-partitioning, so the three branches cost
    //    one exchange each at any scale (no sort, nothing quadratic).
    //    The year predicates push to the orders scan in each branch.
    Q("q121_customer_set_ops",
      """WITH y95 AS (SELECT DISTINCT o_custkey FROM orders
        |             WHERE year(o_orderdate) = 1995),
        |y96 AS (SELECT DISTINCT o_custkey FROM orders
        |        WHERE year(o_orderdate) = 1996)
        |SELECT 'churned_after_1995' AS cohort, count(*) AS n_customers
        |FROM (SELECT o_custkey FROM y95 EXCEPT SELECT o_custkey FROM y96)
        |UNION ALL
        |SELECT 'new_in_1996', count(*)
        |FROM (SELECT o_custkey FROM y96 EXCEPT SELECT o_custkey FROM y95)
        |UNION ALL
        |SELECT 'retained_both_years', count(*)
        |FROM (SELECT o_custkey FROM y95 INTERSECT SELECT o_custkey FROM y96)
        |ORDER BY cohort""".stripMargin) { (s, d) =>
      def cohortKeys(yr: Int) = ord(s, d)
        .filter(year(col("o_orderdate")) === yr)
        .select("o_custkey").distinct()
      val y95 = cohortKeys(1995)
      val y96 = cohortKeys(1996)
      y95.except(y96).agg(count(lit(1)).as("n_customers"))
        .select(lit("churned_after_1995").as("cohort"), col("n_customers"))
        .unionByName(y96.except(y95).agg(count(lit(1)).as("n_customers"))
          .select(lit("new_in_1996").as("cohort"), col("n_customers")))
        .unionByName(y95.intersect(y96).agg(count(lit(1)).as("n_customers"))
          .select(lit("retained_both_years").as("cohort"), col("n_customers")))
        .orderBy("cohort")
    },

    // ── Multiset (bag) set operations — q121's SET semantics keep one
    //    occurrence per key; EXCEPT ALL / INTERSECT ALL keep
    //    MULTIPLICITY (a customer with 5 orders in 1996 and 2 in 1997
    //    contributes 3 rows to the difference, 2 to the intersection —
    //    the "order-count delta as rows" algebra). Spark plans both as a
    //    single shuffle on the key with a count-compare generate, never a
    //    join per duplicate; the oracle is DuckDB's native EXCEPT ALL /
    //    INTERSECT ALL over the same bags.
    Q("q149_order_multiset_ops",
      """WITH a AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996),
        |b AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997)
        |SELECT 'except_all' AS op, count(*) AS n_rows,
        |       count(DISTINCT o_custkey) AS n_keys
        |FROM (SELECT o_custkey FROM a EXCEPT ALL SELECT o_custkey FROM b)
        |UNION ALL
        |SELECT 'intersect_all', count(*), count(DISTINCT o_custkey)
        |FROM (SELECT o_custkey FROM a INTERSECT ALL SELECT o_custkey FROM b)
        |ORDER BY op""".stripMargin) { (s, d) =>
      def bag(yr: Int) = ord(s, d)
        .filter(year(col("o_orderdate")) === yr)
        .select("o_custkey")
      val a = bag(1996)
      val b = bag(1997)
      def stats(df: DataFrame, label: String) = df.agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("o_custkey")).as("n_keys"))
        .select(lit(label).as("op"), col("n_rows"), col("n_keys"))
      stats(a.exceptAll(b), "except_all")
        .unionByName(stats(a.intersectAll(b), "intersect_all"))
        .orderBy("op")
    },

    // ── DECIMAL-typed money pipeline: the spelling users bring from
    //    banking SQL (DECIMAL columns, not this repo's integer-cents
    //    idiom). Cast-to-decimal is exact on both engines (a true
    //    half-cent tie is unrepresentable in a binary double, so the
    //    nearest-cent rounding never disagrees), every product and sum
    //    stays an exact decimal — Spark's DECIMAL(38,·) accumulator and
    //    DuckDB's HUGEINT-backed one hold the same VALUE even though the
    //    precision metadata differs — and the final CAST to DOUBLE of
    //    identical exact values is bit-identical. ANSI mode turns any
    //    silent overflow into a hard error.
    Q("q155_decimal_exact",
      """WITH d AS (SELECT l_returnflag AS flag,
        |                  CAST(l_extendedprice AS DECIMAL(18,2)) AS price,
        |                  CAST(l_discount AS DECIMAL(9,4)) AS disc
        |           FROM lineitem)
        |SELECT flag,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(price) AS DOUBLE) AS gross,
        |       CAST(sum(price * disc) AS DOUBLE) AS discount_given,
        |       CAST(sum(price) - sum(price * disc) AS DOUBLE) AS net
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      li(s, d)
        .select(col("l_returnflag").as("flag"),
          col("l_extendedprice").cast("decimal(18,2)").as("price"),
          col("l_discount").cast("decimal(9,4)").as("disc"))
        .groupBy("flag")
        .agg(
          count(lit(1)).as("n"),
          sum(col("price")).as("sp"),
          sum(col("price") * col("disc")).as("spd"))
        .select(col("flag"), col("n"),
          col("sp").cast("double").as("gross"),
          col("spd").cast("double").as("discount_given"),
          (col("sp") - col("spd")).cast("double").as("net"))
        .orderBy("flag")
    }
  )

  /** Shared Spark-SQL/DuckDB text for the scalar-subquery share query.
    * Decimal literals are cast to DOUBLE because Spark SQL types `10000.0`
    * as DECIMAL(5,1) (propagating decimal math) while DuckDB types it as
    * DOUBLE — the casts pin both engines to the same IEEE arithmetic. */
  private lazy val shareScalarSubquerySql: String =
    s"""SELECT s_name,
       |       round(CAST(10000.0 AS DOUBLE) * sum(${centsSql(revSql)})
       |             / (SELECT sum(${centsSql(revSql)}) FROM lineitem))
       |         / CAST(100.0 AS DOUBLE) AS share_pct
       |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
       |GROUP BY s_name ORDER BY share_pct DESC, s_name""".stripMargin
}
