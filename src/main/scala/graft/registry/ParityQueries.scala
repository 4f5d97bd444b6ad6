package graft
package registry

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.ScalarFns._
import graft.operators.{Dedup, Layers}
import graft.llmdata.{DedupOps, Multimodal, Similarity, TextAnalysis}

import QuerySupport._

/** The parity surface (q01-q28): one query per operator of the
  * reference's dbt/Spark pipeline (SURVEY.md §2), each beside the DuckDB
  * SQL the oracle runs over the same parquet tables. */
private[graft] object ParityQueries {

  val all: Seq[Query] = Seq(
    // P1+P4+F11+S5: explicit projection, month-key filter
    Query("q01_bronze_project", (s, d) =>
      t(s, d, "lineitem")
        .select("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .filter(monthKey(col("l_shipdate")) === "1996-03"),
      """SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem WHERE strftime(l_shipdate, '%Y-%m') = '1996-03'""".stripMargin),

    // F1-F8+P7+W1: full silver clean on the lineitem stand-in
    Query("q02_silver_clean", (s, d) =>
      silverClean(t(s, d, "lineitem"))
        .select("line_id", "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
          "clean_price", "clean_discount", "flag_desc", "revenue"),
      s"""SELECT line_id, l_orderkey, l_partkey, l_suppkey, l_linenumber,
         |  clean_price, clean_discount, flag_desc, revenue
         |FROM ($silverCleanSql)""".stripMargin),

    // A1+F9: gold daily summary on events
    Query("q03_gold_daily", (s, d) =>
      t(s, d, "events").groupBy(date_format(col("ts"), "yyyy-MM-dd").as("event_date"))
        .agg(count(lit(1)).as("total_events"),
          exactSum(col("value")).as("total_value"),
          exactAvg(col("value")).as("avg_value"),
          countDistinct(col("user_id")).as("n_users")),
      s"""SELECT strftime(ts, '%Y-%m-%d') AS event_date, COUNT(*) AS total_events,
         |  ${sqlSum("value")} AS total_value, ${sqlAvg("value")} AS avg_value,
         |  COUNT(DISTINCT user_id) AS n_users
         |FROM events GROUP BY 1""".stripMargin),

    // A2+F10/F11: gold monthly summary on orders
    Query("q04_gold_monthly", (s, d) =>
      t(s, d, "orders").groupBy(monthKey(col("o_orderdate")).as("revenue_month"))
        .agg(exactSum(col("o_totalprice")).as("total_monthly_revenue"),
          count(lit(1)).as("total_monthly_orders"),
          exactAvg(col("o_totalprice")).as("avg_order_price"),
          countDistinct(col("o_custkey")).as("n_customers")),
      s"""SELECT strftime(o_orderdate, '%Y-%m') AS revenue_month,
         |  ${sqlSum("o_totalprice")} AS total_monthly_revenue,
         |  COUNT(*) AS total_monthly_orders,
         |  ${sqlAvg("o_totalprice")} AS avg_order_price,
         |  COUNT(DISTINCT o_custkey) AS n_customers
         |FROM orders GROUP BY 1""".stripMargin),

    // A3: two-key gold zone summary
    Query("q05_gold_zone", (s, d) =>
      t(s, d, "lineitem")
        .groupBy(monthKey(col("l_shipdate")).as("ship_month"), col("l_suppkey"))
        .agg(exactSum(col("l_extendedprice")).as("zone_revenue"),
          count(lit(1)).as("zone_lines")),
      s"""SELECT strftime(l_shipdate, '%Y-%m') AS ship_month, l_suppkey,
         |  ${sqlSum("l_extendedprice")} AS zone_revenue, COUNT(*) AS zone_lines
         |FROM lineitem GROUP BY 1, 2""".stripMargin),

    // A4+F1: vendor-style decode + aggregate
    Query("q06_gold_vendor", (s, d) =>
      t(s, d, "orders")
        .groupBy(when(col("o_orderstatus") === "O", "Open")
          .when(col("o_orderstatus") === "F", "Fulfilled")
          .when(col("o_orderstatus") === "P", "Pending")
          .otherwise("Unknown").as("status_name"))
        .agg(count(lit(1)).as("total_orders"),
          exactSum(col("o_totalprice")).as("total_revenue"),
          exactAvg(col("o_totalprice")).as("avg_price")),
      s"""SELECT CASE o_orderstatus WHEN 'O' THEN 'Open' WHEN 'F' THEN 'Fulfilled'
         |    WHEN 'P' THEN 'Pending' ELSE 'Unknown' END AS status_name,
         |  COUNT(*) AS total_orders, ${sqlSum("o_totalprice")} AS total_revenue,
         |  ${sqlAvg("o_totalprice")} AS avg_price
         |FROM orders GROUP BY 1""".stripMargin),

    // A5+F12+F13: payment-style summary with guarded post-agg ratio
    Query("q07_gold_payment", (s, d) =>
      t(s, d, "orders")
        .groupBy(coalesce(col("o_orderpriority"), lit("Unknown")).as("priority"))
        .agg(count(lit(1)).as("total_orders"),
          exactSum(col("o_totalprice")).as("total_revenue"),
          exactSum(when(col("o_orderstatus") === "F", col("o_totalprice")).otherwise(0.0)).as("fulfilled_revenue"))
        .withColumn("fulfilled_percent",
          round(guardedPercent(col("fulfilled_revenue"), col("total_revenue")), 2)),
      s"""SELECT priority, total_orders, total_revenue, fulfilled_revenue,
         |  ROUND(CASE WHEN total_revenue <= 0 THEN 0
         |    ELSE fulfilled_revenue / total_revenue * 100 END, 2) AS fulfilled_percent
         |FROM (
         |  SELECT COALESCE(o_orderpriority, 'Unknown') AS priority,
         |    COUNT(*) AS total_orders, ${sqlSum("o_totalprice")} AS total_revenue,
         |    ${sqlSum("CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0 END")} AS fulfilled_revenue
         |  FROM orders GROUP BY 1)""".stripMargin),

    // P5+A6: strict high-watermark via scalar subquery (driver-side scalar)
    Query("q08_watermark_strict", (s, d) => {
      val ev = t(s, d, "events")
      // generic get: ts may load as TIMESTAMP or TIMESTAMP_NTZ depending on
      // parquet isAdjustedToUTC — lit() handles both runtime classes
      val wm = ev.filter(col("event_type") === "signup").agg(max(col("ts"))).first().get(0)
      ev.filter(col("ts") > lit(wm)).select("event_id", "ts", "user_id", "event_type", "value")
    },
      """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value
        |FROM events
        |WHERE ts > (SELECT MAX(ts) FROM events WHERE event_type = 'signup')""".stripMargin),

    // P6+F14: COALESCE-floored inclusive month watermark (empty source → floor)
    Query("q09_watermark_floor", (s, d) => {
      val ev = t(s, d, "events")
      val wmRow = ev.filter(col("event_type") === "__none__").agg(max(col("ts"))).first()
      val floorLit = lit("1900-01-01 00:00:00").cast(ev.schema("ts").dataType)
      val wm = if (wmRow.isNullAt(0)) floorLit else lit(wmRow.get(0))
      ev.filter(date_trunc("month", col("ts")) >= wm)
        .agg(count(lit(1)).as("n_after_floor"))
    },
      """SELECT COUNT(*) AS n_after_floor FROM events
        |WHERE date_trunc('month', CAST(ts AS TIMESTAMP)) >=
        |  COALESCE((SELECT MAX(CAST(ts AS TIMESTAMP)) FROM events WHERE event_type = '__none__'),
        |           TIMESTAMP '1900-01-01')""".stripMargin),

    // J1+Q9: referential-integrity left-anti join (non-empty by filtered parent)
    Query("q10_anti_join_ri", (s, d) => {
      val solvent = t(s, d, "customer").filter(col("c_acctbal") > 0)
      t(s, d, "orders").join(broadcast(solvent), col("o_custkey") === col("c_custkey"), "left_anti")
        .select("o_orderkey", "o_custkey")
    },
      """SELECT o_orderkey, o_custkey FROM orders o
        |WHERE NOT EXISTS (SELECT 1 FROM customer c
        |  WHERE c.c_custkey = o.o_custkey AND c.c_acctbal > 0)""".stripMargin),

    // A8+Q7: uniqueness violations (GROUP BY ... HAVING count>1)
    Query("q11_unique_violations", (s, d) =>
      t(s, d, "lineitem").groupBy(col("l_orderkey")).agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") > 1),
      """SELECT l_orderkey, COUNT(*) AS cnt FROM lineitem
        |GROUP BY 1 HAVING COUNT(*) > 1""".stripMargin),

    // W1: DISTINCT ON — first event per user by (ts, event_id)
    Query("q12_distinct_on", (s, d) =>
      Dedup.firstRowPerKey(t(s, d, "events"), Seq(col("user_id")),
        Seq(col("ts"), col("event_id")))
        .select("user_id", "event_id", "ts", "event_type", "value"),
      """SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events) WHERE rn = 1""".stripMargin),

    // F4+F5: sub-second epoch arithmetic + round
    Query("q13_epoch_minutes", (s, d) =>
      t(s, d, "events").select(col("event_id"),
        round(epochSeconds(col("ts"), date_trunc("day", col("ts"))) / 60.0, 2)
          .as("minutes_into_day")),
      """SELECT event_id,
        |  ROUND((epoch(CAST(ts AS TIMESTAMP)) - epoch(date_trunc('day', CAST(ts AS TIMESTAMP)))) / 60.0, 2)
        |    AS minutes_into_day
        |FROM events""".stripMargin),

    // F2/F3+P7: CASE decode + set-membership filter
    Query("q14_decode_filter", (s, d) =>
      t(s, d, "events").filter(col("event_type").isin("click", "view", "purchase"))
        .select(col("event_id"),
          when(col("event_type") === "click", "Click")
            .when(col("event_type") === "view", "Page view")
            .when(col("event_type") === "purchase", "Purchase")
            .otherwise("Unknown").as("type_desc")),
      """SELECT event_id, CASE event_type WHEN 'click' THEN 'Click'
        |  WHEN 'view' THEN 'Page view' WHEN 'purchase' THEN 'Purchase'
        |  ELSE 'Unknown' END AS type_desc
        |FROM events WHERE event_type IN ('click', 'view', 'purchase')""".stripMargin),

    // Q2/A9: row-count gate
    Query("q15_rowcount", (s, d) =>
      t(s, d, "lineitem").agg(count(lit(1)).as("row_cnt")),
      "SELECT COUNT(*) AS row_cnt FROM lineitem"),

    // Q3: null-fraction metrics (count-exact division)
    Query("q16_null_metrics", (s, d) =>
      t(s, d, "events").agg(count(lit(1)).as("n"),
          count(when(col("props").isNull, 1)).as("props_nulls"))
        .withColumn("null_frac", col("props_nulls").cast("double") / col("n")),
      """SELECT COUNT(*) AS n,
        |  COUNT(CASE WHEN props IS NULL THEN 1 END) AS props_nulls,
        |  CAST(COUNT(CASE WHEN props IS NULL THEN 1 END) AS DOUBLE) / COUNT(*) AS null_frac
        |FROM events""".stripMargin),

    // Q4: between-with-mostly fraction (NULLs excluded from denominator)
    Query("q17_between_mostly", (s, d) =>
      t(s, d, "lineitem").agg(
          count(col("l_quantity")).as("nonnull_cnt"),
          count(when(col("l_quantity") >= 1 && col("l_quantity") <= 50, 1)).as("pass_cnt"))
        .withColumn("pass_frac", col("pass_cnt").cast("double") / col("nonnull_cnt"))
        .withColumn("passed", col("pass_frac") >= 0.99),
      """SELECT COUNT(l_quantity) AS nonnull_cnt,
        |  COUNT(CASE WHEN l_quantity >= 1 AND l_quantity <= 50 THEN 1 END) AS pass_cnt,
        |  CAST(COUNT(CASE WHEN l_quantity >= 1 AND l_quantity <= 50 THEN 1 END) AS DOUBLE)
        |    / COUNT(l_quantity) AS pass_frac,
        |  (CAST(COUNT(CASE WHEN l_quantity >= 1 AND l_quantity <= 50 THEN 1 END) AS DOUBLE)
        |    / COUNT(l_quantity)) >= 0.99 AS passed
        |FROM lineitem""".stripMargin),

    // Q8: accepted_values violations (expected empty)
    Query("q18_accepted_values", (s, d) =>
      t(s, d, "orders")
        .filter(col("o_orderstatus").isNotNull && !col("o_orderstatus").isin("F", "O", "P"))
        .select("o_orderkey", "o_orderstatus"),
      """SELECT o_orderkey, o_orderstatus FROM orders
        |WHERE o_orderstatus IS NOT NULL AND o_orderstatus NOT IN ('F', 'O', 'P')""".stripMargin),

    // P9/Q10: singular test — no negative totals (expected empty)
    Query("q19_no_negative_totals", (s, d) =>
      t(s, d, "orders").filter(col("o_totalprice") < 0)
        .select("o_orderkey", "o_totalprice"),
      "SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice < 0"),

    // §2.7: the fused CheckSuite itself, results as a table
    Query("q20_check_suite", (s, d) => {
      import graft.checks._
      val li = t(s, d, "lineitem")
      val results = new CheckSuite(Seq(
        NotNull("l_orderkey"),
        Between("l_quantity", 1, 50, 0.99),
        InSet("l_returnflag", Seq("A", "N", "R")),
        NoRowsWhere("neg_price", col("l_extendedprice") < 0),
        RowCountBetween(1))).run(li)
      import s.implicits._
      results.map(r => (r.constraint, r.column.orNull, r.passed, r.unexpectedPercent))
        .toDF("constraint_name", "column_name", "passed", "unexpected_percent")
    },
      """SELECT 'not_null(l_orderkey)' AS constraint_name, 'l_orderkey' AS column_name,
        |  (SELECT COUNT(CASE WHEN l_orderkey IS NULL THEN 1 END) FROM lineitem) = 0 AS passed,
        |  (SELECT CAST(COUNT(CASE WHEN l_orderkey IS NULL THEN 1 END) AS DOUBLE) / COUNT(*) * 100 FROM lineitem) AS unexpected_percent
        |UNION ALL
        |SELECT 'between(l_quantity,1.0,50.0)', 'l_quantity',
        |  (SELECT CAST(COUNT(CASE WHEN l_quantity >= 1 AND l_quantity <= 50 THEN 1 END) AS DOUBLE) >= 0.99 * COUNT(l_quantity) - 1e-9 FROM lineitem),
        |  (SELECT CAST(COUNT(CASE WHEN l_quantity IS NOT NULL AND NOT (l_quantity >= 1 AND l_quantity <= 50) THEN 1 END) AS DOUBLE) / COUNT(l_quantity) * 100 FROM lineitem)
        |UNION ALL
        |SELECT 'in_set(l_returnflag)', 'l_returnflag',
        |  (SELECT COUNT(CASE WHEN l_returnflag IS NOT NULL AND l_returnflag NOT IN ('A','N','R') THEN 1 END) = 0 FROM lineitem),
        |  (SELECT CAST(COUNT(CASE WHEN l_returnflag IS NOT NULL AND l_returnflag NOT IN ('A','N','R') THEN 1 END) AS DOUBLE) / COUNT(l_returnflag) * 100 FROM lineitem)
        |UNION ALL
        |SELECT 'no_rows_where(neg_price)', NULL,
        |  (SELECT COUNT(CASE WHEN l_extendedprice < 0 THEN 1 END) = 0 FROM lineitem),
        |  (SELECT CAST(COUNT(CASE WHEN l_extendedprice < 0 THEN 1 END) AS DOUBLE) / COUNT(*) * 100 FROM lineitem)
        |UNION ALL
        |SELECT 'row_count_between(1,9223372036854775807)', NULL,
        |  (SELECT COUNT(*) >= 1 FROM lineitem), 0.0""".stripMargin),

    // I1+F15: metadata month cursor (MAX month + 1)
    Query("q21_month_cursor", (s, d) =>
      t(s, d, "orders").agg(
        date_format(add_months(max(col("o_orderdate")), 1), "yyyy-MM").as("next_month")),
      "SELECT strftime(MAX(o_orderdate) + INTERVAL 1 MONTH, '%Y-%m') AS next_month FROM orders"),

    // S8/S9: keyed delete+insert merge semantics
    Query("q22_delete_insert", (s, d) => {
      val li = t(s, d, "lineitem")
      val existing = li.filter(col("l_linenumber") <= 3)
      val incoming = li.filter(col("l_linenumber") >= 3)
      graft.incremental.Writers
        .keyedDeleteInsert(Some(existing), incoming, Seq("l_orderkey", "l_linenumber"))
        .groupBy(col("l_linenumber")).agg(count(lit(1)).as("cnt"))
    },
      """SELECT l_linenumber, COUNT(*) AS cnt FROM (
        |  SELECT * FROM lineitem e WHERE l_linenumber <= 3 AND NOT EXISTS (
        |    SELECT 1 FROM lineitem i WHERE i.l_linenumber >= 3
        |      AND i.l_orderkey = e.l_orderkey AND i.l_linenumber = e.l_linenumber)
        |  UNION ALL
        |  SELECT * FROM lineitem WHERE l_linenumber >= 3
        |) GROUP BY 1""".stripMargin),

    // J1 variant: distinct orphan keys against a filtered parent
    Query("q23_ri_orphans", (s, d) => {
      val bigOrders = t(s, d, "orders").filter(col("o_totalprice") > 100000)
      t(s, d, "lineitem").select(col("l_orderkey")).distinct()
        .join(bigOrders.select(col("o_orderkey").as("l_orderkey")), Seq("l_orderkey"), "left_anti")
    },
      """SELECT DISTINCT l_orderkey FROM lineitem l
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_orderkey = l.l_orderkey AND o.o_totalprice > 100000)""".stripMargin),

    // I2/streaming-analog: epoch-aligned tumbling window aggregate
    Query("q24_window_tumbling", (s, d) =>
      t(s, d, "events").groupBy(window(col("ts"), "6 hours"))
        .agg(count(lit(1)).as("n_events"), exactSum(col("value")).as("window_value"))
        .select(col("window.start").as("bucket_start"), col("n_events"), col("window_value")),
      s"""SELECT make_timestamp(CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 21600) * 21600 * 1000000 AS BIGINT)) AS bucket_start,
         |  COUNT(*) AS n_events, ${sqlSum("value")} AS window_value
         |FROM events GROUP BY 1""".stripMargin),

    // top-k per group (free Spark surface; SURVEY §2.5)
    Query("q25_topk_per_group", (s, d) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, d, "orders").withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select("o_orderpriority", "rank", "o_orderkey", "o_totalprice")
    },
      """SELECT o_orderpriority, rank, o_orderkey, o_totalprice FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
        |  FROM orders) WHERE rank <= 3""".stripMargin),

    // broadcast dimension join + aggregate
    Query("q26_join_enrich", (s, d) =>
      t(s, d, "lineitem")
        .join(broadcast(t(s, d, "part")), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_lines"),
          exactSum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("brand_revenue")),
      s"""SELECT p_brand, COUNT(*) AS n_lines,
         |  ${sqlSum("l_extendedprice * (1.0 - l_discount)")} AS brand_revenue
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |GROUP BY 1""".stripMargin),

    // multi-hop star join (orders→customer→nation→region)
    Query("q27_star_join", (s, d) =>
      t(s, d, "orders")
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_orders"), exactSum(col("o_totalprice")).as("region_revenue")),
      s"""SELECT r_name, COUNT(*) AS n_orders, ${sqlSum("o_totalprice")} AS region_revenue
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |  JOIN nation ON c_nationkey = n_nationkey
         |  JOIN region ON n_regionkey = r_regionkey
         |GROUP BY 1""".stripMargin),

    // uncorrelated scalar subquery (exact-decimal avg, driver-side scalar)
    Query("q28_scalar_subquery", (s, d) => {
      val o = t(s, d, "orders")
      val avgPrice = o.agg(exactAvg(col("o_totalprice"))).first().getDouble(0)
      o.filter(col("o_totalprice") > avgPrice).select("o_orderkey", "o_totalprice")
    },
      s"""SELECT o_orderkey, o_totalprice FROM orders
         |WHERE o_totalprice > (SELECT ${sqlAvg("o_totalprice")} FROM orders)""".stripMargin),

    // left-semi join (EXISTS)
    Query("q58_semi_join", (s, d) => {
      val heavy = t(s, d, "lineitem").filter(col("l_quantity") >= 49)
      t(s, d, "orders").join(heavy, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .select("o_orderkey", "o_totalprice")
    },
      """SELECT o_orderkey, o_totalprice FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 49)""".stripMargin),

    // full outer join of two aggregates (null-completing both sides)
    Query("q59_full_outer", (s, d) => {
      val ev = t(s, d, "events")
      def daily(tpe: String, alias: String) =
        ev.filter(col("event_type") === tpe)
          .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("event_date"))
          .agg(count(lit(1)).as(alias))
      daily("click", "clicks").join(daily("purchase", "purchases"), Seq("event_date"), "full_outer")
    },
      """SELECT COALESCE(c.event_date, p.event_date) AS event_date, c.clicks, p.purchases
        |FROM (SELECT strftime(ts, '%Y-%m-%d') AS event_date, COUNT(*) AS clicks
        |      FROM events WHERE event_type = 'click' GROUP BY 1) c
        |FULL OUTER JOIN
        |     (SELECT strftime(ts, '%Y-%m-%d') AS event_date, COUNT(*) AS purchases
        |      FROM events WHERE event_type = 'purchase' GROUP BY 1) p
        |  ON c.event_date = p.event_date""".stripMargin),

    // running-frame window aggregates + lag (free Spark surface, §2.5)
    Query("q53_running_total", (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      // decimal-path running sum: DuckDB windows aggregate via segment
      // tree (reassociated), Spark sequentially — doubles diverge in low
      // bits, decimals cannot
      t(s, d, "events").select(col("event_id"), col("user_id"),
        sum(col("value").cast("decimal(20,6)"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double").as("running_value"),
        lag(col("event_id"), 1).over(w).as("prev_event_id"))
    },
      """SELECT event_id, user_id,
        |  CAST(SUM(CAST(value AS DECIMAL(20,6))) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value,
        |  lag(event_id, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_event_id
        |FROM events""".stripMargin),

    // rollup with grouping indicators
    Query("q54_rollup", (s, d) =>
      t(s, d, "orders")
        .rollup(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("cnt"),
          exactSum(col("o_totalprice")).as("revenue"),
          grouping(col("o_orderpriority")).as("g_priority"),
          grouping(col("o_orderstatus")).as("g_status")),
      s"""SELECT o_orderpriority, o_orderstatus, COUNT(*) AS cnt,
         |  ${sqlSum("o_totalprice")} AS revenue,
         |  CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
         |  CAST(GROUPING(o_orderstatus) AS INT) AS g_status
         |FROM orders GROUP BY ROLLUP(o_orderpriority, o_orderstatus)""".stripMargin),

    // set operations (INTERSECT / EXCEPT, distinct semantics)
    Query("q55_set_ops", (s, d) => {
      val o = t(s, d, "orders")
      def custsWith(status: String) =
        o.filter(col("o_orderstatus") === status).select("o_custkey")
      custsWith("F").intersect(custsWith("O")).except(custsWith("P"))
    },
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'""".stripMargin),

    // exact percentiles (linear interpolation) per group
    Query("q56_percentiles", (s, d) =>
      t(s, d, "events").groupBy(col("event_type"))
        .agg(round(expr("percentile(value, 0.5)"), 6).as("median_value"),
          round(expr("percentile(value, 0.9)"), 6).as("p90_value")),
      """SELECT event_type,
        |  ROUND(quantile_cont(value, 0.5), 6) AS median_value,
        |  ROUND(quantile_cont(value, 0.9), 6) AS p90_value
        |FROM events GROUP BY 1""".stripMargin),

    // pivot: per-day value sums by event type
    Query("q57_pivot", (s, d) =>
      t(s, d, "events")
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("event_date"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(exactSum(col("value"))),
      s"""SELECT strftime(ts, '%Y-%m-%d') AS event_date,
         |  ${sqlSum("CASE WHEN event_type = 'click' THEN value END")} AS click,
         |  ${sqlSum("CASE WHEN event_type = 'error' THEN value END")} AS error,
         |  ${sqlSum("CASE WHEN event_type = 'purchase' THEN value END")} AS purchase,
         |  ${sqlSum("CASE WHEN event_type = 'signup' THEN value END")} AS signup,
         |  ${sqlSum("CASE WHEN event_type = 'view' THEN value END")} AS view
         |FROM events GROUP BY 1""".stripMargin),
  )

  /** Oracle mirror of [[QuerySupport.silverClean]]'s surrogate key and
    * first-row-per-key clean. */
  private lazy val lineId =
    "md5(COALESCE(CAST(l_orderkey AS VARCHAR),'-1') || COALESCE(CAST(l_partkey AS VARCHAR),'-1') || " +
      "COALESCE(CAST(l_suppkey AS VARCHAR),'-1') || COALESCE(CAST(l_linenumber AS VARCHAR),'-1'))"

  private lazy val silverCleanSql =
    s"""SELECT * FROM (
       |  SELECT $lineId AS line_id, l_orderkey, l_partkey, l_suppkey, l_linenumber, l_shipdate,
       |    ABS(COALESCE(l_extendedprice, 0)) AS clean_price,
       |    ABS(COALESCE(l_discount, 0)) AS clean_discount,
       |    ABS(COALESCE(l_tax, 0)) AS clean_tax,
       |    CASE l_returnflag WHEN 'R' THEN 'Refunded' WHEN 'A' THEN 'Accepted'
       |      WHEN 'N' THEN 'None' ELSE 'Unknown' END AS flag_desc,
       |    ABS(COALESCE(l_extendedprice, 0)) * (1.0 - ABS(COALESCE(l_discount, 0))) AS revenue,
       |    row_number() OVER (PARTITION BY $lineId ORDER BY l_shipdate) AS rn
       |  FROM lineitem WHERE l_linenumber IN (1,2,3,4,5,6)
       |) WHERE rn = 1""".stripMargin
}
