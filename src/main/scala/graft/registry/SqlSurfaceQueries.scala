package graft
package registry

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.ScalarFns._
import graft.operators.{Dedup, Layers}
import graft.llmdata.{DedupOps, Multimodal, Similarity, TextAnalysis}

import QuerySupport._

/** SQL-surface pack: the dialect a dbt user writes, as spark.sql TEXT
  * over [[graft.sql.SqlCatalog]] views — each query's Spark side is SQL
  * only, no DataFrame ops, pinning the dialect end-to-end (CTE chain +
  * window, scalar subquery, 3-table medallion join). */
private[graft] object SqlSurfaceQueries {

  val all: Seq[Query] = Seq(
    // CTE chain + ranking window: top-5 orders per market segment (the
    // shared-dialect subset: CTE chain, equi-join, ranking window with a
    // total-order tiebreak, decimal-grid cents)
    Query.sharedSql("q331_sql_cte_window",
      """WITH rev AS (
        |  SELECT o_custkey, o_orderkey,
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        |  FROM orders),
        |ranked AS (
        |  SELECT c.c_mktsegment AS segment, r.o_orderkey, r.cents,
        |    row_number() OVER (PARTITION BY c.c_mktsegment
        |      ORDER BY r.cents DESC, r.o_orderkey ASC) AS rn
        |  FROM rev r JOIN customer c ON r.o_custkey = c.c_custkey)
        |SELECT segment, CAST(rn AS BIGINT) AS rn, o_orderkey, cents
        |FROM ranked WHERE rn <= 5""".stripMargin),

    // scalar subquery — the SQL form of P5's high-watermark predicate
    // (reference: silver_yellow_tripdata.sql:9-11's is_incremental()
    // MAX-watermark filter)
    Query.sharedSql("q332_sql_scalar_subquery",
      """SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
        |    AS BIGINT)) AS BIGINT) AS price_cents
        |FROM lineitem
        |WHERE l_shipdate > (SELECT MAX(l_shipdate) - INTERVAL 90 DAY
        |  FROM lineitem)
        |GROUP BY 1""".stripMargin),

    // 3-table join ACROSS medallion views (silver × gold_daily ×
    // gold_vendor, from registerLayers) — one Catalyst plan through
    // the whole lineage, integer-only aggregates across the join
    Query("q333_sql_medallion_join", (s, d) => {
      // three consumers (fact side + two gold marts) — materialize
      // silver once instead of re-deriving the clean per view (§2.4;
      // plan: 3 lineitem scans + 3 silver exchanges -> 1 each)
      graft.sql.SqlCatalog.registerLayers(s, tripWithTotal(t(s, d, "lineitem")),
        materializeSilver = true)
      s.sql("""SELECT s.vendor_name,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(d.total_trips) AS BIGINT) AS sum_day_trips,
        |  CAST(MAX(v.total_trips) AS BIGINT) AS vendor_trips
        |FROM silver_yellow_tripdata s
        |JOIN gold_daily_summary d
        |  ON CAST(s.tpep_pickup_datetime AS DATE) = d.trip_date
        |JOIN gold_vendor_summary v ON s.vendor_name = v.vendor_name
        |GROUP BY 1""".stripMargin)
    },
      (tripSilverSql + ",\n" +
        """d AS (SELECT CAST(pickup AS DATE) AS trip_date,
          |    COUNT(*) AS total_trips FROM silver GROUP BY 1),
          |v AS (SELECT vendor_name, COUNT(*) AS total_trips
          |  FROM silver GROUP BY 1)
          |SELECT s.vendor_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
          |  CAST(SUM(d.total_trips) AS BIGINT) AS sum_day_trips,
          |  CAST(MAX(v.total_trips) AS BIGINT) AS vendor_trips
          |FROM silver s
          |JOIN d ON CAST(s.pickup AS DATE) = d.trip_date
          |JOIN v ON s.vendor_name = v.vendor_name
          |GROUP BY 1""".stripMargin)),
  )
}
