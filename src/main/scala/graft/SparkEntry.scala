package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.ScalarFns._
import graft.registry.Query
import graft.registry.QuerySupport.{silverClean, t}

/** Driver contract — one `queries` entry per operator from SURVEY.md §2
  * (parity surface, q01-q28) and per EXT LLM-data operator (q30+), each
  * paired with DuckDB-runnable oracle SQL over the same parquet tables.
  * Both maps are views of the one registry, [[graft.registry.Query.all]],
  * whose records keep each build beside its oracle (one file per family
  * under `graft/registry/`).
  *
  * Determinism rules used throughout (so Spark and DuckDB hash-match):
  *  - sums/avgs of doubles go through decimal(20,6) (see
  *    [[graft.functions.ScalarFns.exactSum]]) — bit-exact at any
  *    parallelism, any engine;
  *  - surrogate keys only render ints/strings/timestamps (portable);
  *  - dedup/top-k windows use total orderings.
  */
object SparkEntry {

  /** Flagship query (SURVEY.md §7.2): silver-style clean of lineitem →
    * monthly gold aggregate. Driver smoke-checks rows>0 at sf0.001. */
  def entry(spark: SparkSession): DataFrame = {
    val cleaned = silverClean(t(spark, "/root/testdata/sf0.001", "lineitem"))
    cleaned.groupBy(monthKey(col("l_shipdate")).as("ship_month"))
      .agg(count(lit(1)).as("n_lines"),
        exactSum(col("revenue")).as("monthly_revenue"),
        exactAvg(col("clean_price")).as("avg_price"))
  }

  /** Every query's Spark build, by name. Reading it evaluates no oracle SQL. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    Query.all.map(q => q.name -> q.build).toMap

  /** Every query's DuckDB oracle SQL, by name (evaluates every oracle). */
  lazy val oracleSql: Map[String, String] =
    Query.all.map(q => q.name -> q.oracle).toMap
}
