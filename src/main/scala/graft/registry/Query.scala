package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One oracled query: its name, its Spark build over a table directory,
  * and the DuckDB SQL the oracle runs over the same parquet tables. The
  * oracle is by-name, so building the registry (or reading
  * [[graft.SparkEntry.queries]]) evaluates no SQL string. */
final class Query(val name: String,
                  val build: (SparkSession, String) => DataFrame,
                  oracleSql: => String) {
  def oracle: String = oracleSql
}

object Query {
  def apply(name: String, build: (SparkSession, String) => DataFrame,
            oracle: => String): Query = new Query(name, build, oracle)

  /** A shared-dialect query: ONE SQL text, run by Spark over the
    * [[graft.sql.SqlCatalog]] views and by DuckDB over the same tables —
    * the oracle runs EXACTLY the SQL Spark ran. */
  def sharedSql(name: String, text: => String): Query =
    Query(name, (s, d) => {
      graft.sql.SqlCatalog.registerTables(s, d)
      s.sql(text)
    }, text)

  /** Every registered query, family by family. Query ids are contiguous
    * from q01 EXCEPT q29: retired in round 7 (its operator was folded
    * into q30's exact-dedup family) and the id is never reused, so
    * CORRECTNESS artifacts legitimately skip from q28 to q30. */
  lazy val all: Seq[Query] = ParityQueries.all ++ LlmDataQueries.all ++
    Round6Queries.all ++ SqlSurfaceQueries.all ++ SinkReplayQueries.all
}
