package graft.perfbench

import java.time.YearMonth

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The independent answer key for a lake the pipeline built: plain Spark
  * over the generator's rows, sharing no code with the engine. Returns one
  * message per mismatch; empty means the lake is right. */
object Expected {

  final case class MonthTotals(trips: Long, revenueCents: Long)

  /** Silver rows and gold-monthly revenue the month `ym` must produce. */
  def month(spark: SparkSession, rows: IndexedSeq[org.apache.spark.sql.Row],
            ym: YearMonth): MonthTotals = {
    val raw = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4), TripGen.schema)
    val cents = TripGen.moneyColumns
      .map(c => round(abs(coalesce(col(c), lit(0.0))) * 100).cast("long"))
      .reduce(_ + _)
    val r = raw
      .filter(date_format(col("tpep_pickup_datetime"), "yyyy-MM") === ym.toString)
      .filter(col("payment_type").between(1, 6))
      .distinct()
      .agg(count(lit(1)), coalesce(sum(cents), lit(0L)))
      .first()
    MonthTotals(r.getLong(0), r.getLong(1))
  }

  /** Compare the lake under `lake` with `expected` per loaded month, and
    * require every ledger run SUCCESS and every recorded check passed. */
  def check(spark: SparkSession, lake: String,
            expected: Map[YearMonth, MonthTotals]): Seq[String] = {
    val silver = spark.read.parquet(s"$lake/silver")
      .groupBy(col("pickup_month")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val gold = spark.read.parquet(s"$lake/gold_monthly")
      .select(date_format(col("revenue_month"), "yyyy-MM"),
        col("total_monthly_trips"), col("total_monthly_revenue"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val perMonth = expected.toSeq.sortBy(_._1.toString).flatMap { case (ym, e) =>
      val m = ym.toString
      val s = silver.get(m).filter(_ == e.trips).fold(
        Seq(s"silver $m: ${silver.get(m)} rows, expected ${e.trips}"))(_ => Nil)
      val g = gold.get(m) match {
        case Some((t, rev)) if t == e.trips && math.abs(rev * 100 - e.revenueCents) < 0.5 => Nil
        case other => Seq(s"gold_monthly $m: $other, expected (${e.trips}, ${e.revenueCents / 100.0})")
      }
      s ++ g
    }
    val ledger = spark.read.parquet(s"$lake/metadata")
      .filter(col("status") =!= "SUCCESS").count()
    val checks = spark.read.parquet(s"$lake/metadata_checks")
      .filter(!col("passed")).count()
    perMonth ++
      (if (ledger > 0) Seq(s"metadata: $ledger runs not SUCCESS") else Nil) ++
      (if (checks > 0) Seq(s"metadata_checks: $checks checks failed") else Nil)
  }
}
