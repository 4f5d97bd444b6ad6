package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.functions.col

import graft.pipeline.Pipeline
import graft.sql.SqlCatalog

/** Eight dbt-user SQL statements over a lake `Pipeline` built. Three read
  * silver through a month-pruned view (`SqlCatalog.registerPrunedPartitioned`),
  * registered per op; the rest read the gold marts or join silver to gold.
  * The session installs `GraftExtensions`, so month and abs-range
  * predicates reach the `plans` rewrites. */
final class MartOps(ctx: Ctx) extends OpSet {
  import MartOps._
  import ctx._

  private val lake = prepare(ctx)
  private val silverPath = s"$lake/silver"
  private val reference = loadReference(ctx)
  views.foreach { case (v, t) => spark.read.parquet(s"$lake/$t").createOrReplaceTempView(v) }

  val names: IndexedSeq[String] = stmts.map(_.name)
  def expected(i: Int): String = reference(i)

  def run(i: Int): String = {
    val s = stmts(i)
    s.prunedMonth.foreach(m => SqlCatalog.registerPrunedPartitioned(spark, "silver_m",
      silverPath, Seq(("pickup_month", m, m))))
    RowPrint.of(spark.sql(s.sql).collect())
  }

  /** Per traced statement: planning ms, result rows, graft rule ns and
    * effective rule runs. */
  private val detail = mutable.Map[Long, (Long, Long, Long, Long)]()

  /** `run` again with a span per step. */
  def runTraced(i: Int): Span = {
    val s = stmts(i)
    val before = PlanRules.snapshot()
    var planMs = 0L
    var rows = 0L
    tracer.span("sql.statement") {
      s.prunedMonth.foreach(m => tracer.span("sql.register") {
        val pruned = tracer.span("sources.read")(graft.sources.Tables.readPrunedPartitioned(
          spark, silverPath, Seq(("pickup_month", m, m))))
        pruned.createOrReplaceTempView("silver_m")
      })
      val df = tracer.span("sql.plan") {
        val d = spark.sql(s.sql)
        d.queryExecution.executedPlan
        d
      }
      rows = tracer.span("sql.exec")(df.collect()).length.toLong
      planMs = df.queryExecution.tracker.phases.values.map(_.durationMs).sum
    }
    val after = PlanRules.snapshot()
    val span = tracer.spans.filter(_.name == "sql.statement").maxBy(_.startNs)
    detail(span.id) = (planMs, rows, after._1 - before._1, after._2 - before._2)
    span
  }

  def layers(view: TraceView, jobs: Seq[JobRun], traced: Seq[Span]): Map[String, Double] = {
    val n = math.max(1, traced.size).toDouble
    val d = traced.map(s => detail(s.id))
    val allJobs = traced.flatMap(s => SqlMetrics.jobsUnder(view, jobs, s)).toSet
    val scan: String => Boolean = _.startsWith("Scan")
    val filesRead = SqlMetrics.values(spark, allJobs, scan, "number of files read").sum
    val rowsScanned = SqlMetrics.values(spark, allJobs, scan, "number of output rows").sum
    val rowsReturned = d.map(_._2).sum
    val under = traced.flatMap(view.subtree)
    def selfS(name: String) = under.filter(_.name == name).map(view.selfNs).sum / 1e9 / n
    Map(
      "sources.read_s" -> selfS("sources.read"),
      "sources.files_read_per_query" -> filesRead / n,
      "sources.rows_scanned_per_row_returned" ->
        (if (rowsReturned == 0) 0.0 else rowsScanned.toDouble / rowsReturned),
      "sql.plan_ms" -> d.map(_._1).sum / n,
      "sql.exec_ms" -> under.filter(_.name == "sql.exec").map(_.durNs).sum / 1e6 / n,
      "sql.register_s" -> selfS("sql.register"),
      "plans.rule_ms" -> d.map(_._3).sum / 1e6 / n,
      "plans.rules_effective" -> d.map(_._4).sum / n,
      "run.lake_bytes_per_trip" ->
        Lake.bytes(lake).toDouble / (Months * TripGen(LakeSeed, TripsPerMonth).rowsPerMonth))
  }
}

object MartOps {
  val TripsPerMonth = 10000
  val Months = 3
  /** The lake is the same for every run seed: the run seed picks and
    * orders the statements. */
  val LakeSeed = 1L

  /** `prunedMonth`: the statement reads view `silver_m`, registered per
    * op as silver pruned to that month. */
  final case class Stmt(name: String, prunedMonth: Option[String], sql: String)

  val stmts: IndexedSeq[Stmt] = statements((0 until Months).map(i => TripGen.monthAt(i).toString))

  /** Build (once per build) the lake and the statements' reference
    * answers; returns the lake. */
  def prepare(ctx: Ctx): String = {
    val lake = ctx.cached("mart_lake")(dir => buildLake(ctx, dir))
    ctx.cached("mart_reference") { dir =>
      val answers = stmts.map(s => RowPrint.of(referenceRows(ctx.spark, lake, s)))
      java.nio.file.Files.write(new java.io.File(s"$dir/answers.txt").toPath,
        answers.mkString("", "\n", "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    lake
  }

  private def loadReference(ctx: Ctx): IndexedSeq[String] =
    scala.io.Source.fromFile(s"${ctx.cacheDir}/mart_reference/answers.txt").getLines().toIndexedSeq

  /** The mix; fixed, so every run times the same work (the run seed
    * only orders it). Statements name different months so a round reads
    * every month of the lake. */
  def statements(months: Seq[String]): IndexedSeq[Stmt] = {
    val Seq(m0, m1, m2) = months
    val k = 3
    val tipCap = 4
    IndexedSeq(
      Stmt("silver_month_agg", Some(m0),
        """SELECT payment_description, COUNT(*) AS trips,
          |  SUM(CAST(total_amount AS DECIMAL(20,6))) AS revenue
          |FROM silver_m GROUP BY payment_description""".stripMargin),
      Stmt("silver_zone_topk", Some(m1),
        s"""SELECT pulocationid, unique_trip_id, total_amount FROM (
           |  SELECT pulocationid, unique_trip_id, total_amount,
           |    ROW_NUMBER() OVER (PARTITION BY pulocationid
           |      ORDER BY total_amount DESC, unique_trip_id) AS rn
           |  FROM silver_m) WHERE rn <= $k""".stripMargin),
      Stmt("silver_tip_band", Some(m2),
        s"""SELECT COUNT(*) AS trips, SUM(CAST(tip_amount AS DECIMAL(20,6))) AS tips
           |FROM silver_m WHERE ABS(tip_amount) <= $tipCap""".stripMargin),
      Stmt("gold_monthly_lookup", None,
        s"""SELECT revenue_month, total_monthly_revenue, total_monthly_trips
           |FROM gold_monthly_summary
           |WHERE revenue_month = TIMESTAMP '$m1-01 00:00:00'""".stripMargin),
      Stmt("gold_daily_month", None,
        s"""SELECT COUNT(*) AS days, SUM(total_trips) AS trips,
           |  SUM(CAST(total_revenue AS DECIMAL(20,6))) AS revenue
           |FROM gold_daily_summary WHERE trunc(trip_date, 'MM') = DATE '$m2-01'""".stripMargin),
      Stmt("silver_gold_join", None,
        s"""SELECT s.pulocationid, COUNT(*) AS trips, MAX(g.total_revenue) AS zone_revenue
           |FROM silver_yellow_tripdata s JOIN gold_zone_summary g
           |  ON g.revenue_month = date_trunc('MONTH', s.tpep_pickup_datetime)
           |  AND g.pulocationid = s.pulocationid
           |WHERE s.pickup_month = '$m0' GROUP BY s.pulocationid""".stripMargin),
      Stmt("gold_zone_top", None,
        s"""SELECT pulocationid, total_revenue, total_trips FROM gold_zone_summary
           |WHERE trunc(CAST(revenue_month AS DATE), 'MM') = DATE '$m1-01'
           |ORDER BY total_revenue DESC, pulocationid LIMIT ${5 * k}""".stripMargin),
      Stmt("gold_payment_mix", None,
        """SELECT payment_description, trip_count, total_revenue, avg_tip_percent
          |FROM gold_payment_summary""".stripMargin))
  }

  private val views = Seq("silver_yellow_tripdata" -> "silver",
    "gold_daily_summary" -> "gold_daily", "gold_monthly_summary" -> "gold_monthly",
    "gold_zone_summary" -> "gold_zone", "gold_vendor_summary" -> "gold_vendor",
    "gold_payment_summary" -> "gold_payment")

  /** The graft optimizer rules the session installs; the reference
    * answers are computed with them switched off. */
  private val graftRules = "graft.plans.AbsRangeRewrite,graft.plans.DateTruncRangeRewrite"

  /** Load `Months` months through `Pipeline.runOnce` into `lake` and
    * check them against the generator's answer key. */
  private def buildLake(ctx: Ctx, lake: String): Unit = {
    import ctx._
    val gen = TripGen(LakeSeed, TripsPerMonth)
    val rows = (0 until Months).map(i => TripGen.monthAt(i) -> gen.month(TripGen.monthAt(i))).toMap
    val pipeline = new Pipeline(spark, lake, m =>
      spark.createDataFrame(spark.sparkContext.parallelize(rows(java.time.YearMonth.parse(m)), cores),
        TripGen.schema))
    (0 until Months).foreach(_ =>
      pipeline.runOnce(MonthlyLoad.PipelineName, maxRetries = 0, retryDelayMs = 0L))
    val problems = Expected.check(spark, lake,
      rows.map { case (ym, rs) => ym -> Expected.month(spark, rs, ym) })
    require(problems.isEmpty, s"the mart lake is wrong: ${problems.mkString("; ")}")
  }

  /** The statement's answer over unpruned reads with graft's rewrites
    * off: what pruning and rewriting must not change. */
  private def referenceRows(spark: SparkSession, lake: String, s: Stmt): Array[Row] = {
    views.foreach { case (v, t) => spark.read.parquet(s"$lake/$t").createOrReplaceTempView(v) }
    s.prunedMonth.foreach(m => spark.read.parquet(s"$lake/silver")
      .filter(col("pickup_month") === m).createOrReplaceTempView("silver_m"))
    spark.conf.set("spark.sql.optimizer.excludedRules", graftRules)
    try spark.sql(s.sql).collect()
    finally spark.conf.unset("spark.sql.optimizer.excludedRules")
  }
}

/** Cumulative time (ns) and effective runs of graft's optimizer rules,
  * from Catalyst's global rule metering. */
object PlanRules {
  def snapshot(): (Long, Long) = {
    val lines = RuleExecutor.dumpTimeSpent().split("\n").map(_.trim)
      .filter(_.startsWith("graft.plans."))
    lines.foldLeft((0L, 0L)) { case ((t, e), line) =>
      // <rule> <effective ns> / <total ns> <effective runs> / <total runs>
      val f = line.split("\\s+")
      if (f.length >= 7) (t + f(3).toLong, e + f(4).toLong) else (t, e)
    }
  }
}
