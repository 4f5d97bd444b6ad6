package graft.perfbench

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.checks.{CheckLedger, CheckSuite, QualityGateException}
import graft.incremental.{MetadataLedger, Watermark, Writers}
import graft.operators.Layers
import graft.sources.Tables

/** One monthly load replayed task by task through the public functions
  * `Pipeline.loadMonth` calls, in its order, each task in its own span.
  * The traced run checks that this replay builds the same lake as
  * `Pipeline.runOnce` and takes about as long, so a change to `loadMonth`
  * that this copy misses fails the run instead of skewing the trace. */
object Replay {
  private val ts = "tpep_pickup_datetime"

  def month(t: Tracer, spark: SparkSession, lake: String,
            raw: String => DataFrame, pipelineName: String): String =
    t.span("pipeline.run") {
      val ledger = new MetadataLedger(spark, s"$lake/metadata")
      val checkLedger = new CheckLedger(spark, s"$lake/metadata_checks")
      def readOpt(path: String): Option[DataFrame] =
        t.span("sources.read")(Tables.readParquetIfExists(spark, path, eager = true))
      def gate(layer: String, runId: String, suite: CheckSuite, df: DataFrame): Unit = {
        val results = t.span(s"checks.${layer}_gate")(suite.run(df))
        t.span("checks.record")(checkLedger.record(runId, layer, results))
        val failures = results.filterNot(_.passed)
        if (failures.nonEmpty) throw QualityGateException(failures)
      }

      val month = t.span("incremental.ledger")(ledger.nextMonth(pipelineName))
      val runId = s"$pipelineName-$month-${System.currentTimeMillis()}"
      val t0 = System.nanoTime()
      t.span("incremental.ledger")(ledger.upsertRun(runId, pipelineName, month, "RUNNING"))

      t.span("incremental.stage_write") {
        val staged = t.span("operators.plan")(Layers.stage(raw(month)))
        Writers.monthOverwrite(staged, s"$lake/staging", ts)
      }
      val bronzeAll = t.span("incremental.bronze_write") {
        val staging = spark.read.parquet(s"$lake/staging").drop("pickup_month")
        val bronzeDf = t.span("operators.plan")(Layers.bronze(staging, Some(month)))
        Writers.monthOverwrite(bronzeDf, s"$lake/bronze", ts)
        spark.read.parquet(s"$lake/bronze").drop("pickup_month")
      }
      gate("bronze", runId, CheckSuite.bronzeSuite(), bronzeAll)

      val silverAll = t.span("incremental.silver_merge") {
        val existing = readOpt(s"$lake/silver")
        val fresh = t.span("incremental.watermark")(Watermark.strictlyAfterMax(
          bronzeAll, existing.map(_.drop("pickup_month")), ts))
        val silverNew = t.span("operators.plan")(Layers.silver(fresh))
        Writers.monthScopedDeleteInsert(existing, silverNew,
          Seq("unique_trip_id"), ts, s"$lake/silver")
        spark.read.parquet(s"$lake/silver").drop("pickup_month")
      }
      gate("silver", runId, CheckSuite.silverSuite(bronzeAll), silverAll)

      t.span("pipeline.gold") {
        val goldSpan = t.current
        def build(name: String)(body: => Unit): () => Unit =
          () => t.span(s"incremental.$name", parent = goldSpan)(body)
        val builds = Seq(
          build("gold_daily") {
            val daily = t.span("operators.plan")(Layers.goldDaily(
              t.span("incremental.watermark")(Watermark.strictlyAfterMax(silverAll,
                readOpt(s"$lake/gold_daily").map(_.drop("trip_month")),
                ts, existingTsCol = Some("trip_date")))))
            Writers.monthScopedDeleteInsert(readOpt(s"$lake/gold_daily"), daily,
              Seq("trip_date"), "trip_date", s"$lake/gold_daily", partCol = "trip_month")
          },
          build("gold_monthly") {
            val monthly = t.span("operators.plan")(Layers.goldMonthly(
              t.span("incremental.watermark")(Watermark.monthFloorInclusive(silverAll,
                readOpt(s"$lake/gold_monthly").map(_.drop("rev_month")), "revenue_month", ts))))
            Writers.monthScopedDeleteInsert(readOpt(s"$lake/gold_monthly"), monthly,
              Seq("revenue_month"), "revenue_month", s"$lake/gold_monthly", partCol = "rev_month")
          },
          build("gold_zone") {
            val zone = t.span("operators.plan")(Layers.goldZone(
              t.span("incremental.watermark")(Watermark.monthFloorInclusive(silverAll,
                readOpt(s"$lake/gold_zone").map(_.drop("rev_month")), "revenue_month", ts))))
            Writers.monthScopedDeleteInsert(readOpt(s"$lake/gold_zone"), zone,
              Seq("revenue_month", "pulocationid"), "revenue_month", s"$lake/gold_zone",
              partCol = "rev_month")
          },
          build("gold_vendor") {
            Writers.fullRebuild(t.span("operators.plan")(Layers.goldVendor(silverAll)),
              s"$lake/gold_vendor")
          },
          build("gold_payment") {
            Writers.fullRebuild(t.span("operators.plan")(Layers.goldPayment(silverAll)),
              s"$lake/gold_payment")
          })
        val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
        try {
          val outcomes = Await.result(Future.sequence(builds.map(b =>
            Future(b()).transform(x => scala.util.Success(x)))), Duration.Inf)
          outcomes.foreach(_.get)
        } finally pool.shutdown()
      }

      gate("gold", runId, CheckSuite.goldMonthlySuite(),
        spark.read.parquet(s"$lake/gold_monthly").drop("rev_month"))

      t.span("incremental.compact") {
        Seq(s"$lake/staging/pickup_month=$month", s"$lake/bronze/pickup_month=$month")
          .foreach(p => Writers.compactIfFragmented(spark, p))
      }
      t.span("incremental.ledger")(ledger.upsertRun(runId, pipelineName, month, "SUCCESS",
        runtimeSeconds = Some((System.nanoTime() - t0) / 1e9)))
      month
    }
}
