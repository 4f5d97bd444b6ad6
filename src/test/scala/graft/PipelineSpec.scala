package graft

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Row}

import graft.model.Schemas
import graft.pipeline.Pipeline

/** End-to-end DAG semantics (SURVEY.md §3.1): two monthly incremental runs
  * against a temp lake, checking cursor advance, layer contents, and
  * idempotency of the second run's data. */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def trip(vendor: Int, pickup: String, pay: Int, fare: Double): Row = {
    def ts(s: String) = Timestamp.valueOf(s)
    Row(Integer.valueOf(vendor), ts(pickup), ts(pickup.replace(" 0", " 1")),
      Integer.valueOf(1), java.lang.Double.valueOf(2.0), Integer.valueOf(1), "N",
      Integer.valueOf(10), Integer.valueOf(20), Integer.valueOf(pay),
      java.lang.Double.valueOf(fare), java.lang.Double.valueOf(0.5),
      java.lang.Double.valueOf(0.5), java.lang.Double.valueOf(1.0),
      java.lang.Double.valueOf(0.0), java.lang.Double.valueOf(0.3),
      java.lang.Double.valueOf(fare + 2.3), java.lang.Double.valueOf(0.0),
      java.lang.Double.valueOf(0.0))
  }

  private val source: Map[String, Seq[Row]] = Map(
    "2024-01" -> Seq(
      trip(1, "2024-01-05 08:00:00", 1, 10.0),
      trip(2, "2024-01-06 09:00:00", 2, 20.0),
      trip(1, "2024-01-07 08:30:00", 1, 15.0)),
    "2024-02" -> Seq(
      trip(1, "2024-02-03 07:00:00", 1, 12.0),
      trip(2, "2024-02-04 06:00:00", 3, 25.0)))

  private def rawSource(month: String): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(source.getOrElse(month, Seq.empty)), Schemas.trip)

  test("quality-gate failure records FAILED in the ledger and rethrows") {
    val lake = Files.createTempDirectory("graft-lake-fail").toString
    // vendorid NULL violates the bronze suite's strict NotNull
    val badRow = {
      val r = trip(1, "2024-01-05 08:00:00", 1, 10.0).toSeq.toArray
      r(0) = null
      Row.fromSeq(r.toIndexedSeq)
    }
    val p = new Pipeline(spark, lake,
      _ => spark.createDataFrame(spark.sparkContext.parallelize(Seq(badRow)), Schemas.trip))
    intercept[graft.checks.QualityGateException] { p.runOnce(maxRetries = 0) }
    // the failed bronze gate still leaves its per-constraint telemetry
    val checks = spark.read.parquet(s"$lake/metadata_checks")
    assert(checks.filter($"layer" === "bronze" && !$"passed").count() >= 1)
    val meta = spark.read.parquet(s"$lake/metadata")
    val failed = meta.filter(meta("status") === "FAILED").collect()
    assert(failed.length == 1)
    assert(failed(0).getAs[String]("error_message").contains("not_null(vendorid)"))
    // cursor must NOT advance after a failure
    assert(new graft.incremental.MetadataLedger(spark, s"$lake/metadata")
      .nextMonth("yellow_taxi_full_pipeline") == "2024-01")
  }

  test("quality-gate failure is not retried (deterministic, reference retries are for transients)") {
    val lake = Files.createTempDirectory("graft-lake-noretry").toString
    val badRow = {
      val r = trip(1, "2024-01-05 08:00:00", 1, 10.0).toSeq.toArray
      r(0) = null
      Row.fromSeq(r.toIndexedSeq)
    }
    var attempts = 0
    val p = new Pipeline(spark, lake, { _ =>
      attempts += 1
      spark.createDataFrame(spark.sparkContext.parallelize(Seq(badRow)), Schemas.trip)
    })
    intercept[graft.checks.QualityGateException] {
      p.runOnce(maxRetries = 3, retryDelayMs = 0L)
    }
    assert(attempts == 1) // gate failures record FAILED after ONE attempt
  }

  test("corrupt silver layer raises instead of silently degrading to first-run CTAS") {
    val lake = Files.createTempDirectory("graft-lake-corrupt").toString
    val p = new Pipeline(spark, lake, rawSource)
    assert(p.runOnce(maxRetries = 0) == "2024-01")
    // corrupt the silver table: an unreadable file where parquet should be
    val silverDir = new java.io.File(s"$lake/silver/pickup_month=2024-01")
    silverDir.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
      java.nio.file.Files.write(f.toPath, "not parquet anymore".getBytes)
    }
    val e = intercept[Exception] { p.runOnce(maxRetries = 0) }
    // the February run must fail loudly — history is NOT silently dropped
    assert(!e.isInstanceOf[graft.checks.QualityGateException])
  }

  test("post-load compaction bounds partition file counts across monthly loads") {
    val lake = Files.createTempDirectory("graft-lake-compact").toString
    val p = new Pipeline(spark, lake, rawSource)
    assert(p.runOnce(maxRetries = 0) == "2024-01")
    assert(p.runOnce(maxRetries = 0) == "2024-02")
    // every loaded month partition must end compacted to its byte-optimal
    // file count (1 at test scale) — not one file per shuffle task
    val dirs = Seq(
      "staging/pickup_month=2024-01", "staging/pickup_month=2024-02",
      "bronze/pickup_month=2024-01", "bronze/pickup_month=2024-02",
      "silver/pickup_month=2024-01", "silver/pickup_month=2024-02",
      "gold_daily/trip_month=2024-01", "gold_daily/trip_month=2024-02",
      "gold_monthly/rev_month=2024-01", "gold_monthly/rev_month=2024-02",
      "gold_zone/rev_month=2024-01", "gold_zone/rev_month=2024-02")
    for (d <- dirs) {
      val files = new java.io.File(s"$lake/$d").listFiles()
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      assert(files.length == 1, s"$d fragmented: ${files.length} data files")
    }
    // compaction must not change the data
    assert(spark.read.parquet(s"$lake/silver").count() == 5)
    assert(spark.read.parquet(s"$lake/gold_monthly").count() == 2)
  }

  test("two monthly runs: cursor advances, layers accumulate, golds rebuild") {
    val lake = Files.createTempDirectory("graft-lake").toString
    val p = new Pipeline(spark, lake, rawSource)

    assert(p.runOnce(maxRetries = 0) == "2024-01")
    assert(spark.read.parquet(s"$lake/silver").count() == 3)
    val janFiles = new java.io.File(s"$lake/silver/pickup_month=2024-01")
      .listFiles().map(f => (f.getName, f.lastModified())).toSet
    // the Spark jobs the second month's load submits
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    org.apache.spark.ListenerBusAccess.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(p.runOnce(maxRetries = 0) == "2024-02")
      org.apache.spark.ListenerBusAccess.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    // 105 jobs while each month-scoped write evaluated its incoming rows
    // twice and compaction read back and rewrote each fresh partition; 90
    // with one evaluation and each month written at its final file count
    assert(jobs.get() <= 90, s"the second month's load submitted ${jobs.get()} Spark jobs")
    assert(spark.read.parquet(s"$lake/silver").count() == 5)
    // the second month's load must NOT rewrite January's silver partition
    val janAfter = new java.io.File(s"$lake/silver/pickup_month=2024-01")
      .listFiles().map(f => (f.getName, f.lastModified())).toSet
    assert(janAfter == janFiles)

    val daily = spark.read.parquet(s"$lake/gold_daily")
    assert(daily.count() == 5) // five distinct trip dates
    val monthly = spark.read.parquet(s"$lake/gold_monthly")
    assert(monthly.count() == 2)
    val vendor = spark.read.parquet(s"$lake/gold_vendor")
    assert(vendor.select("vendor_name").collect().map(_.getString(0)).toSet ==
      Set("Creative Mobile Technologies, LLC", "Curb Mobility, LLC"))

    // two successful runs × three gated layers, every constraint recorded
    val checks = spark.read.parquet(s"$lake/metadata_checks")
    assert(checks.select("layer").distinct().collect().map(_.getString(0)).toSet ==
      Set("bronze", "silver", "gold"))
    assert(checks.filter(!$"passed").count() == 0)
    assert(checks.select("run_id").distinct().count() == 2)

    val meta = spark.read.parquet(s"$lake/metadata")
    assert(meta.filter($"status" === "SUCCESS").count() == 2)
    val rt = meta.filter($"status" === "SUCCESS").select("runtime_seconds")
      .collect().map(_.getDouble(0))
    assert(rt.forall(_ > 0))
  }
}
