package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.incremental.{MetadataLedger, Watermark, Writers}

class IncrementalSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft-test").toString

  test("strict watermark drops late rows (I3 semantics)") {
    val existing = Seq("2024-01-05 00:00:00").toDF("s")
      .select($"s".cast("timestamp").as("ts"))
    val src = Seq("2024-01-04 00:00:00", "2024-01-05 00:00:00", "2024-01-06 00:00:00")
      .toDF("s").select($"s".cast("timestamp").as("ts"))
    val out = Watermark.strictlyAfterMax(src, Some(existing), "ts")
    assert(out.count() == 1) // only the row strictly after the max survives
    assert(Watermark.strictlyAfterMax(src, None, "ts").count() == 3)
  }

  test("month-floor watermark re-includes the watermark month (P6)") {
    val existing = Seq("2024-02-01 00:00:00").toDF("s")
      .select($"s".cast("timestamp").as("revenue_month"))
    val src = Seq("2024-01-15 00:00:00", "2024-02-10 00:00:00", "2024-03-01 00:00:00")
      .toDF("s").select($"s".cast("timestamp").as("ts"))
    assert(Watermark.monthFloorInclusive(src, Some(existing), "revenue_month", "ts").count() == 2)
    assert(Watermark.monthFloorInclusive(src, None, "revenue_month", "ts").count() == 3)
  }

  test("keyedDeleteInsert replaces colliding keys and appends the rest") {
    val existing = Seq((1, "old"), (2, "old")).toDF("k", "v")
    val incoming = Seq((2, "new"), (3, "new")).toDF("k", "v")
    val merged = Writers.keyedDeleteInsert(Some(existing), incoming, Seq("k"))
      .collect().map(r => (r.getInt(0), r.getString(1))).toMap
    assert(merged == Map(1 -> "old", 2 -> "new", 3 -> "new"))
  }

  test("keyedDeleteInsert above the broadcast gate falls back to a shuffled anti-join") {
    val existing = Seq((1, "old"), (2, "old")).toDF("k", "v")
    val incoming = Seq((2, "new"), (3, "new")).toDF("k", "v")
    // gate of 0 bytes: nothing is broadcastable, the fallback path runs
    val merged = Writers.keyedDeleteInsert(Some(existing), incoming, Seq("k"),
        broadcastMaxBytes = 0L)
      .collect().map(r => (r.getInt(0), r.getString(1))).toMap
    assert(merged == Map(1 -> "old", 2 -> "new", 3 -> "new"))
    // the gated plan carries no broadcast hint (AQE may still choose one
    // at runtime from true sizes — that's the point of the fallback)
    val gated = Writers.keyedDeleteInsert(Some(existing), incoming, Seq("k"),
      broadcastMaxBytes = 0L)
    assert(!gated.queryExecution.optimizedPlan.toString.contains("ResolvedHint"))
  }

  test("monthScopedDeleteInsert rewrites only the affected month partitions") {
    val path = tmp() + "/silver"
    def df(rows: Seq[(String, String, Double)]) = rows.toDF("k", "s", "x")
      .select($"k", $"s".cast("timestamp").as("ts"), $"x")
    // seed two months
    Writers.monthScopedDeleteInsert(None,
      df(Seq(("a", "2024-01-10 00:00:00", 1.0), ("b", "2024-02-10 00:00:00", 1.0))),
      Seq("k"), "ts", path)
    val janFiles = new java.io.File(s"$path/pickup_month=2024-01")
      .listFiles().map(f => (f.getName, f.lastModified())).toSet
    // merge into February only: replace b, add c
    Writers.monthScopedDeleteInsert(
      Some(spark.read.parquet(path)),
      df(Seq(("b", "2024-02-11 00:00:00", 2.0), ("c", "2024-02-12 00:00:00", 3.0))),
      Seq("k"), "ts", path)
    val out = spark.read.parquet(path)
    assert(out.count() == 3)
    assert(out.filter($"k" === "b").select("x").first().getDouble(0) == 2.0)
    // January's partition files are byte-for-byte untouched
    val janAfter = new java.io.File(s"$path/pickup_month=2024-01")
      .listFiles().map(f => (f.getName, f.lastModified())).toSet
    assert(janAfter == janFiles)
  }

  test("maybeBroadcast applies the hint only under the size gate") {
    val df = (1 to 100).toDF("x")
    def hinted(d: org.apache.spark.sql.DataFrame) =
      d.queryExecution.analyzed.toString.contains("ResolvedHint")
    assert(hinted(graft.operators.Broadcasts.maybeBroadcast(df, maxBytes = Long.MaxValue)))
    assert(!hinted(graft.operators.Broadcasts.maybeBroadcast(df, maxBytes = 0L)))
  }

  test("monthScopedDeleteInsert routes NULL-timestamp rows to the sentinel partition") {
    val path = tmp() + "/t"
    val df = Seq(("a", Some("2024-01-10 00:00:00"), 1.0), ("b", None, 2.0))
      .toDF("k", "s", "x")
      .select($"k", $"s".cast("timestamp").as("ts"), $"x")
    Writers.monthScopedDeleteInsert(None, df, Seq("k"), "ts", path)
    val out = spark.read.parquet(path)
    assert(out.count() == 2, "the null-ts row must not be silently dropped")
    assert(out.filter($"pickup_month" === "0000-00").select("k").first().getString(0) == "b")
    // idempotent re-merge of the null-ts row replaces, not duplicates
    Writers.monthScopedDeleteInsert(Some(spark.read.parquet(path)),
      df.filter($"k" === "b").withColumn("x", lit(9.0)), Seq("k"), "ts", path)
    assert(spark.read.parquet(path).filter($"k" === "b").select("x").first().getDouble(0) == 9.0)
  }

  test("monthScopedDeleteInsert evaluates incoming once and writes each affected " +
    "month as one file in one pass") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    val path = tmp() + "/t"
    def df(rows: Seq[(String, Option[String], Double)]) = rows.toDF("k", "s", "x")
      .select($"k", $"s".cast("timestamp").as("ts"), $"x")
    Writers.monthScopedDeleteInsert(None, df(Seq(("a", Some("2024-01-10 00:00:00"), 1.0),
      ("b", Some("2024-02-01 00:00:00"), 1.0), ("z", Some("2024-03-05 00:00:00"), 1.0))),
      Seq("k"), "ts", path)
    def files(m: String) = new java.io.File(s"$path/pickup_month=$m").listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.lastModified())).toSet
    val marchBefore = files("2024-03")
    // the batch: replace b on February's first instant, add a row on
    // January's last instant and a NULL-timestamp row; every evaluation of
    // the batch counts its rows
    val batch = df(Seq(("b", Some("2024-02-01 00:00:00"), 2.0),
      ("c", Some("2024-01-31 23:59:59"), 3.0), ("n", None, 4.0)))
    val evaluated = spark.sparkContext.longAccumulator("incoming rows")
    val incoming = spark.createDataFrame(
      batch.rdd.map { r => evaluated.add(1); r }, batch.schema)
    val written = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        Option(t.taskMetrics).foreach(m => written.addAndGet(m.outputMetrics.recordsWritten))
    }
    org.apache.spark.ListenerBusAccess.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      Writers.monthScopedDeleteInsert(Some(spark.read.parquet(path)), incoming,
        Seq("k"), "ts", path)
      org.apache.spark.ListenerBusAccess.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(evaluated.value == 3L, s"incoming evaluated ${evaluated.value / 3.0} times")
    val out = spark.read.parquet(path)
    assert(out.count() == 5)
    assert(out.filter($"k" === "b").select("x").first().getDouble(0) == 2.0)
    // affected: January (a kept, c added), February (b replaced), 0000-00 (n);
    // each is one file, and its rows were written once: no compaction rewrite
    for (m <- Seq("2024-01", "2024-02", "0000-00"))
      assert(files(m).size == 1, s"$m: ${files(m).size} data files")
    assert(written.get() == 4L, s"${written.get()} records written for 4 affected rows")
    for (m <- Seq("2024-01", "2024-02", "0000-00")) {
      val before = files(m)
      Writers.compactIfFragmented(spark, s"$path/pickup_month=$m")
      assert(files(m) == before, s"$m was compacted again")
    }
    assert(files("2024-03") == marchBefore)
  }

  test("corrupt metadata raises instead of silently resetting the cursor") {
    val path = tmp() + "/meta"
    val dir = new java.io.File(path)
    dir.mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(path, "part-00000.parquet"),
      "this is not a parquet file".getBytes)
    val ledger = new MetadataLedger(spark, path)
    intercept[Exception] { ledger.nextMonth("p") }
  }

  test("monthOverwrite is idempotent per month partition (S10)") {
    val path = tmp() + "/staging"
    def rows(v: Double) = Seq(("2024-01-10 00:00:00", v), ("2024-02-10 00:00:00", 1.0))
      .toDF("s", "x").select($"s".cast("timestamp").as("tpep_pickup_datetime"), $"x")
    Writers.monthOverwrite(rows(1.0), path, "tpep_pickup_datetime")
    // reload January with a changed value; February must survive untouched
    val jan = Seq(("2024-01-10 00:00:00", 2.0)).toDF("s", "x")
      .select($"s".cast("timestamp").as("tpep_pickup_datetime"), $"x")
    Writers.monthOverwrite(jan, path, "tpep_pickup_datetime")
    val out = spark.read.parquet(path)
    assert(out.count() == 2)
    assert(out.filter($"pickup_month" === "2024-01").select("x").first().getDouble(0) == 2.0)
  }

  test("atomicRewrite replaces the target only after a full write") {
    val path = tmp() + "/t"
    Writers.atomicRewrite(Seq(1, 2, 3).toDF("x"), path)
    assert(spark.read.parquet(path).count() == 3)
    Writers.atomicRewrite(Seq(9).toDF("x"), path)
    assert(spark.read.parquet(path).count() == 1)
  }

  test("MetadataLedger cursor: initial month, advance on SUCCESS only") {
    val ledger = new MetadataLedger(spark, tmp() + "/meta")
    assert(ledger.nextMonth("p") == "2024-01")
    ledger.upsertRun("r1", "p", "2024-01", "RUNNING")
    assert(ledger.nextMonth("p") == "2024-01")   // RUNNING doesn't advance
    ledger.upsertRun("r1", "p", "2024-01", "SUCCESS", runtimeSeconds = Some(1.5))
    assert(ledger.nextMonth("p") == "2024-02")   // run_id upsert, not append
    assert(ledger.read().get.count() == 1)
    ledger.upsertRun("r2", "p", "2024-02", "FAILED", errorMessage = Some("boom" * 500))
    assert(ledger.nextMonth("p") == "2024-02")   // FAILED doesn't advance
    val err = ledger.read().get.filter($"run_id" === "r2").select("error_message").first().getString(0)
    assert(err.length == 500)                    // reference truncates to 500 chars
  }

  test("recoverSwap repairs each half-state of the atomic-swap crash window") {
    import java.nio.file.Files
    val base = Files.createTempDirectory("graft-swap").toString
    val path = base + "/table"
    val tmpDir = base + "/_tmp_table.__graft__"
    import spark.implicits._
    def write(dir: String, v: Long): Unit =
      Seq(v).toDF("v").write.mode("overwrite").parquet(dir)

    // clean: destination only
    write(path, 1L)
    assert(graft.incremental.Writers.recoverSwap(spark, path) == "clean")
    assert(spark.read.parquet(path).head().getLong(0) == 1L)

    // crash BETWEEN delete and rename: temp holds the new table
    write(tmpDir, 2L)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    assert(graft.incremental.Writers.recoverSwap(spark, path) == "completed_rename")
    assert(spark.read.parquet(path).head().getLong(0) == 2L)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(tmpDir)))

    // crash BEFORE the delete: old table intact, temp unfinished
    write(tmpDir, 3L)
    assert(graft.incremental.Writers.recoverSwap(spark, path) == "swept_stale_tmp")
    assert(spark.read.parquet(path).head().getLong(0) == 2L)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(tmpDir)))
  }

  test("atomicRewrite throws when the swap rename fails, keeping the new table in its temp") {
    spark.sparkContext.hadoopConfiguration.set("fs.noswaprename.impl",
      classOf[NoSwapRenameFileSystem].getName)
    val base = tmp()
    val path = s"noswaprename://$base/t"
    Seq(1, 2).toDF("x").write.parquet(s"$base/t")
    val e = intercept[IllegalArgumentException](
      Writers.atomicRewrite(Seq(7, 8, 9).toDF("x"), path))
    assert(e.getMessage.contains(s"$base/_tmp_t.__graft__") &&
      e.getMessage.contains(s"$base/t"), e.getMessage)
    // the delete ran and the rename did not: the temp dir holds the
    // complete new table, the one thing left to recover from
    val tmpDir = s"$base/_tmp_t.__graft__"
    assert(new java.io.File(s"$tmpDir/_SUCCESS").exists())
    assert(spark.read.parquet(tmpDir).as[Int].collect().sorted.toSeq == Seq(7, 8, 9))
    // recovery meets the same failing rename: it throws instead of
    // reporting "completed_rename", and the temp stays
    intercept[IllegalArgumentException](Writers.recoverSwap(spark, path))
    assert(spark.read.parquet(tmpDir).count() == 3L)
  }
}

/** A local filesystem under the `noswaprename` scheme whose `rename` of
  * an atomic-swap temp dir (a name ending `.__graft__`) returns false and
  * moves nothing, as a rename may on some stores. Every other rename,
  * Spark's own output commit included, goes through. */
class NoSwapRenameFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("noswaprename:///")
  override def getScheme: String = "noswaprename"
  override def rename(src: org.apache.hadoop.fs.Path,
                      dst: org.apache.hadoop.fs.Path): Boolean =
    !src.getName.endsWith(".__graft__") && super.rename(src, dst)
}
