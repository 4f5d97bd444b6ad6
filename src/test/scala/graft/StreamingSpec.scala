package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.streaming.Streaming

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("ts", TimestampType), StructField("event_type", StringType),
    StructField("value", DoubleType)))

  test("file-source micro-batch + watermarked tumbling window (append mode)") {
    val dir = Files.createTempDirectory("graft-stream").toString
    def writeBatch(rows: Seq[(String, String, Double)]): Unit =
      rows.toDF("s", "event_type", "value")
        .select($"s".cast("timestamp").as("ts"), $"event_type", $"value")
        .coalesce(1).write.mode("append").parquet(dir + "/in")
    // two files written in order (file source replays by mtime): the early
    // events first, then the watermark-advancing late event — a shuffled
    // single write would let the 02:00 file process first and drop the rest
    writeBatch(Seq(("2024-01-01 00:01:00", "click", 1.0),
      ("2024-01-01 00:02:00", "click", 2.0),
      ("2024-01-01 00:07:00", "view", 3.0)))
    Thread.sleep(1100) // distinct mtimes even on 1s-granularity filesystems
    writeBatch(Seq(("2024-01-01 02:00:00", "click", 4.0)))

    val stream = Streaming.fileStream(spark, schema, dir + "/in")
    val agg = Streaming.windowedCounts(stream, "ts", "event_type", "5 minutes", "10 minutes")
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("wincounts")
      .option("checkpointLocation", dir + "/ckpt").start()
    try q.processAllAvailable() finally q.stop()

    val out = spark.table("wincounts")
      .collect().map(r => (r.getAs[java.sql.Timestamp]("window_start").toString,
        r.getAs[String]("event_type"), r.getAs[Long]("n"))).toSet
    // the two closed 00:00 / 00:05 windows are emitted; the 02:00 window is
    // still open (watermark semantics — I3: append emits only final windows)
    assert(out.contains(("2024-01-01 00:00:00.0", "click", 2L)))
    assert(out.contains(("2024-01-01 00:05:00.0", "view", 1L)))
    assert(!out.exists(_._1.startsWith("2024-01-01 02:")))
  }

  test("flatMapGroupsWithState emits closed session windows, keeps the open one") {
    val evs = Seq(
      Streaming.TimedEv(1L, 100), Streaming.TimedEv(1L, 130), // session A
      Streaming.TimedEv(1L, 500), Streaming.TimedEv(1L, 520), // session B
      Streaming.TimedEv(1L, 2000),                            // open session
      Streaming.TimedEv(2L, 10)                               // open session
    ).toDS()
    val out = Streaming.sessionWindows(evs, gapSeconds = 60).collect()
    val u1 = out.filter(_.userId == 1L).sortBy(_.startSec)
    assert(u1.length == 2) // A and B closed; the 2000s session stays open
    assert(u1(0) == Streaming.SessionWindow(1L, 100, 130, 2))
    assert(u1(1) == Streaming.SessionWindow(1L, 500, 520, 2))
    assert(!out.exists(_.userId == 2L)) // single open session, nothing emitted
  }

  test("sessionWindows merges a session spanning two micro-batches") {
    // Spark 4.1 moved MemoryStream under execution.streaming.runtime
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-sess2").toString
    val in = MemoryStream[Streaming.TimedEv]
    val q = Streaming.sessionWindows(in.toDS(), gapSeconds = 60)
      .writeStream.outputMode("append")
      .format("memory").queryName("sess2")
      .option("checkpointLocation", dir + "/ckpt").start()
    try {
      // batch 1: an open session ending at 130
      in.addData(Streaming.TimedEv(1L, 100), Streaming.TimedEv(1L, 130))
      q.processAllAvailable()
      assert(spark.table("sess2").isEmpty) // still open, nothing emitted
      // batch 2: 150 extends it across the batch boundary; 5000 closes it
      in.addData(Streaming.TimedEv(1L, 150), Streaming.TimedEv(1L, 5000))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("sess2").as[Streaming.SessionWindow].collect()
    // the merged 100..150 session (3 events) is emitted exactly once
    assert(out.toSeq == Seq(Streaming.SessionWindow(1L, 100, 150, 3)))
  }

  test("dedup admission sink grows the corpus and index across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-admit").toString
    val (idx, corpus, ckpt) = (dir + "/idx", dir + "/corpus", dir + "/ckpt")
    // seed with an EMPTY corpus — a brand-new admission pipeline
    graft.llmdata.DedupOps.signatureWrite(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), "doc_id", "text", idx)
    val in = MemoryStream[(Long, String)]
    val q = Streaming.dedupAdmissionSink(in.toDF().toDF("doc_id", "text"),
      "doc_id", "text", idx, corpus, ckpt, jaccardThreshold = 0.5)
    try {
      // batch 1: novel doc 10 + its exact intra-batch dup 11 → admit 10
      in.addData((10L, "the quick brown fox jumps over the lazy dog"),
        (11L, "the quick brown fox jumps over the lazy dog"))
      q.processAllAvailable()
      def ids() = spark.read.parquet(corpus)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(ids() == Set(10L))
      // batch 2: cross-batch dup of 10 (caught via the APPENDED index) +
      // novel 21 → admit 21 only
      in.addData((20L, "the quick brown fox jumps over the lazy dog"),
        (21L, "completely different vocabulary appears in this new document"))
      q.processAllAvailable()
      assert(ids() == Set(10L, 21L))
    } finally q.stop()
  }

  test("curation ingest sink: quality gate, exact + near dedup, corpus growth") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-ingest").toString
    val (idx, corpus, ckpt) = (dir + "/idx", dir + "/corpus", dir + "/ckpt")
    graft.llmdata.DedupOps.signatureWrite(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), "doc_id", "text", idx)
    val in = MemoryStream[(Long, String)]
    val q = Streaming.curationIngestSink(in.toDF().toDF("doc_id", "text"),
      "doc_id", "text", idx, corpus, ckpt,
      minQuality = 0.3, jaccardThreshold = 0.5)
    try {
      // batch 1: good novel doc + its exact intra-batch copy + a
      // too-short quality reject → admit only 10
      in.addData(
        (10L, "the quick brown fox jumps over the lazy dog and then runs home across the wide green field"),
        (11L, "the quick brown fox jumps over the lazy dog and then runs home across the wide green field"),
        (12L, "too short"))
      q.processAllAvailable()
      def ids() = spark.read.parquet(corpus)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(ids() == Set(10L))
      // batch 2: cross-batch exact dup (fingerprint anti-join), a
      // near-dup (LSH admission), and a novel doc → admit only 22
      // 21 appends two words to 10's text: shingle Jaccard ≈ 16/18,
      // far above the 0.5 threshold — a true near-dup
      in.addData(
        (20L, "the quick brown fox jumps over the lazy dog and then runs home across the wide green field"),
        (21L, "the quick brown fox jumps over the lazy dog and then runs home across the wide green field again tonight"),
        (22L, "completely different vocabulary appears in the new document"))
      q.processAllAvailable()
      assert(ids() == Set(10L, 22L))
      // the stored corpus carries the fingerprint column that makes the
      // NEXT batch's exact dedup a fingerprint-only anti-join
      assert(spark.read.parquet(corpus).columns.contains("fingerprint"))
    } finally q.stop()
  }

  test("scd2 sink maintains the version history across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-scd2").toString
    val (snap, ckpt) = (dir + "/dim", dir + "/ckpt")
    def ts(d: Int) = java.sql.Timestamp.valueOf(f"2024-01-$d%02d 00:00:00")
    val in = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = Streaming.scd2Sink(in.toDF().toDF("user_id", "tier", "ts"),
      "user_id", Seq("tier"), "ts", snap, ckpt)
    try {
      in.addData((1L, "bronze", ts(1)), (2L, "gold", ts(2)))
      q.processAllAvailable()
      def rows() = spark.read.parquet(snap)
        .collect().map(r => (r.getLong(0), r.getString(1),
          Option(r.getTimestamp(3)).map(_.toString.take(10)))).toSet
      assert(rows() == Set((1L, "bronze", None), (2L, "gold", None)))
      // batch 2: tier change for 1 closes its version; no-change for 2
      in.addData((1L, "silver", ts(10)), (2L, "gold", ts(11)))
      q.processAllAvailable()
      assert(rows() == Set(
        (1L, "bronze", Some("2024-01-10")), (1L, "silver", None),
        (2L, "gold", None)))
    } finally q.stop()
  }

  test("watermarked stream-stream interval join attributes clicks to impressions") {
    val dir = Files.createTempDirectory("graft-ssjoin").toString
    Seq((1L, 7L, "2024-01-01 00:00:00"), (2L, 8L, "2024-01-01 01:00:00"))
      .toDF("imp_id", "imp_user", "s")
      .select($"imp_id", $"imp_user", $"s".cast("timestamp").as("imp_ts"))
      .coalesce(1).write.parquet(dir + "/imp")
    Seq((10L, 7L, "2024-01-01 00:03:00"),   // within 5 min of imp 1 → match
        (11L, 7L, "2024-01-01 00:30:00"),   // too late → no match
        (12L, 9L, "2024-01-01 00:01:00"))   // wrong user → no match
      .toDF("clk_id", "clk_user", "s")
      .select($"clk_id", $"clk_user", $"s".cast("timestamp").as("clk_ts"))
      .coalesce(1).write.parquet(dir + "/clk")

    val impSchema = spark.read.parquet(dir + "/imp").schema
    val clkSchema = spark.read.parquet(dir + "/clk").schema
    val joined = Streaming.streamIntervalJoin(
      Streaming.fileStream(spark, impSchema, dir + "/imp"),
      Streaming.fileStream(spark, clkSchema, dir + "/clk"),
      "imp_user", "clk_user", "imp_ts", "clk_ts",
      within = "5 MINUTES", lateness = "10 minutes")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("attributed")
      .option("checkpointLocation", dir + "/ckpt").start()
    try q.processAllAvailable() finally q.stop()

    val out = spark.table("attributed")
      .select("imp_id", "clk_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((1L, 10L)))
  }

  test("a late in-gap event must not rewind a cross-batch session's end") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-sess3").toString
    val in = MemoryStream[Streaming.TimedEv]
    val q = Streaming.sessionWindows(in.toDS(), gapSeconds = 60)
      .writeStream.outputMode("append")
      .format("memory").queryName("sess3")
      .option("checkpointLocation", dir + "/ckpt").start()
    try {
      in.addData(Streaming.TimedEv(1L, 100), Streaming.TimedEv(1L, 150))
      q.processAllAvailable()
      // batch 2: 120 is late-but-in-gap (must not rewind end from 150);
      // 200 extends (200-150=50 <= gap); 5000 closes the whole session
      in.addData(Streaming.TimedEv(1L, 120), Streaming.TimedEv(1L, 200),
        Streaming.TimedEv(1L, 5000))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("sess3").as[Streaming.SessionWindow].collect()
    assert(out.toSeq == Seq(Streaming.SessionWindow(1L, 100, 200, 4)),
      s"one merged session 100..200, not a split: ${out.toSeq}")
  }

  test("an event far older than the open session forms its own closed session") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-sess4").toString
    val in = MemoryStream[Streaming.TimedEv]
    val q = Streaming.sessionWindows(in.toDS(), gapSeconds = 60)
      .writeStream.outputMode("append")
      .format("memory").queryName("sess4")
      .option("checkpointLocation", dir + "/ckpt").start()
    try {
      in.addData(Streaming.TimedEv(1L, 1000), Streaming.TimedEv(1L, 1005))
      q.processAllAvailable()
      // a straggler at 100 is 900s BEFORE the open session — it must NOT
      // be absorbed into [1000,1005]; it is its own session, closed
      // immediately (the open [1000,1005] session comes after it)
      in.addData(Streaming.TimedEv(1L, 100))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("sess4").as[Streaming.SessionWindow].collect()
    assert(out.toSeq == Seq(Streaming.SessionWindow(1L, 100, 100, 1)),
      s"straggler emitted alone, open session retained: ${out.toSeq}")
  }

  test("event-time timeout closes an open session once the watermark passes") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-sess-to").toString
    def ev(user: Long, sec: Long) =
      Streaming.TimedEvT(user, sec, new java.sql.Timestamp(sec * 1000L))
    val in = MemoryStream[Streaming.TimedEvT]
    val q = Streaming.sessionWindowsWithTimeout(in.toDS(), gapSeconds = 60,
        lateness = "0 seconds")
      .writeStream.outputMode("append")
      .format("memory").queryName("sessto")
      .option("checkpointLocation", dir + "/ckpt").start()
    try {
      in.addData(ev(1L, 100), ev(1L, 130))
      q.processAllAvailable()
      assert(spark.table("sessto").isEmpty) // open, watermark still behind
      // another USER's far-future event advances the watermark past
      // user 1's session end + gap; the next trigger fires the timeout
      in.addData(ev(99L, 10000))
      q.processAllAvailable()
      in.addData(ev(99L, 20000))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("sessto").as[Streaming.SessionWindow].collect()
    // user 1's session was emitted by TIMEOUT (no further user-1 event)
    assert(out.exists(_ == Streaming.SessionWindow(1L, 100, 130, 2)))
  }

  test("left-outer interval join emits unmatched impressions after the watermark") {
    val dir = Files.createTempDirectory("graft-ssjoin-lo").toString
    Seq((1L, 7L, "2024-01-01 00:00:00"),   // will match
        (2L, 8L, "2024-01-01 00:00:00"),   // never matches → null right
        (3L, 7L, "2024-01-01 09:00:00"))   // far future: advances watermark
      .toDF("imp_id", "imp_user", "s")
      .select($"imp_id", $"imp_user", $"s".cast("timestamp").as("imp_ts"))
      .coalesce(1).write.parquet(dir + "/imp")
    Seq((10L, 7L, "2024-01-01 00:03:00"), (11L, 7L, "2024-01-01 09:00:00"))
      .toDF("clk_id", "clk_user", "s")
      .select($"clk_id", $"clk_user", $"s".cast("timestamp").as("clk_ts"))
      .coalesce(1).write.parquet(dir + "/clk")

    val joined = Streaming.streamIntervalJoin(
      Streaming.fileStream(spark, spark.read.parquet(dir + "/imp").schema, dir + "/imp"),
      Streaming.fileStream(spark, spark.read.parquet(dir + "/clk").schema, dir + "/clk"),
      "imp_user", "clk_user", "imp_ts", "clk_ts",
      within = "5 MINUTES", lateness = "10 minutes", joinType = "leftOuter")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("attributed_lo")
      .option("checkpointLocation", dir + "/ckpt").start()
    try q.processAllAvailable() finally q.stop()

    val out = spark.table("attributed_lo").select("imp_id", "clk_id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet
    assert(out.contains((1L, Some(10L))))
    assert(out.contains((2L, None)), "unmatched impression must emit with null right side")
  }

  test("foreachBatch month-scoped sink merges micro-batches idempotently by key") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-fbsink").toString
    case class Rec(k: String, ts: java.sql.Timestamp, x: Double)
    def rec(k: String, s: String, x: Double) = (k, java.sql.Timestamp.valueOf(s), x)
    val in = MemoryStream[(String, java.sql.Timestamp, Double)]
    val q = Streaming.monthScopedSink(
      in.toDF().toDF("k", "ts", "x"),
      keys = Seq("k"), tsCol = "ts", path = dir + "/t", checkpoint = dir + "/ckpt")
    try {
      in.addData(rec("a", "2024-01-10 00:00:00", 1.0), rec("b", "2024-02-10 00:00:00", 1.0))
      q.processAllAvailable()
      val janFiles = new java.io.File(dir + "/t/pickup_month=2024-01")
        .listFiles().map(f => (f.getName, f.lastModified())).toSet
      // second batch: replace key b, add c — both February
      in.addData(rec("b", "2024-02-11 00:00:00", 2.0), rec("c", "2024-02-12 00:00:00", 3.0))
      q.processAllAvailable()
      val out = spark.read.parquet(dir + "/t")
      assert(out.count() == 3)
      assert(out.filter($"k" === "b").select("x").first().getDouble(0) == 2.0)
      // January's partition untouched by the February micro-batch
      val janAfter = new java.io.File(dir + "/t/pickup_month=2024-01")
        .listFiles().map(f => (f.getName, f.lastModified())).toSet
      assert(janAfter == janFiles)
    } finally q.stop()
  }

  test("mapGroupsWithState sessionization accumulates per-user state") {
    val evs = Seq(Streaming.Ev(1L, 1.0), Streaming.Ev(1L, 2.0), Streaming.Ev(2L, 5.0)).toDS()
    val out = Streaming.sessionize(evs).collect().map(s => s.userId -> s).toMap
    assert(out(1L).nEvents == 2 && out(1L).totalValue == 3.0)
    assert(out(2L).nEvents == 1 && out(2L).totalValue == 5.0)
  }

  test("built-in session_window merges events within the gap (batch form)") {
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val events = Seq((1L, ts(0)), (1L, ts(5)), (1L, ts(40)), (2L, ts(1)))
      .toDF("user_id", "ts")
    val out = Streaming.sessionWindowsBuiltin(events, "ts", "user_id",
        gap = "10 minutes", lateness = "0 seconds")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1)) ->
        ((r.getTimestamp(2), r.getLong(3)))).toMap
    // session end = last event + gap (the built-in's semantics)
    assert(out((1L, ts(0))) == ((ts(15), 2L)))
    assert(out((1L, ts(40))) == ((ts(50), 1L)))
    assert(out((2L, ts(1))) == ((ts(11), 1L)))
  }

  test("built-in session_window emits closed sessions in streaming append mode") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-sessbi").toString
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val in = MemoryStream[(Long, java.sql.Timestamp)]
    val q = Streaming.sessionWindowsBuiltin(in.toDF().toDF("user_id", "ts"),
        "ts", "user_id", gap = "10 minutes", lateness = "5 minutes")
      .writeStream.outputMode("append")
      .format("memory").queryName("sessbi")
      .option("checkpointLocation", dir + "/ckpt").start()
    try {
      in.addData((1L, ts(0)), (1L, ts(5)))
      q.processAllAvailable()
      // watermark still at 5min - 5min lateness: nothing closed yet
      assert(spark.table("sessbi").isEmpty)
      // an event far in the future pushes the watermark past 0..15+gap
      in.addData((2L, ts(55)))
      q.processAllAvailable()
      in.addData((2L, ts(59))) // advance once more so the batch emits
      q.processAllAvailable()
    } finally q.stop()
    val closed = spark.table("sessbi")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(3)))
    assert(closed.contains((1L, ts(0), 2L)),
      "the merged 10:00-10:05 session must close once the watermark passes")
  }

  test("aggMergeSink: streamed partials equal the one-shot direct aggregate") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-aggmerge").toString
    val (table, ckpt) = (dir + "/daily", dir + "/ckpt")
    def ts(d: Int, h: Int) = java.sql.Timestamp.valueOf(f"2024-02-$d%02d $h%02d:00:00")
    val in = MemoryStream[(java.sql.Timestamp, Double)]
    val q = Streaming.aggMergeSink(in.toDF().toDF("ts", "value"),
      "ts", "value", table, ckpt)
    val all = Seq(
      (ts(1, 1), 1.5), (ts(1, 2), 2.25), (ts(2, 3), -4.0),
      (ts(1, 9), 0.125), (ts(2, 10), 8.0), (ts(3, 11), 3.0))
    try {
      in.addData(all.take(3): _*) // batch 1
      q.processAllAvailable()
      in.addData(all.drop(3): _*) // batch 2: day 1 and 2 get MERGED rows
      q.processAllAvailable()
    } finally q.stop()
    val streamed = graft.operators.AggMerge.finish(spark.read.parquet(table))
      .collect().map(r => r.getDate(0).toString ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    val direct = graft.operators.AggMerge.finish(graft.operators.AggMerge
        .dailyPartial(all.toDF("ts", "value"), "ts", "value"))
      .collect().map(r => r.getDate(0).toString ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(streamed == direct, s"$streamed vs $direct")
    assert(streamed("2024-02-01") == ((3L, 3.875, 0.125, 2.25)))
  }

  test("aggMergeSink survives a pre-existing EMPTY snapshot (null fence)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-aggmerge-empty").toString
    val (table, ckpt) = (dir + "/daily", dir + "/ckpt")
    // a zero-row stored table (e.g. an empty first micro-batch wrote an
    // empty snapshot): max(last_batch_id) is SQL NULL — the fence read
    // used to NPE here and wedge the stream on every subsequent batch
    graft.operators.AggMerge.dailyPartial(
        Seq.empty[(java.sql.Timestamp, Double)].toDF("ts", "value"),
        "ts", "value")
      .withColumn("last_batch_id", org.apache.spark.sql.functions.lit(0L))
      .write.parquet(table)
    assert(spark.read.parquet(table).count() == 0)
    val in = MemoryStream[(java.sql.Timestamp, Double)]
    val q = Streaming.aggMergeSink(in.toDF().toDF("ts", "value"),
      "ts", "value", table, ckpt)
    try {
      in.addData((java.sql.Timestamp.valueOf("2024-02-01 01:00:00"), 2.5))
      q.processAllAvailable()
    } finally q.stop()
    val out = graft.operators.AggMerge.finish(
        spark.read.parquet(table).drop("last_batch_id"))
      .collect().map(r => r.getDate(0).toString -> r.getDouble(2)).toMap
    assert(out == Map("2024-02-01" -> 2.5))
  }

  test("cdcMaintSink maintains fact + partials through deletes of a stored extreme") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-cdcsink").toString
    val (fact, parts, ckpt) = (dir + "/fact", dir + "/daily", dir + "/ckpt")
    def ts(d: Int, h: Int) = java.sql.Timestamp.valueOf(f"2024-02-$d%02d $h%02d:00:00")
    val in = MemoryStream[(String, Long, java.sql.Timestamp, Double)]
    val q = Streaming.cdcMaintSink(
      in.toDF().toDF("op", "event_id", "ts", "value"),
      "event_id", "ts", "value", "op", fact, parts, ckpt)
    try {
      // batch 1: initial load
      in.addData(("insert", 1L, ts(1, 1), 1.0), ("insert", 2L, ts(1, 2), 9.0),
        ("insert", 3L, ts(2, 1), 4.0))
      q.processAllAvailable()
      // batch 2: delete day-1's stored MAX (rebuild path) + a new insert
      in.addData(("delete", 2L, ts(1, 2), 9.0), ("insert", 4L, ts(2, 5), 6.0))
      q.processAllAvailable()
    } finally q.stop()
    val factRows = spark.read.parquet(fact).drop("last_batch_id")
      .collect().map(r => r.getAs[Long]("event_id")).toSet
    assert(factRows == Set(1L, 3L, 4L), "fact snapshot tracks the CDC stream")
    val streamed = graft.operators.AggMerge.finish(
        spark.read.parquet(parts).drop("last_batch_id"))
      .collect().map(r => r.getDate(0).toString ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(streamed == Map(
      "2024-02-01" -> ((1L, 1.0, 1.0, 1.0)),   // max 9.0 retracted via rebuild
      "2024-02-02" -> ((2L, 10.0, 4.0, 6.0))))
  }

  test("attributionStream matches the batch lastTouch operator across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Streaming.AttrEv]
    val q = Streaming.attributionStream(in.toDS(),
        touchTypes = Set("view", "click"), conversionType = "purchase",
        lookbackSeconds = 600L)
      .writeStream.format("memory").queryName("attrstream")
      .outputMode("append").start()
    try {
      // batch 1: u1 views (t=100) then clicks (t=200)
      in.addData(Streaming.AttrEv(1L, 100L, "view", 10L),
        Streaming.AttrEv(1L, 200L, "click", 11L))
      q.processAllAvailable()
      // batch 2: u1 purchase at 300 (credit click 11), purchase at 900
      // (click now 700s stale → organic); u2 purchase with no touch
      in.addData(Streaming.AttrEv(1L, 300L, "purchase", 12L),
        Streaming.AttrEv(1L, 900L, "purchase", 13L),
        Streaming.AttrEv(2L, 300L, "purchase", 20L))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("attrstream")
      .collect().map(r => r.getAs[Long]("conversion_id") ->
        ((r.getAs[String]("channel"), Option(r.getAs[java.lang.Long]("touch_id"))))).toMap
    assert(streamed == Map(
      12L -> (("click", Some(11L))),
      13L -> (("organic", None)),
      20L -> (("organic", None))))
    // parity with the batch operator on the union of both batches
    val ev = Seq(
      (1L, 10L, new java.sql.Timestamp(100000L), "view", 0.0),
      (1L, 11L, new java.sql.Timestamp(200000L), "click", 0.0),
      (1L, 12L, new java.sql.Timestamp(300000L), "purchase", 1.0),
      (1L, 13L, new java.sql.Timestamp(900000L), "purchase", 1.0),
      (2L, 20L, new java.sql.Timestamp(300000L), "purchase", 1.0)
    ).toDF("user_id", "event_id", "ts", "event_type", "value")
    val batch = graft.operators.Attribution.lastTouch(ev, "user_id", "ts",
        "event_type", "event_id", Seq("view", "click"), "purchase", 600L)
      .collect().map(r => r.getAs[Long]("event_id") ->
        ((r.getAs[String]("channel"), Option(r.getAs[java.lang.Long]("touch_id"))))).toMap
    assert(streamed == batch, s"streamed $streamed vs batch $batch")
  }

  test("attributionStream credits a same-second touch (batch tie rule)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Streaming.AttrEv]
    val q = Streaming.attributionStream(in.toDS(),
        touchTypes = Set("click"), conversionType = "purchase",
        lookbackSeconds = 600L)
      .writeStream.format("memory").queryName("attrtie")
      .outputMode("append").start()
    try {
      // SAME SECOND, touch id LARGER than the conversion id: the fold
      // must still process the touch first — AsOfJoin's batch tie rule
      // makes a same-instant touch visible to the conversion
      in.addData(Streaming.AttrEv(1L, 500L, "purchase", 30L),
        Streaming.AttrEv(1L, 500L, "click", 99L))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("attrtie")
      .collect().map(r => r.getAs[Long]("conversion_id") ->
        ((r.getAs[String]("channel"), Option(r.getAs[java.lang.Long]("touch_id"))))).toMap
    val ev = Seq(
      (1L, 30L, new java.sql.Timestamp(500000L), "purchase", 1.0),
      (1L, 99L, new java.sql.Timestamp(500000L), "click", 0.0)
    ).toDF("user_id", "event_id", "ts", "event_type", "value")
    val batch = graft.operators.Attribution.lastTouch(ev, "user_id", "ts",
        "event_type", "event_id", Seq("click"), "purchase", 600L)
      .collect().map(r => r.getAs[Long]("event_id") ->
        ((r.getAs[String]("channel"), Option(r.getAs[java.lang.Long]("touch_id"))))).toMap
    assert(streamed == Map(30L -> (("click", Some(99L)))))
    assert(streamed == batch, s"streamed $streamed vs batch $batch")
  }

  test("heavyHitterSink: streamed MG summaries equal the one-shot top-k") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-hhsink").toString
    val (table, ckpt) = (dir + "/mg", dir + "/ckpt")
    def ts(d: Int, h: Int) = java.sql.Timestamp.valueOf(f"2024-02-$d%02d $h%02d:00:00")
    val all = Seq(
      (ts(1, 1), "view"), (ts(1, 2), "view"), (ts(1, 3), "click"),
      (ts(1, 4), "view"), (ts(2, 1), "buy"), (ts(2, 2), "buy"), (ts(2, 3), "view"))
    val in = MemoryStream[(java.sql.Timestamp, String)]
    val q = Streaming.heavyHitterSink(in.toDF().toDF("ts", "item"),
      "ts", "item", capacity = 16, table, ckpt)
    try {
      in.addData(all.take(4): _*); q.processAllAvailable()
      in.addData(all.drop(4): _*); q.processAllAvailable()
    } finally q.stop()
    val streamed = graft.functions.MisraGries.finishTopK(
        spark.read.parquet(table).drop("last_batch_id"), k = 2)
      .collect().map(r => (r.getDate(0).toString, r.getAs[Int]("rank")) ->
        ((r.getAs[String]("item"), r.getAs[Long]("weight")))).toMap
    // capacity 16 > 3 items → exact counts
    assert(streamed(("2024-02-01", 1)) == (("view", 3L)))
    assert(streamed(("2024-02-01", 2)) == (("click", 1L)))
    assert(streamed(("2024-02-02", 1)) == (("buy", 2L)))
    assert(streamed(("2024-02-02", 2)) == (("view", 1L)))
  }

  test("quantilePartialSink: streamed map equals one-shot; replay is fenced") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-qsink").toString
    val (table, ckpt) = (dir + "/counts", dir + "/ckpt")
    val all = Seq(("s1", 10L), ("s1", 20L), ("s2", 10L),
      ("s1", 10L), ("s2", 30L), ("s2", 30L))
    val in = MemoryStream[(String, Long)]
    val q = Streaming.quantilePartialSink(in.toDF().toDF("src", "len"),
      "src", "len", table, ckpt)
    try {
      in.addData(all.take(3): _*); q.processAllAvailable()
      in.addData(all.drop(3): _*); q.processAllAvailable()
    } finally q.stop()
    def readMap() = spark.read.parquet(table).drop("last_batch_id")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val streamed = readMap()
    val direct = graft.operators.Profile
      .quantilePartialBy(all.toDF("src", "len"), "src", "len")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(streamed == direct, s"$streamed vs $direct")
    // quantiles read off the stored map are the exact per-group answers
    val med = graft.operators.Profile.quantilesFromCountsBy(
        spark.read.parquet(table).drop("last_batch_id"), Seq((1, 2)))
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(med == Map("s1" -> 10L, "s2" -> 30L))
    // replay batch 1 through a fresh checkpoint: ids restart at 0,
    // the stored fence (last_batch_id=1) must reject it — no recount
    val in2 = MemoryStream[(String, Long)]
    val q2 = Streaming.quantilePartialSink(in2.toDF().toDF("src", "len"),
      "src", "len", table, dir + "/ckpt2")
    try { in2.addData(all.take(3): _*); q2.processAllAvailable() }
    finally q2.stop()
    assert(readMap() == streamed, "replayed batch must be a no-op")
  }

  test("distinctMergeSink: streamed sketches equal the one-shot, replay included") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-hllsink").toString
    val (table, ckpt) = (dir + "/daily", dir + "/ckpt")
    def ts(d: Int, h: Int) = java.sql.Timestamp.valueOf(f"2024-02-$d%02d $h%02d:00:00")
    val all = Seq((ts(1, 1), "u1"), (ts(1, 2), "u2"), (ts(1, 3), "u1"),
      (ts(2, 4), "u3"), (ts(2, 5), "u4"))
    val in = MemoryStream[(java.sql.Timestamp, String)]
    val q = Streaming.distinctMergeSink(in.toDF().toDF("ts", "uid"),
      "ts", "uid", table, ckpt)
    try {
      in.addData(all.take(3): _*); q.processAllAvailable()
      in.addData(all.drop(3): _*); q.processAllAvailable()
    } finally q.stop()
    // replay the SECOND batch through a fresh checkpoint: HLL union is
    // idempotent, so the stored estimates must not change
    val in2 = MemoryStream[(java.sql.Timestamp, String)]
    val q2 = Streaming.distinctMergeSink(in2.toDF().toDF("ts", "uid"),
      "ts", "uid", table, ckpt + "2")
    try { in2.addData(all.drop(3): _*); q2.processAllAvailable() } finally q2.stop()
    val got = graft.operators.AggMerge.finishDistinct(spark.read.parquet(table))
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    assert(got == Map("2024-02-01" -> 2L, "2024-02-02" -> 2L), s"got $got")
  }

  test("bloomMembershipSink: streamed filter equals the one-shot, " +
    "replay is a bitwise no-op") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-bloomsink").toString
    val (table, ckpt) = (dir + "/filter", dir + "/ckpt")
    val items = (0 until 40).map(i => s"doc-$i")
    val in = MemoryStream[String]
    val q = Streaming.bloomMembershipSink(in.toDF().toDF("item"),
      "item", 512L, 4, "", table, ckpt)
    try {
      in.addData(items.take(25): _*); q.processAllAvailable()
      in.addData(items.drop(25): _*); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.read.parquet(table)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // replay the SECOND batch through a fresh checkpoint: OR is
    // idempotent, the stored words must be bit-identical
    val in2 = MemoryStream[String]
    val q2 = Streaming.bloomMembershipSink(in2.toDF().toDF("item"),
      "item", 512L, 4, "", table, ckpt + "2")
    try { in2.addData(items.drop(25): _*); q2.processAllAvailable() }
    finally q2.stop()
    val replayed = spark.read.parquet(table)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(replayed == streamed)
    // and both equal the one-shot batch filter
    val one = graft.functions.Bloom.partial(items.toDF("item"),
      "item", 512L, 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed == one)
    // read side: every member found
    val hits = graft.functions.Bloom.contains(spark.read.parquet(table),
      items.toDF("item"), "item", 512L, 4)
    assert(hits.filter(!$"might_contain").count() == 0)
  }

  test("lakeIngestSink: batches land in batch dirs, manifest stays " +
    "equal to a full rebuild, pruned reads work on the ingested lake") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-ingestsink").toString
    val lake = dir + "/lake"
    val in = MemoryStream[(Long, Long)]
    val q = Streaming.lakeIngestSink(in.toDF().toDF("x", "y"),
      lake, Seq("x"), dir + "/ckpt")
    try {
      in.addData((0L until 40L).map(i => (i, i % 7)): _*)
      q.processAllAvailable()
      in.addData((40L until 80L).map(i => (i, i % 7)): _*)
      q.processAllAvailable()
    } finally q.stop()
    val data = spark.read.option("recursiveFileLookup", "true")
      .parquet(lake)
    assert(data.count() == 80L)
    val man = spark.read.parquet(s"$lake/_graft_manifest")
      .orderBy("path").collect().map(_.toSeq)
    val full = graft.sources.Tables.footerStatsTyped(spark, lake, Seq("x"))
      .orderBy("path").collect().map(_.toSeq)
    assert(man.length == full.length
      && man.zip(full).forall { case (a, b) => a == b })
    // the manifest-planned read returns the boxed subset exactly
    val pruned = graft.sources.Tables.readPrunedManifest(spark, lake,
      Seq[(String, Any, Any)](("x", 0L, 39L)))
    assert(pruned.count() == 40L)
  }

  test("ivfAppendSink: streamed vectors become searchable in the index") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val emb = graft.sources.Tables.read(spark, "/root/testdata/sf0.001", "embeddings")
    val dir = Files.createTempDirectory("graft-ivfsink").toString
    val idx = dir + "/idx"
    graft.llmdata.Similarity.ivfIndexWrite(
      emb.filter($"vec_id" % 2 === 0), "vec_id", "embedding", idx,
      nCells = 4, lloydIters = 1)
    val newVecs = emb.filter($"vec_id" % 2 =!= 0).orderBy($"vec_id").limit(4)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    val in = MemoryStream[(Long, Seq[Float])]
    val q = Streaming.ivfAppendSink(in.toDF().toDF("vec_id", "embedding"),
      "vec_id", "embedding", idx, dir + "/ckpt")
    try {
      in.addData(newVecs.take(2): _*); q.processAllAvailable()
      in.addData(newVecs.drop(2): _*); q.processAllAvailable()
    } finally q.stop()
    // every streamed vector, probed by its own embedding under a fresh
    // id, comes back at rank 1 with cosine 1
    val probes = newVecs.zipWithIndex
      .map { case ((_, v), i) => (900000L + i, v) }.toSeq
      .toDF("vec_id", "embedding")
    val hits = graft.llmdata.Similarity.ivfTopKIndexed(spark, idx, probes,
        "vec_id", "embedding", k = 1, nprobe = 1)
      .collect().map(r => r.getAs[Long]("query_id") - 900000L ->
        ((r.getAs[Long]("neighbor_id"), r.getAs[Double]("cosine")))).toMap
    newVecs.zipWithIndex.foreach { case ((id, _), i) =>
      val (nb, cos) = hits(i.toLong)
      assert(nb == id && math.abs(cos - 1.0) < 1e-6,
        s"streamed vec $id must be its own nearest neighbor: got $nb @ $cos")
    }
  }

  test("aggMergeSink: a replayed batch id is a no-op, not a double count") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-aggreplay").toString
    val (table, ckpt) = (dir + "/daily", dir + "/ckpt")
    def ts(h: Int) = java.sql.Timestamp.valueOf(f"2024-02-01 $h%02d:00:00")
    val rows = Seq((ts(1), 1.5), (ts(2), 2.5))
    val in = MemoryStream[(java.sql.Timestamp, Double)]
    val q = Streaming.aggMergeSink(in.toDF().toDF("ts", "value"),
      "ts", "value", table, ckpt)
    try { in.addData(rows: _*); q.processAllAvailable() } finally q.stop()
    // Simulate foreachBatch's at-least-once replay: a restart from the
    // SAME checkpoint after a swap-committed-but-checkpoint-failed crash
    // re-delivers the batch with the SAME batch id. Here the checkpoint
    // DID commit, so restarting and re-feeding the data produces batch
    // id 1 — drive the replay path directly instead: feed batch id 0's
    // merge a second time through a fresh sink sharing the table but a
    // NEW checkpoint (batch ids restart at 0 → stored id 0 must be
    // skipped as already applied).
    val in2 = MemoryStream[(java.sql.Timestamp, Double)]
    val q2 = Streaming.aggMergeSink(in2.toDF().toDF("ts", "value"),
      "ts", "value", table, ckpt + "2")
    try { in2.addData(rows: _*); q2.processAllAvailable() } finally q2.stop()
    val got = graft.operators.AggMerge.finish(spark.read.parquet(table))
      .collect().map(r => (r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq((2L, 4.0)),
      s"replayed batch 0 must not double-count: $got")
  }

  test("driftMonitorSink: fenced cumulative counts, per-batch TV snapshots") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-drift").toString
    val ref = Seq(("A", 2L), ("B", 2L)).toDF("category", "cnt")
    val in = MemoryStream[(Long, String)]
    val q = Streaming.driftMonitorSink(in.toDF().toDF("id", "cat"), "cat",
      ref, dir + "/counts", dir + "/snaps", dir + "/ckpt")
    try {
      in.addData((1L, "A"), (2L, "A"))       // cumulative {A:2} -> TV 0.5
      q.processAllAvailable()
      in.addData((3L, "B"), (4L, "A"))       // cumulative {A:3, B:1} -> TV 0.25
      q.processAllAvailable()
    } finally q.stop()
    val counts = spark.read.parquet(dir + "/counts")
      .select("category", "cnt").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("A" -> 3L, "B" -> 1L))
    val snaps = spark.read.parquet(dir + "/snaps")
      .orderBy("batch_id").collect()
      .map(r => (r.getAs[Long]("batch_id"), r.getAs[Double]("tv_distance")))
    assert(snaps.toSeq == Seq((0L, 0.5), (1L, 0.25)))
    // replay batch id 0 through a fresh checkpoint sharing the stores:
    // counts must not double, no duplicate snapshot row
    val in2 = MemoryStream[(Long, String)]
    val q2 = Streaming.driftMonitorSink(in2.toDF().toDF("id", "cat"), "cat",
      ref, dir + "/counts", dir + "/snaps", dir + "/ckpt2")
    try { in2.addData((9L, "A")); q2.processAllAvailable() } finally q2.stop()
    val counts2 = spark.read.parquet(dir + "/counts")
      .select("category", "cnt").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts2 == Map("A" -> 3L, "B" -> 1L), "replay must be fenced")
    assert(spark.read.parquet(dir + "/snaps").count() == 2L)
  }

  test("contractMonitorSink: fenced cumulative null accounting, per-batch " +
    "contract snapshots vs the pinned profile") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-contract").toString
    // reference profile: tag was never NULL in the accepted load
    val ref = Seq(("id", 4L, 0L), ("tag", 4L, 0L))
      .toDF("column_name", "n_ref", "n_null_ref")
    val in = MemoryStream[(Option[Long], Option[String])]
    val q = Streaming.contractMonitorSink(in.toDF().toDF("id", "tag"),
      Seq("id", "tag"), ref, dir + "/counts", dir + "/snaps", dir + "/ckpt")
    try {
      in.addData((Some(1L), Some("a")), (Some(2L), Some("b")))
      q.processAllAvailable()
      in.addData((Some(3L), None), (None, None)) // tag null-rate jumps
      q.processAllAvailable()
    } finally q.stop()
    val counts = spark.read.parquet(dir + "/counts")
      .select("column_name", "n", "n_null").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(counts == Map("id" -> ((4L, 1L)), "tag" -> ((4L, 2L))))
    val last = spark.read.parquet(dir + "/snaps")
      .filter(col("batch_id") === 1L)
      .collect().map(r => r.getAs[String]("column_name") ->
        (r.getAs[Double]("null_frac"), r.getAs[Double]("null_frac_delta")))
      .toMap
    assert(last("tag") == ((0.5, 0.5)))
    assert(last("id") == ((0.25, 0.25)))
    // replay batch 0 through a fresh checkpoint: fenced, no double count
    val in2 = MemoryStream[(Option[Long], Option[String])]
    val q2 = Streaming.contractMonitorSink(in2.toDF().toDF("id", "tag"),
      Seq("id", "tag"), ref, dir + "/counts", dir + "/snaps", dir + "/ckpt2")
    try { in2.addData((Some(9L), Some("x"))); q2.processAllAvailable() }
    finally q2.stop()
    val counts2 = spark.read.parquet(dir + "/counts")
      .select("column_name", "n").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts2 == Map("id" -> 4L, "tag" -> 4L), "replay must be fenced")
    assert(spark.read.parquet(dir + "/snaps").count() == 4L) // 2 cols x 2 batches
  }

  test("calibrationMonitorSink: fenced cumulative bins, per-batch ECE " +
    "snapshots equal the one-shot batch operator") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-calmon").toString
    val in = MemoryStream[(Double, Long)]
    val q = Streaming.calibrationMonitorSink(in.toDF().toDF("score", "label"),
      "score", "label", nBins = 2,
      dir + "/bins", dir + "/snaps", dir + "/ckpt")
    val b1 = Seq((0.1, 1L), (0.2, 0L), (0.3, 0L), (0.4, 0L))
    val b2 = Seq((0.6, 1L), (0.7, 0L), (0.8, 0L), (0.9, 0L))
    try {
      in.addData(b1: _*) // bin0 perfectly midpoint-calibrated -> ECE 0
      q.processAllAvailable()
      in.addData(b2: _*) // bin1 off by |4-12|=8 -> cumulative ECE 0.25
      q.processAllAvailable()
    } finally q.stop()
    val bins = spark.read.parquet(dir + "/bins")
      .select("bin", "n", "n_pos").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(bins == Map(0L -> ((4L, 1L)), 1L -> ((4L, 1L))))
    val snaps = spark.read.parquet(dir + "/snaps").orderBy("batch_id")
      .collect().map(r => (r.getAs[Long]("batch_id"),
        r.getAs[Long]("ece_num"), r.getAs[Double]("ece")))
    assert(snaps.toSeq == Seq((0L, 0L, 0.0), (1L, 8L, 0.25)))
    // streamed cumulative state ≡ the one-shot batch ECE
    val oneShot = graft.operators.Profile.expectedCalibrationError(
      (b1 ++ b2).toDF("score", "label"), "score", "label", 2).head()
    assert(oneShot.getLong(1) == 8L && oneShot.getDouble(2) == 0.25)
    // replay batch 0 through a fresh checkpoint: fenced, no double count
    val in2 = MemoryStream[(Double, Long)]
    val q2 = Streaming.calibrationMonitorSink(in2.toDF().toDF("score", "label"),
      "score", "label", nBins = 2,
      dir + "/bins", dir + "/snaps", dir + "/ckpt2")
    try { in2.addData((0.1, 1L)); q2.processAllAvailable() } finally q2.stop()
    assert(spark.read.parquet(dir + "/bins")
      .agg(sum("n")).head().getLong(0) == 8L, "replay must be fenced")
    assert(spark.read.parquet(dir + "/snaps").count() == 2L)
  }

  test("conformalMonitorSink: fenced residual lattice, per-batch qhat " +
    "snapshots equal the one-shot rational-rank quantile") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-confmon").toString
    val in = MemoryStream[Double]
    val q = Streaming.conformalMonitorSink(in.toDF().toDF("r"), "r",
      alphaNum = 1, alphaDen = 10,
      dir + "/counts", dir + "/snaps", dir + "/ckpt")
    try {
      in.addData((1 to 9).map(_.toDouble): _*) // n=9, k=ceil(10*9/10)=9 -> qhat 9
      q.processAllAvailable()
      in.addData(10.0)                  // n=10, k=ceil(11*9/10)=10 -> qhat 10
      q.processAllAvailable()
    } finally q.stop()
    val snaps = spark.read.parquet(dir + "/snaps").orderBy("batch_id")
      .collect().map(r => (r.getAs[Long]("batch_id"), r.getAs[Long]("n"),
        r.getAs[Long]("k_rank"), r.getAs[Double]("qhat")))
    assert(snaps.toSeq == Seq((0L, 9L, 9L, 9.0), (1L, 10L, 10L, 10.0)))
    // streamed cumulative lattice ≡ the one-shot per-key operator
    val oneShot = graft.operators.Eval.conformalQuantile(
      (1 to 10).map(i => ("k", i.toDouble)).toDF("k", "r"), "k", "r", 1, 10)
      .head()
    assert(oneShot.getLong(2) == 10L && oneShot.getDouble(3) == 10.0)
    // replay batch 0 through a fresh checkpoint: fenced
    val in2 = MemoryStream[Double]
    val q2 = Streaming.conformalMonitorSink(in2.toDF().toDF("r"), "r",
      1, 10, dir + "/counts", dir + "/snaps", dir + "/ckpt2")
    try { in2.addData(1.0); q2.processAllAvailable() } finally q2.stop()
    assert(spark.read.parquet(dir + "/counts")
      .agg(sum("cnt")).head().getLong(0) == 10L, "replay must be fenced")
    assert(spark.read.parquet(dir + "/snaps").count() == 2L)
  }

  test("survivalMonitorSink: fenced cumulative cells, per-batch KM life " +
    "tables equal the one-shot batch operator") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-survmon").toString
    val in = MemoryStream[(String, Long, Boolean)]
    val q = Streaming.survivalMonitorSink(
      in.toDF().toDF("cohort", "dur", "churned"), "cohort", "dur", "churned",
      dir + "/cells", dir + "/snaps", dir + "/ckpt")
    val b1 = Seq(("a", 1L, true), ("a", 2L, false))
    val b2 = Seq(("a", 1L, true), ("a", 3L, true))
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    val cells = spark.read.parquet(dir + "/cells")
      .select("duration", "n_events", "n_censored").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(cells == Map(1L -> ((2L, 0L)), 2L -> ((0L, 1L)), 3L -> ((1L, 0L))))
    // batch-0 snapshot: KM of b1 alone; batch-1: KM of the cumulative
    val snaps = spark.read.parquet(dir + "/snaps")
      .select("batch_id", "duration", "n_risk", "hazard").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getDouble(3))))
      .toMap
    assert(snaps == Map(
      (0L, 1L) -> ((2L, 0.5)), (0L, 2L) -> ((1L, 0.0)),
      (1L, 1L) -> ((4L, 0.5)), (1L, 2L) -> ((2L, 0.0)),
      (1L, 3L) -> ((1L, 1.0))))
    // streamed cumulative cells ≡ the one-shot batch operator
    val oneShot = graft.operators.Survival.kaplanMeier(
      (b1 ++ b2).toDF("cohort", "dur", "churned"), "cohort", "dur", "churned")
      .select("duration", "n_risk", "hazard").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(oneShot == Map(1L -> ((4L, 0.5)), 2L -> ((2L, 0.0)),
      3L -> ((1L, 1.0))))
    // replay batch 0 through a fresh checkpoint: fenced, no double count
    val in2 = MemoryStream[(String, Long, Boolean)]
    val q2 = Streaming.survivalMonitorSink(
      in2.toDF().toDF("cohort", "dur", "churned"), "cohort", "dur", "churned",
      dir + "/cells", dir + "/snaps", dir + "/ckpt2")
    try { in2.addData(("a", 1L, true)); q2.processAllAvailable() }
    finally q2.stop()
    assert(spark.read.parquet(dir + "/cells")
      .agg(sum(col("n_events") + col("n_censored"))).head().getLong(0) == 4L,
      "replay must be fenced")
    assert(spark.read.parquet(dir + "/snaps")
      .select("batch_id").distinct().count() == 2L)
  }

  test("cmSketchSink: fenced cumulative grid, per-batch probe estimates " +
    "equal the one-shot batch sketch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-cmmon").toString
    val in = MemoryStream[String]
    val q = Streaming.cmSketchSink(in.toDF().toDF("item"), "item",
      depth = 3, width = 256, probes = Seq("x", "y", "never"), salt = "s",
      dir + "/grid", dir + "/snaps", dir + "/ckpt")
    try {
      in.addData("x", "x", "y"); q.processAllAvailable()
      in.addData("x", "y", "y"); q.processAllAvailable()
    } finally q.stop()
    val snaps = spark.read.parquet(dir + "/snaps")
      .collect().map(r => (r.getAs[Long]("batch_id"),
        r.getAs[String]("item")) -> r.getAs[Long]("est")).toMap
    // no-collision regime at width 256: estimates are exact counts
    assert(snaps == Map((0L, "x") -> 2L, (0L, "y") -> 1L,
      (0L, "never") -> 0L, (1L, "x") -> 3L, (1L, "y") -> 3L,
      (1L, "never") -> 0L))
    // streamed cumulative grid ≡ the one-shot batch sketch
    val oneShot = graft.functions.CountMin.estimate(
      graft.functions.CountMin.partial(
        Seq("x", "x", "y", "x", "y", "y").toDF("item"), "item", 3, 256, "s"),
      Seq("x", "y").toDF("item"), "item", 3, 256, "s")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(oneShot == Map("x" -> 3L, "y" -> 3L))
    // replay batch 0 through a fresh checkpoint: fenced, no double count
    val in2 = MemoryStream[String]
    val q2 = Streaming.cmSketchSink(in2.toDF().toDF("item"), "item",
      3, 256, Seq("x"), "s", dir + "/grid", dir + "/snaps", dir + "/ckpt2")
    try { in2.addData("x"); q2.processAllAvailable() } finally q2.stop()
    assert(spark.read.parquet(dir + "/grid")
      .agg(sum("cnt")).head().getLong(0) == 18L, "replay must be fenced")
    assert(spark.read.parquet(dir + "/snaps")
      .select("batch_id").distinct().count() == 2L)
  }

  test("joinMaintSink: delta-maintained view equals the direct join; replay fenced") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-ivm").toString
    // rows: (side, k, a_val, b_val) — each side populates its own payload
    val in = MemoryStream[(String, Long, Option[String], Option[Double])]
    val q = Streaming.joinMaintSink(
      in.toDF().toDF("side", "k", "a_val", "b_val"), "side", Seq("k"),
      aCols = Seq("a_val"), bCols = Seq("b_val"),
      snapPath = dir + "/snap", viewPath = dir + "/view",
      checkpoint = dir + "/ckpt")
    try {
      in.addData(("a", 1L, Some("x"), None), ("b", 1L, None, Some(10.0)),
        ("a", 2L, Some("y"), None))
      q.processAllAvailable()
      // batch 2: a late b-side row for k=2 joins the STORED a row; a new
      // a row for k=1 joins the stored b row; plus an intra-batch pair
      in.addData(("b", 2L, None, Some(20.0)), ("a", 1L, Some("z"), None),
        ("a", 3L, Some("w"), None), ("b", 3L, None, Some(30.0)))
      q.processAllAvailable()
    } finally q.stop()
    val view = spark.read.parquet(dir + "/view")
      .select("k", "a_val", "b_val").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    val direct = Set((1L, "x", 10.0), (1L, "z", 10.0),
      (2L, "y", 20.0), (3L, "w", 30.0))
    assert(view == direct, s"delta-maintained view must equal the join: $view")
    // replay batch 0 via a fresh checkpoint sharing the stores
    val in2 = MemoryStream[(String, Long, Option[String], Option[Double])]
    val q2 = Streaming.joinMaintSink(
      in2.toDF().toDF("side", "k", "a_val", "b_val"), "side", Seq("k"),
      Seq("a_val"), Seq("b_val"), dir + "/snap", dir + "/view", dir + "/ckpt2")
    try {
      in2.addData(("a", 9L, Some("dup"), None)); q2.processAllAvailable()
    } finally q2.stop()
    val after = spark.read.parquet(dir + "/view")
      .select("k", "a_val", "b_val").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(after == direct, "replayed batch id must be a no-op")
    assert(spark.read.parquet(dir + "/snap")
      .filter(org.apache.spark.sql.functions.col("k") === 9L).count() == 0)
  }

  test("freshnessSink: silent keys grow stale as the clock advances; replay fenced") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-fresh").toString
    def ts(d: String) = java.sql.Timestamp.valueOf(d)
    val in = MemoryStream[(String, java.sql.Timestamp)]
    val q = Streaming.freshnessSink(in.toDF().toDF("k", "ts"), "k", "ts",
      maxLagSeconds = 3600L, dir + "/marks", dir + "/snaps", dir + "/ckpt")
    try {
      in.addData(("a", ts("2024-01-01 10:00:00")), ("b", ts("2024-01-01 10:00:00")))
      q.processAllAvailable()
      // only `a` emits again, two hours later: b must go stale
      in.addData(("a", ts("2024-01-01 12:00:00")))
      q.processAllAvailable()
    } finally q.stop()
    val last = spark.read.parquet(dir + "/snaps")
    val lastBatch = last.agg(max(col("batch_id"))).head.getLong(0)
    val snap = last.filter(col("batch_id") === lastBatch)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("lag_seconds"), r.getAs[Boolean]("is_stale"))).toMap
    assert(snap("a") == ((0L, false)))
    assert(snap("b") == ((7200L, true)), "the silent key must show the lag")
    // replay batch 0 through a fresh checkpoint sharing the stores
    val in2 = MemoryStream[(String, java.sql.Timestamp)]
    val q2 = Streaming.freshnessSink(in2.toDF().toDF("k", "ts"), "k", "ts",
      3600L, dir + "/marks", dir + "/snaps", dir + "/ckpt2")
    try {
      in2.addData(("a", ts("2024-01-01 09:00:00"))); q2.processAllAvailable()
    } finally q2.stop()
    val marks = spark.read.parquet(dir + "/marks")
      .collect().map(r => r.getString(0) -> r.getTimestamp(1).toString).toMap
    assert(marks("a").startsWith("2024-01-01 12:00"),
      "replayed batch id must not regress the watermark")
    assert(spark.read.parquet(dir + "/snaps").count() == 4L) // 2 + 2, no extra
  }

  test("cusumSink: latest alarms ≡ batch operator on the merged series; replay fenced") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-cusum").toString
    def ts(d: String) = java.sql.Timestamp.valueOf(d + " 12:00:00")
    val in = MemoryStream[(String, java.sql.Timestamp)]
    val q = Streaming.cusumSink(in.toDF().toDF("k", "ts"), "k", "ts",
      slackMicro = 0L, hMicro = 1500000L,
      dir + "/counts", dir + "/alarms", dir + "/ckpt")
    val b1 = Seq(("k", ts("2024-01-01")), ("k", ts("2024-01-01")),
      ("k", ts("2024-01-02")))
    // batch 2 adds a surge day AND a late row for day 1 — the merge must
    // fold it into the already-stored day before re-deriving
    val b2 = Seq(("k", ts("2024-01-03")), ("k", ts("2024-01-03")),
      ("k", ts("2024-01-03")), ("k", ts("2024-01-03")),
      ("k", ts("2024-01-03")), ("k", ts("2024-01-01")))
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    val counts = spark.read.parquet(dir + "/counts")
      .select("day", "cnt").collect()
      .map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    assert(counts == Map("2024-01-01" -> 3L, "2024-01-02" -> 1L,
      "2024-01-03" -> 5L))
    // streamed alarms at the LATEST batch equal the batch operator run
    // over everything delivered so far
    val alarms = spark.read.parquet(dir + "/alarms")
    val lastBatch = alarms.agg(max(col("batch_id"))).head.getLong(0)
    val streamed = alarms.filter(col("batch_id") === lastBatch)
      .select("k", "day", "n_events", "s_plus_micro", "s_minus_micro")
      .collect().map(r => (r.getString(0), r.getDate(1).toString,
        r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    val direct = graft.operators.Timeseries.cusum(
      (b1 ++ b2).toDF("k", "ts"), "k", "ts", 0L, 1500000L)
      .filter(col("alarm_up") || col("alarm_down"))
      .select("k", "day", "n_events", "s_plus_micro", "s_minus_micro")
      .collect().map(r => (r.getString(0), r.getDate(1).toString,
        r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(streamed == direct && streamed.nonEmpty)
    // replay batch 0 through a fresh checkpoint sharing the stores
    val in2 = MemoryStream[(String, java.sql.Timestamp)]
    val q2 = Streaming.cusumSink(in2.toDF().toDF("k", "ts"), "k", "ts",
      slackMicro = 0L, hMicro = 1500000L,
      dir + "/counts", dir + "/alarms", dir + "/ckpt2")
    try {
      in2.addData(("k", ts("2024-01-09"))); q2.processAllAvailable()
    } finally q2.stop()
    val counts2 = spark.read.parquet(dir + "/counts")
      .select("day", "cnt").collect()
      .map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    assert(counts2 == counts, "replayed batch id must be fenced")
    assert(spark.read.parquet(dir + "/alarms").count() == alarms.count())
  }

  test("debounceStream ≡ batch burstFirst across batch boundaries") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.Streaming.DebEv
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[DebEv]
    val q = graft.streaming.Streaming.debounceStream(in.toDS(), 10L)
      .writeStream.format("memory").queryName("debounced")
      .outputMode("append").start()
    // burst chains THROUGH suppressed events: a@100 keep, a@103 drop,
    // a@105 drop (gap to 103, not to 100), a@130 keep; batch boundary
    // sits inside the chain
    val b1 = Seq(DebEv("a", 100L, 1L), DebEv("a", 103L, 2L), DebEv("b", 100L, 3L))
    val b2 = Seq(DebEv("a", 105L, 4L), DebEv("a", 130L, 5L), DebEv("b", 150L, 6L))
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("debounced")
      .collect().map(_.getAs[Long]("event_id")).toSet
    val batch = graft.operators.Dedup.burstFirst(
      (b1 ++ b2).map(e => (e.key, e.sec, e.event_id)).toDF("key", "sec", "event_id")
        .withColumn("ts", org.apache.spark.sql.functions.col("sec").cast("timestamp")),
      Seq("key"), "ts", "event_id", 10L)
      .collect().map(_.getAs[Long]("event_id")).toSet
    assert(streamed == batch, s"streamed $streamed vs batch $batch")
    assert(streamed == Set(1L, 3L, 5L, 6L))
  }

  test("a monitor replays the snapshot-committed, swap-lost batch: state " +
    "applies once, the log keeps one row set") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.commons.io.FileUtils
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-crashwin").toString
    val ref = Seq(("id", 4L, 0L), ("tag", 4L, 0L))
      .toDF("column_name", "n_ref", "n_null_ref")
    val b0 = Seq((Some(1L), Some("a")), (Some(2L), Some("b")))
    val b1 = Seq((Some(3L), None), (None, None))
    def run(ckpt: String)(afterBatch0: => Unit): Unit = {
      val in = MemoryStream[(Option[Long], Option[String])]
      val q = Streaming.contractMonitorSink(in.toDF().toDF("id", "tag"),
        Seq("id", "tag"), ref, dir + "/counts", dir + "/snaps", ckpt)
      try {
        in.addData(b0: _*); q.processAllAvailable(); afterBatch0
        in.addData(b1: _*); q.processAllAvailable()
      } finally q.stop()
    }
    val (counts, saved) = (new java.io.File(dir + "/counts"),
      new java.io.File(dir + "/counts-after-0"))
    run(dir + "/ckpt")(FileUtils.copyDirectory(counts, saved))
    def snaps() = spark.read.parquet(dir + "/snaps")
      .select("batch_id", "column_name", "n", "n_null").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(r => (r._1, r._2)).toSeq
    val logged = snaps()
    // the crash: batch 1's snapshot is committed, its state swap is not
    FileUtils.deleteDirectory(counts)
    FileUtils.moveDirectory(saved, counts)
    // drive batch 1 again (a fresh checkpoint restarts ids at 0: batch
    // 0 meets the state fence, batch 1 meets only the log's fence)
    run(dir + "/ckpt2")(())
    val state = spark.read.parquet(dir + "/counts")
      .select("column_name", "n", "n_null", "last_batch_id").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(state == Map("id" -> ((4L, 1L, 1L)), "tag" -> ((4L, 2L, 1L))),
      s"batch 1 must apply to the state exactly once: $state")
    assert(logged.map(_._1) == Seq(0L, 0L, 1L, 1L))
    assert(snaps() == logged, "the log must keep exactly one row set per batch")
  }

  test("delta-directory sinks: two batches plus a replayed batch 0 read " +
    "back the one-shot answers") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.Kmv
    import graft.operators.{AggMerge, Timeseries}
    val dir = Files.createTempDirectory("graft-deltasinks").toString
    def ts(d: Int, h: Int) = java.sql.Timestamp.valueOf(f"2024-03-$d%02d $h%02d:00:00")
    val b0 = Seq(("a", ts(1, 1), 1L, 1.5), ("a", ts(1, 2), 2L, 2.5),
      ("b", ts(2, 3), 40L, 1.5))
    val b1 = Seq(("a", ts(2, 4), 2L, 7.25), ("b", ts(2, 5), 41L, 1.5),
      ("b", ts(3, 6), 99L, 3.0), ("a", ts(3, 7), 70L, 2.5))
    val sinks = Seq[(String, (org.apache.spark.sql.DataFrame, String) =>
      org.apache.spark.sql.streaming.StreamingQuery)](
      "quant" -> ((df, ck) => Streaming.quantileDeltaSink(df, "ts", "v",
        dir + "/quant", ck)),
      "ewma" -> ((df, ck) => Streaming.ewmaDeltaSink(df, "k", "ts",
        dir + "/ewma", ck)),
      "bitmap" -> ((df, ck) => Streaming.bitmapDistinctSink(df, "k", "id",
        dir + "/bitmap", ck)),
      "kmv" -> ((df, ck) => Streaming.kmvSink(df, "k", "id", 8,
        dir + "/kmv", ck)))
    def run(ckpt: String, batches: Seq[Seq[(String, java.sql.Timestamp, Long, Double)]]): Unit =
      sinks.foreach { case (name, start) =>
        val in = MemoryStream[(String, java.sql.Timestamp, Long, Double)]
        val q = start(in.toDF().toDF("k", "ts", "id", "v"), s"$ckpt/$name")
        try batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
        finally q.stop()
      }
    run(dir + "/ckpt", Seq(b0, b1))
    run(dir + "/ckpt2", Seq(b0)) // replay batch 0: overwrites delta-0
    sinks.foreach { case (name, _) =>
      assert(new java.io.File(s"$dir/$name").list().filterNot(_.startsWith("."))
        .sorted.toSeq == Seq("delta-0", "delta-1"), name)
    }
    val all = (b0 ++ b1).toDF("k", "ts", "id", "v")
    def same(got: org.apache.spark.sql.DataFrame,
             want: org.apache.spark.sql.DataFrame, what: String): Unit =
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"$what: ${got.collect().toSeq} vs ${want.collect().toSeq}")
    same(Streaming.readQuantileCounts(spark, dir + "/quant"),
      AggMerge.dailyValuePartial(all, "ts", "v"), "quantile counts")
    same(Streaming.readEwma(spark, dir + "/ewma", 0.5),
      Timeseries.ewma(all.groupBy(col("k").as("key"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("y")), "key", "day", "y", 0.5), "ewma")
    same(Streaming.readBitmapDistinct(spark, dir + "/bitmap"),
      all.groupBy(col("k").as("key"))
        .agg(countDistinct(col("id")).cast("long").as("n_distinct")),
      "bitmap distinct")
    same(Streaming.readKmvEstimate(spark, dir + "/kmv", "k", 8),
      Kmv.estimate(Kmv.sketch(all, Seq("k"), "id", 8), Seq("k"), 8), "kmv")
  }
}
