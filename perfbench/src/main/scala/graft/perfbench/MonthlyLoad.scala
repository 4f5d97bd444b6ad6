package graft.perfbench

import java.io.File
import java.time.YearMonth
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}

import graft.pipeline.Pipeline

/** `Pipeline.runOnce` over consecutive months of seeded trips. Set-up
  * copies a lake that already holds the history months (the first is the
  * CTAS path), so every timed month is a steady-state merge into an
  * existing lake. A round is [[TimedMonths]] months: the first pays the
  * fresh JVM's compilation of the merge path, and the median is a warm
  * month. */
object MonthlyLoad extends Workload {
  val name = "monthly_load"
  val TripsPerMonth = 25000
  val HistoryMonths = 1
  val TimedMonths = 3
  /** The history's trips are the same for every run, so its lake is
    * built once per build ([[Ctx.cached]]); the run's seed generates the
    * timed months. */
  val HistorySeed = 0L
  val PipelineName = "yellow_taxi_full_pipeline"
  private val MaxRetries = 2

  /** Tables the monthly load partitions by month, with their partition column. */
  private val partitioned = Seq("staging" -> "pickup_month", "bronze" -> "pickup_month",
    "silver" -> "pickup_month", "gold_daily" -> "trip_month",
    "gold_monthly" -> "rev_month", "gold_zone" -> "rev_month")

  private def source(ctx: Ctx, rowsOf: YearMonth => IndexedSeq[Row], calls: AtomicInteger)
                    (m: String): DataFrame = {
    calls.incrementAndGet()
    ctx.spark.createDataFrame(
      ctx.spark.sparkContext.parallelize(rowsOf(YearMonth.parse(m)), ctx.cores), TripGen.schema)
  }

  override def prepare(ctx: Ctx): Unit = historyLake(ctx)

  private def historyLake(ctx: Ctx): String = ctx.cached("monthly_history") { dir =>
    val gen = TripGen(HistorySeed, TripsPerMonth)
    val pipeline = new Pipeline(ctx.spark, dir, source(ctx, gen.month, new AtomicInteger))
    (0 until HistoryMonths).foreach { i =>
      val m = pipeline.runOnce(PipelineName, maxRetries = MaxRetries, retryDelayMs = 0L)
      require(m == TripGen.monthAt(i).toString, s"history loaded $m as month $i")
    }
  }

  def setup(ctx: Ctx): () => Outcome = {
    import ctx._
    val history = (0 until HistoryMonths).map(TripGen.monthAt)
    val historyGen = TripGen(HistorySeed, TripsPerMonth)
    val gen = TripGen(seed, TripsPerMonth)
    val rows = mutable.Map[YearMonth, IndexedSeq[Row]]()
    def rowsOf(ym: YearMonth): IndexedSeq[Row] = rows.synchronized(rows.getOrElseUpdate(ym,
      (if (history.contains(ym)) historyGen else gen).month(ym)))
    Phase("set-up trips")((0 until HistoryMonths + TimedMonths).foreach(i => rowsOf(TripGen.monthAt(i))))
    val lake = s"$work/lake"
    Phase("set-up history lake")(Lake.copy(historyLake(ctx), lake))
    val callsA = new AtomicInteger
    val pipeline = new Pipeline(spark, lake, source(ctx, rowsOf, callsA))
    def runOnce(): String = pipeline.runOnce(PipelineName, maxRetries = MaxRetries, retryDelayMs = 0L)
    val traceLake = s"$work/lake_traced"
    if (traced) Lake.copy(lake, traceLake)

    () => {
      val loaded = mutable.ArrayBuffer[YearMonth]()
      val wallA = mutable.ArrayBuffer[Double]()
      val wallB = mutable.ArrayBuffer[Double]()
      val callsB = new AtomicInteger
      val callsAtStart = callsA.get
      var attemptsA = 0
      // A traced run loads each month through runOnce and through the
      // replay. The first pair warms both paths and is left out of the
      // drift guard; the other two alternate which runs first, so neither
      // side gains from following the other.
      val r = ClosedLoop.run(seconds, heap, round = TimedMonths) { i =>
        def replay(): String = {
          val t1 = System.nanoTime()
          val mB = Replay.month(tracer, spark, traceLake, source(ctx, rowsOf, callsB), PipelineName)
          wallB += (System.nanoTime() - t1) / 1e9
          mB
        }
        val mB = if (traced && i % 2 == 1) replay() else ""
        val t0 = System.nanoTime()
        attemptsA += 1
        val m = runOnce()
        wallA += (System.nanoTime() - t0) / 1e9
        loaded += YearMonth.parse(m)
        System.err.println(f"[perfbench] month $m: ${wallA.last}%.2f s")
        if (traced) {
          val b = if (i % 2 == 1) mB else replay()
          require(b == m, s"replay loaded $b where runOnce loaded $m")
        }
      }
      r.errors.foreach(e => System.err.println(s"[perfbench] monthly run failed: $e"))
      val expected = (history ++ loaded).map(ym => ym -> Expected.month(spark, rowsOf(ym), ym)).toMap
      val problems = mutable.ArrayBuffer[String]() ++ Expected.check(spark, lake, expected)
      val badMonths = loaded.count(ym => problems.exists(_.contains(ym.toString)))
      val timedTrips = loaded.map(ym => rowsOf(ym).size.toLong).sum
      val allTrips = (history ++ loaded).map(ym => rowsOf(ym).size.toLong).sum
      val user = Seq(
        ("trips_per_s", timedTrips / math.max(1e-9, wallA.sum), "1/s"),
        ("lake_bytes_per_trip", Lake.bytes(lake).toDouble / allTrips, "B"))
      val retries = (callsA.get - callsAtStart - attemptsA).toDouble / math.max(1, attemptsA)
      val layers =
        if (!traced) Map.empty[String, Double]
        else {
          problems ++= sameLake(ctx, lake, traceLake)
          traceLayers(ctx, traceLake, loaded.toSeq, expected, wallA.toSeq, wallB.toSeq,
            problems) ++
            Map("pipeline.retries" -> retries) ++
            user.map { case (k, v, _) => s"run.$k" -> v }
        }
      val attempted = r.times.size
      val failed = r.errors.size + badMonths
      Outcome(if (traced) wallA.toSeq else r.times, r.cpuS.sum, attempted, failed, problems.toSeq, user,
        layers ++ Map("run.failed_frac" -> failed.toDouble / math.max(1, attempted)))
    }
  }

  /** The traced replay must leave the same lake as `runOnce`. */
  private def sameLake(ctx: Ctx, a: String, b: String): Seq[String] =
    Lake.tables.flatMap { case (t, volatile) =>
      val fa = Lake.fingerprint(ctx.spark, s"$a/$t", volatile)
      val fb = Lake.fingerprint(ctx.spark, s"$b/$t", volatile)
      if (fa == fb) Nil else Seq(s"replayed lake differs in $t: runOnce $fa, replay $fb")
    }

  private def traceLayers(ctx: Ctx, lake: String, loaded: Seq[YearMonth],
                          expected: Map[YearMonth, Expected.MonthTotals],
                          wallA: Seq[Double], wallB: Seq[Double],
                          problems: mutable.Buffer[String]): Map[String, Double] = {
    import ctx._
    tracer.drain()
    val c = tracer.collector.get
    val spans = tracer.spans
    val jobs = c.jobs
    val view = new TraceView(spans, jobs, c.workOf)
    val runs = spans.filter(_.name == "pipeline.run").sortBy(_.startNs)
    val n = math.max(1, runs.size)
    // drift guard: the replay's task spans must account for the wall time
    // runOnce took for the same months (past the warm-up pair)
    val taskS = runs.drop(1).map(r =>
      Intervals.covered(view.childrenOf(r.id).map(x => (x.startNs, x.endNs)))).sum / 1e9
    val onceS = wallA.drop(1).sum
    if (math.abs(taskS - onceS) > 0.10 * onceS)
      problems += f"replay task spans sum to $taskS%.2f s, runOnce took $onceS%.2f s (>10%% apart)"
    val work = runs.map(view.workUnder)
    def runWork(f: SparkWork => Double): Double = work.map(f).sum / n
    val busy = runs.zip(work).map { case (r, w) => w.runMs / 1e3 / (r.durNs / 1e9 * cores) }
    val files = runs.map { r =>
      SqlMetrics.values(spark, SqlMetrics.jobsUnder(view, jobs, r), _.contains("Command"),
        "number of written files").sum
    }
    val partFiles = partitioned.flatMap { case (t, _) =>
      Option(new File(s"$lake/$t").listFiles()).toSeq.flatten.filter(_.isDirectory)
        .filterNot(_.getName.startsWith("_"))
        .map(d => Lake.dataFiles(d.getPath).size.toDouble)
    }
    // the month's raw trips as first written (staging), the load's input
    val stagedBytes = spans.filter(_.name == "incremental.stage_write")
      .map(s => c.workOf(s.id).bytesWritten).sum
    val gates = spans.filter(s => s.name.startsWith("checks.") && s.name.endsWith("_gate"))
    val gateRows = gates.map(g => view.workUnder(g).recordsRead).sum.toDouble
    val rowsLoaded = loaded.map(ym => expected(ym).trips).sum.toDouble
    val incremental = Seq("stage_write", "bronze_write", "silver_merge", "gold_daily",
      "gold_monthly", "gold_zone", "gold_vendor", "gold_payment", "compact", "watermark", "ledger")
      .map(t => s"incremental.${t}_s" -> LayerUnits.selfS(view, spans, s"incremental.$t", n))
    val checks = Seq("bronze_gate", "silver_gate", "gold_gate", "record")
      .map(t => s"checks.${t}_s" -> LayerUnits.selfS(view, spans, s"checks.$t", n))
    Map(
      "pipeline.jobs_per_run" -> runWork(_.jobs.toDouble),
      "pipeline.driver_only_s" -> runs.map(view.driverOnlyNs).sum / 1e9 / n,
      "pipeline.core_busy_frac" -> (if (busy.isEmpty) 0.0 else busy.sum / busy.size),
      "incremental.files_written" -> files.sum.toDouble / n,
      "incremental.files_per_partition" ->
        (if (partFiles.isEmpty) 0.0 else partFiles.sum / partFiles.size),
      "incremental.bytes_written_per_input_byte" ->
        (if (stagedBytes == 0) 0.0 else work.map(_.bytesWritten).sum.toDouble / stagedBytes),
      "checks.rows_scanned_per_row_loaded" -> (if (rowsLoaded == 0) 0.0 else gateRows / rowsLoaded),
      "operators.plan_s" -> LayerUnits.selfS(view, spans, "operators.plan", n),
      "sources.read_s" -> LayerUnits.selfS(view, spans, "sources.read", n),
      "trace.overhead_frac" -> (if (onceS == 0) 0.0 else wallB.drop(1).sum / onceS - 1),
      "trace.spans_per_op" -> spans.size.toDouble / n) ++
      incremental ++ checks ++ LayerUnits.spark(view, runs)
  }
}
