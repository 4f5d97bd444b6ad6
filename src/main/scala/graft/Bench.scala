package graft
import org.apache.spark.sql.SparkSession

/** Headline benchmark: every SparkEntry query timed on SPARK_GRAFT_SF_DIR,
  * one JSON line on stdout.
  *
  * Design goals, in priority order (each a lesson from a lost or lying
  * artifact — r4: SIGKILL mid-suite recorded NO bench; r6/r8/r9:
  * single-sample and two-sample medians recorded host-interference
  * noise as fact; r14: 212 n=1 medians and a 132 s record for a 2.5 s
  * query):
  *
  *  1. COVERAGE FIRST. Pass 1 runs every query exactly once
  *     (alphabetical), so even a budget-exhausted run has a sample for
  *     every query.
  *  2. PRIORS CATCH LIES. Last round's committed medians
  *     (`BENCH_PRIOR.json`, fastest-median-ever — see
  *     [[BenchCore.mergedPrior]]) classify pass-1 samples: anything
  *     over 2.5× its prior is SUSPECT and re-voted FIRST, to n=3,
  *     before any other rep spends budget ([[BenchCore]] scaladoc).
  *  3. ZERO n=1 MEDIANS. Every non-erroring query gets a second sample
  *     unconditionally; the mandatory stages ignore the soft budget
  *     and stop only at pass-1-spend + one full budget.
  *  4. ADAPTIVE REPS. Short queries (< SPARK_GRAFT_BENCH_LONGQ, default
  *     5 s) fill to SPARK_GRAFT_BENCH_REPS (default 3) cheapest-first
  *     under 90% of SPARK_GRAFT_BENCH_BUDGET; 2× disagreements and the
  *     >8 s long tail get tie-breaking thirds from the reserve.
  *  5. ERRORS ARE VISIBLE. A throwing query records its exception class
  *     in the `errors` map and its time-to-failure sample.
  *  6. SELF-DESCRIBING NOISE. Pass-1 interference bursts land in
  *     `suspect_windows`; queries still over their prior after 3
  *     samples land in `still_suspect`.
  *
  * Per-query value is the MEDIAN of collected samples (upper-mid for
  * even n — noise only inflates). The total is the sum of medians — an
  * estimate of one quiet sequential pass. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val maxReps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val longQ = sys.env.getOrElse("SPARK_GRAFT_BENCH_LONGQ", "5").toDouble
    require(maxReps >= 1, s"SPARK_GRAFT_BENCH_REPS must be >= 1, got $maxReps")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // JVM/codegen/page-cache warmup outside the timed region
    Seq("lineitem", "orders", "customer", "events", "documents", "embeddings")
      .foreach(tbl =>
        try graft.sources.Tables.read(spark, sfDir, tbl).count()
        catch { case scala.util.control.NonFatal(_) => () })
    // Memoized lake fixtures model PRE-EXISTING layouts — build them
    // untimed so a rep-starved window can't fold a one-time 20-40 s
    // layout build into some query's "median" (LakeFixtures scaladoc;
    // the r12 q413 artifact).
    LakeFixtures.warmAll(spark, sfDir)
    // Identity-verification reference arms (all-pairs DTW, flat IVF,
    // purge forensics) run once per JVM — here, untimed, so bench reps
    // measure the production operators those arms exist to verify
    // (CrossChecks scaladoc; the correctness gate still executes every
    // require).
    CrossChecks.warmAll(spark, sfDir)
    // dev convenience, mirroring Verify's SPARK_GRAFT_ONLY: probe a
    // subset when chasing one query's timing (the driver never sets it)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val byName = queries.toMap
    // Budget scales with suite size (r7 lesson: at 288 queries pass 1
    // ALONE consumed the fixed 360 s). 2.5 s/query, floored at 600 s.
    val budget = sys.env.get("SPARK_GRAFT_BENCH_BUDGET").map(_.toDouble)
      .getOrElse(math.max(600.0, 2.5 * queries.size))
    // The prior: a committed fastest-median-ever file (preferred — a
    // polluted driver window can only raise medians, so the running
    // min is immune to the r14 artifact), falling back to the last
    // committed full map. Missing/garbled priors only disable suspect
    // detection; the n=1 elimination still runs.
    val priorPath = sys.env.get("SPARK_GRAFT_BENCH_PRIOR")
      .orElse(Seq("BENCH_PRIOR.json", "BENCH_LOCAL.json")
        .find(p => java.nio.file.Files.exists(java.nio.file.Paths.get(p))))
    val priors = priorPath.map(p => BenchCore.parsePriors(
        new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(p)),
          java.nio.charset.StandardCharsets.UTF_8)))
      .getOrElse(Map.empty[String, Double])

    def runOnce(name: String): (Double, Option[String]) = {
      val fn = byName(name)
      val t0 = System.nanoTime()
      val err =
        try { fn(spark, sfDir).count(); None }
        catch { case t: Throwable => Some(t.getClass.getSimpleName) }
      val elapsed = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      (elapsed, err)
    }
    // Cold-start sacrifice: run the first query once UNTIMED so pass
    // 1's first sample is warm like the rest (residual JVM/codegen
    // cold cost ~5-7 s, NOTES.md).
    queries.headOption.foreach { case (_, fn) =>
      try { fn(spark, sfDir).count() }
      catch { case scala.util.control.NonFatal(_) => () }
      spark.catalog.clearCache()
    }
    val r = BenchCore.run(queries.map(_._1), runOnce, priors, budget,
      maxReps, longQ)
    val results = queries.map { case (name, _) => name -> r.median(name) }
    // TWO artifacts (round-5 lesson): the FULL per-query map goes to a
    // FILE (SPARK_GRAFT_BENCH_OUT, default BENCH_LOCAL.json — committed
    // per round, the durable regression record); stdout carries ONE
    // COMPACT summary line the driver's bounded tail capture can't
    // truncate into uselessness (value/spent last, so even a cut head
    // keeps the totals).
    def f(v: Double) = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP)
    def jmap(kvs: Seq[(String, String)]): String =
      kvs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    def jarr(xs: Seq[String]): String =
      xs.map(x => "\"" + x + "\"").mkString("[", ",", "]")
    val qs = jmap(results.map { case (k, v) => k -> f(v).toString })
    // per-query sample counts, so rep coverage (and the zero-n=1
    // guarantee) is auditable from the artifact itself
    val reps = jmap(queries.map { case (k, _) =>
      k -> r.samples(k).length.toString })
    val errs = jmap(r.errors.toSeq.map { case (k, v) => k -> ("\"" + v + "\"") })
    val windows = r.suspectWindows
      .map { case (a, b) => jarr(Seq(a, b)) }.mkString("[", ",", "]")
    val still = jarr(r.stillSuspect)
    val total = results.map(_._2).sum
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json")
    val fullLine =
      s"""{"metric":"total","queries":$qs,"n_samples":$reps,"errors":$errs,"suspect_windows":$windows,"still_suspect":$still,"prior_file":${priorPath.map("\"" + _ + "\"").getOrElse("null")},"sf":"$sfDir","reps":$maxReps,"budget_sec":${f(budget)},"spent_sec":${f(r.spent)},"unit":"sec","value":${f(total)}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (fullLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // Roll the prior forward: min(this window's median, old prior) per
    // query — but only from a FULL run (a dev subset must not shrink
    // the prior's coverage).
    if (only.isEmpty) {
      val merged = BenchCore.mergedPrior(priors, results.toMap)
      val priorLine = s"""{"queries":${jmap(results.map { case (k, _) =>
        k -> f(merged(k)).toString })}}"""
      java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_PRIOR.json"),
        (priorLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    // "queries" kept for driver-schema compatibility but capped to the
    // 10 SLOWEST; the full map is in the detail file.
    val top10 = jmap(results.sortBy(-_._2).take(10)
      .map { case (k, v) => k -> f(v).toString })
    println(s"""{"metric":"total","n_queries":${results.size},"queries":$top10,"errors":$errs,"suspect_windows":$windows,"sf":"$sfDir","reps":$maxReps,"budget_sec":${f(budget)},"detail_file":"$outFile","unit":"sec","spent_sec":${f(r.spent)},"value":${f(total)}}""")
    spark.stop()
  }
}
