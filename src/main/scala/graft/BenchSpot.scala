package graft

import org.apache.spark.sql.SparkSession

/** One-shot scale spot-check (round-15, VERDICT r14 #7): run a named
  * query subset ONCE against a larger dataset ([[ScaleUp]]'s sf1) and
  * report each query's seconds beside its sf0.1 baseline median and
  * the ratio — the near-linearity gate (≤ ~12× for 10× data) that a
  * plan-shape argument alone can't provide. Not the regression bench
  * ([[Bench]] owns medians/reps); this is a single untimed-gate pass,
  * so one sample per query is the deliberate contract.
  *
  * Env: SPARK_GRAFT_SF_DIR (the scaled dir), SPARK_GRAFT_SPOT_QUERIES
  * (csv of query names; default = 10 slowest in the baseline file),
  * SPARK_GRAFT_SPOT_BASE (baseline medians JSON, default
  * BENCH_LOCAL.json), SPARK_GRAFT_BENCH_OUT (default
  * BENCH_SF1_SPOT.json). */
object BenchSpot {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "target/sf1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val basePath = sys.env.getOrElse("SPARK_GRAFT_SPOT_BASE",
      "BENCH_LOCAL.json")
    val base = BenchCore.parsePriors(
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(basePath)),
        java.nio.charset.StandardCharsets.UTF_8))
    val names = sys.env.get("SPARK_GRAFT_SPOT_QUERIES")
      .map(_.split(",").map(_.trim).toSeq)
      .getOrElse(base.toSeq.sortBy(-_._2).take(10).map(_._1))
      .filter(SparkEntry.queries.contains)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    Seq("lineitem", "orders", "customer", "events", "documents",
      "embeddings").foreach(tbl =>
      try graft.sources.Tables.read(spark, sfDir, tbl).count()
      catch { case scala.util.control.NonFatal(_) => () })
    LakeFixtures.warmAll(spark, sfDir)
    CrossChecks.warmAll(spark, sfDir)
    val rows = names.sorted.map { name =>
      val t0 = System.nanoTime()
      val err =
        try { SparkEntry.queries(name)(spark, sfDir).count(); None }
        catch { case t: Throwable => Some(t.getClass.getSimpleName) }
      val sec = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      println(f"[spot] $name%-40s ${sec}%8.2f s  (sf0.1 ${base.getOrElse(name, Double.NaN)}%6.2f s)"
        + err.map(e => s"  ERROR $e").getOrElse(""))
      (name, sec, err)
    }
    def f(v: Double) = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP)
    def jmap(kvs: Seq[(String, String)]): String =
      kvs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val qs = jmap(rows.map { case (k, v, _) => k -> f(v).toString })
    val bs = jmap(rows.map { case (k, _, _) =>
      k -> base.get(k).map(b => f(b).toString).getOrElse("null") })
    val ratios = jmap(rows.map { case (k, v, _) =>
      k -> base.get(k).filter(_ > 1e-9).map(b => f(v / b).toString)
        .getOrElse("null") })
    val errs = jmap(rows.collect { case (k, _, Some(e)) =>
      k -> ("\"" + e + "\"") })
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "BENCH_SF1_SPOT.json")
    val line =
      s"""{"metric":"sf1_spot","sf_dir":"$sfDir","base_file":"$basePath","queries":$qs,"base_sf01":$bs,"ratio":$ratios,"errors":$errs,"total_sec":${f(rows.map(_._2).sum)}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(line)
    spark.stop()
  }
}
