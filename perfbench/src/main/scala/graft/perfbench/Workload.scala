package graft.perfbench

import org.apache.spark.sql.SparkSession

/** What one run of the benchmark is given. `tracer` is disabled unless
  * the run is traced. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Double, cores: Int,
                     work: String, outDir: String, benchDir: String, cacheDir: String,
                     tracer: Tracer, heap: HeapMeter) {
  def traced: Boolean = tracer.enabled

  /** A seed-independent input kept across runs of one build: `build`
    * writes it into the directory it is given, which is published only
    * when `build` returns. The cache is keyed by the build's sources, so
    * a code change rebuilds it. */
  def cached(name: String)(build: String => Unit): String = {
    val dir = s"$cacheDir/$name"
    if (!new java.io.File(dir).isDirectory) {
      val tmp = s"$cacheDir/_tmp_$name"
      Lake.delete(tmp)
      new java.io.File(tmp).mkdirs()
      Phase(s"set-up $name (built once per build)")(build(tmp))
      java.nio.file.Files.move(new java.io.File(tmp).toPath, new java.io.File(dir).toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    dir
  }
}

/** What one run reports.
  *
  * @param opTimes   seconds of each timed op, in order
  * @param opCpuS    process CPU seconds of the timed ops, summed
  * @param problems  why outputs were wrong; any entry makes the run incorrect
  * @param user      end-user metrics that only some workloads have, by name
  *                  with unit (printed, not part of the fixed metric set)
  * @param layers    per-layer metrics of a traced run, by name
  */
final case class Outcome(opTimes: Seq[Double], opCpuS: Double,
                         attempted: Int, failed: Int, problems: Seq[String],
                         user: Seq[(String, Double, String)],
                         layers: Map[String, Double])

object Phase {
  /** Run `body`, logging its wall time to standard error. */
  def apply[T](what: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally System.err.println(f"[perfbench] $what: ${(System.nanoTime() - t0) / 1e9}%.2f s")
  }

  /** Log each op's times to standard error, by op name. */
  def logByName(named: Seq[(String, Double)]): Unit =
    named.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (n, xs) =>
      System.err.println(s"[perfbench] $n: ${xs.map(x => f"${x._2}%.3f").mkString(" ")} s")
    }
}

trait Workload {
  def name: String
  /** Build the seed-independent inputs kept across runs ([[Ctx.cached]]).
    * The launcher runs this in a JVM of its own, so every measured run
    * starts from the same cold JVM whether or not it found them built. */
  def prepare(ctx: Ctx): Unit = ()
  /** Untimed preparation; returns the measuring function. */
  def setup(ctx: Ctx): () => Outcome
}

/** A closed loop with one client: run the next op as soon as the last one
  * returns, in whole rounds of `round` ops, until `seconds` have passed.
  * Whole rounds keep a mixed workload's op mix the same in every run. */
object ClosedLoop {
  /** `cpuS`: process CPU seconds each op used (all threads: the driver,
    * Spark's task threads, JIT and GC). */
  final case class Result(times: Seq[Double], cpuS: Seq[Double], errors: Seq[Throwable])

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def run(seconds: Double, heap: HeapMeter, round: Int = 1)(op: Int => Unit): Result = {
    val times = Seq.newBuilder[Double]
    val cpu = Seq.newBuilder[Double]
    val errors = Seq.newBuilder[Throwable]
    val start = System.nanoTime()
    var i = 0
    while (i % round != 0 || (System.nanoTime() - start) / 1e9 < seconds) {
      val c0 = os.getProcessCpuTime
      val t0 = System.nanoTime()
      try op(i)
      catch { case scala.util.control.NonFatal(e) => errors += e }
      times += (System.nanoTime() - t0) / 1e9
      cpu += (os.getProcessCpuTime - c0) / 1e9
      i += 1
    }
    heap.measure()
    Result(times.result(), cpu.result(), errors.result())
  }
}
