package graft.perfbench

import java.util.SplittableRandom

import scala.collection.mutable

/** One class of op in the serving mix: named ops, each run untraced (to
  * its result's fingerprint) or traced (to its root span), with per-layer
  * metrics over the traced ones. */
trait OpSet {
  def names: IndexedSeq[String]
  /** The fingerprint op `i`'s result must have. */
  def expected(i: Int): String
  def run(i: Int): String
  def runTraced(i: Int): Span
  def layers(view: TraceView, jobs: Seq[JobRun], traced: Seq[Span]): Map[String, Double]
}

/** The read side: dbt-user SQL statements over a lake the pipeline built
  * ([[MartOps]]) and `llmdata` near-dup queries over a document corpus
  * ([[NearDupOps]]) in one closed loop. Each round runs every statement
  * [[StatementPasses]] times, then every near-dup query once, each group
  * in a fresh seeded order, so every run sees the same mix; the passes
  * make statements, the interactive part, the bulk of the ops and steady
  * their median. Statements go first because a near-dup query's first
  * run in a fresh JVM keeps the JIT compiling for seconds after it
  * returns, which statements timed then would absorb.
  *
  * No pass is untimed warm-up. Half the statements read silver and take
  * a few times longer than the gold lookups; with each statement's first,
  * cold run and the near-dup queries timed too, the median op falls in
  * the middle of the warm silver statements' times, not in the gap below
  * them, where it would jump between the two groups from run to run. */
object Serving extends Workload {
  val name = "serving"
  val StatementPasses = 4

  override def prepare(ctx: Ctx): Unit = {
    MartOps.prepare(ctx)
    NearDupOps.prepare(ctx)
  }

  def permutation(r: SplittableRandom, n: Int): Seq[Int] = {
    val a = Array.tabulate(n)(identity)
    for (i <- n - 1 to 1 by -1) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
    a.toSeq
  }

  def setup(ctx: Ctx): () => Outcome = {
    import ctx._
    val rng = new SplittableRandom(seed)
    val mart = new MartOps(ctx)
    val neardup = new NearDupOps(ctx)
    val sets: Seq[OpSet] = Seq(mart, neardup)
    val ops: IndexedSeq[(OpSet, Int)] =
      (Seq.fill(StatementPasses)(mart.names.indices.map(i => (mart: OpSet, i))).flatten ++
        neardup.names.indices.map(i => (neardup: OpSet, i))).toIndexedSeq
    def opName(k: Int): String = ops(k)._1.names(ops(k)._2)

    () => {
      val order = mutable.ArrayBuffer[Int]()
      val got = mutable.ArrayBuffer[String]()
      val untracedS = mutable.ArrayBuffer[Double]()
      val traced = mutable.Map[OpSet, mutable.ArrayBuffer[Span]]()
      val r = ClosedLoop.run(seconds, heap, round = ops.size) { i =>
        if (i % ops.size == 0) {
          val statements = StatementPasses * mart.names.size
          order ++= permutation(rng, statements) ++
            permutation(rng, ops.size - statements).map(_ + statements)
        }
        val (set, k) = ops(order(i))
        // a traced run also runs each op traced, first on every other op,
        // so warmth from the first execution favours neither side
        def tracedOp(): Unit = traced.getOrElseUpdate(set, mutable.ArrayBuffer()) += set.runTraced(k)
        if (ctx.traced && i % 2 == 1) tracedOp()
        val t0 = System.nanoTime()
        got += set.run(k)
        untracedS += (System.nanoTime() - t0) / 1e9
        if (ctx.traced && i % 2 == 0) tracedOp()
      }
      r.errors.foreach(e => System.err.println(s"[perfbench] op failed: $e"))
      Phase.logByName(order.take(untracedS.size).map(opName).zip(untracedS).toSeq)
      val wrong = got.indices.filter { i => val (s, k) = ops(order(i)); got(i) != s.expected(k) }
      val problems = wrong.take(5).map { i =>
        val (s, k) = ops(order(i))
        s"${opName(order(i))}: got ${got(i)}, expected ${s.expected(k)}"
      }
      val attempted = r.times.size
      val failed = r.errors.size + wrong.size
      val layers =
        if (!ctx.traced) Map.empty[String, Double]
        else {
          tracer.drain()
          val c = tracer.collector.get
          val spans = tracer.spans
          val view = new TraceView(spans, c.jobs, c.workOf)
          val all = traced.values.flatten.toSeq
          val n = math.max(1, all.size).toDouble
          sets.flatMap(s => s.layers(view, c.jobs, traced.getOrElse(s, Nil).toSeq)).toMap ++
            LayerUnits.spark(view, all) ++
            Map("trace.overhead_frac" ->
                (if (untracedS.sum == 0) 0.0 else all.map(_.durNs).sum / 1e9 / untracedS.sum - 1),
              "trace.spans_per_op" -> spans.size / n)
        }
      Outcome(if (ctx.traced) untracedS.toSeq else r.times, r.cpuS.sum, attempted, failed,
        problems.toSeq, Nil, layers ++ Map("run.failed_frac" -> failed.toDouble / math.max(1, attempted)))
    }
  }
}
