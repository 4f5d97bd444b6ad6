package graft.perfbench

import org.apache.spark.sql.SparkSession

/** Plan-node SQL metrics recorded by Spark's SQL status store, for the SQL
  * executions that ran a given set of jobs. Checkpointed and written
  * intermediates are executions of their own, so this sees operators the
  * final plan of a result no longer shows. */
object SqlMetrics {
  private def store(spark: SparkSession) =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.statusStore

  def values(spark: SparkSession, jobs: Set[Int], node: String => Boolean,
             metric: String): Seq[Long] = {
    val st = store(spark)
    st.executionsList().filter(_.jobs.keys.exists(jobs.contains)).flatMap { e =>
      val vals = st.executionMetrics(e.executionId)
      st.planGraph(e.executionId).allNodes.filter(n => node(n.name))
        .flatMap(_.metrics.filter(_.name == metric))
        .flatMap(m => vals.get(m.accumulatorId))
        .map(s => s.takeWhile(c => c.isDigit || c == ',').filter(_.isDigit))
        .filter(_.nonEmpty).map(_.toLong)
    }
  }

  /** Job ids tied to `s` or any span under it. */
  def jobsUnder(view: TraceView, jobs: Seq[JobRun], s: Span): Set[Int] = {
    val ids = view.subtree(s).map(_.id).toSet
    jobs.filter(j => ids.contains(j.span)).map(_.jobId).toSet
  }
}
