package graft

import graft.operators.PlanAudit

/** ONE pass over every registered query at sf0.001, shared by the three
  * whole-registry sweeps (EntrySpec's execute and decimal-lint cases,
  * PlanAuditSweepSpec's audit). Per query, in name order: build it once,
  * lint its output schema, audit its optimized plan, count it, then
  * clear the session cache (as Verify does between queries). Each case
  * asserts its own part of the stored outcomes. */
object QuerySweep {
  final case class Outcome(
      name: String,
      lint: Option[String],                  // Verify.lintDecimalOutput
      findings: Seq[PlanAudit.PlanFinding],  // incl. query-raised-during-audit
      failure: Option[String])               // the build or count raised

  lazy val outcomes: Seq[Outcome] = {
    val spark = SparkSpec.session()
    val dir = "/root/testdata/sf0.001"
    def raised(e: Throwable) =
      Option(e.getMessage).getOrElse(e.getClass.getName).take(300)
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val built =
        try Right(fn(spark, dir))
        catch { case e: Throwable => Left(raised(e)) }
      val outcome = built match {
        case Left(msg) =>
          Outcome(name, None,
            Seq(PlanAudit.PlanFinding("query-raised-during-audit", msg)),
            Some(s"build raised: $msg"))
        case Right(df) =>
          val lint = Verify.lintDecimalOutput(name, df.schema)
          val findings =
            try PlanAudit.audit(df)
            catch { case e: Throwable => Seq(PlanAudit.PlanFinding(
              "query-raised-during-audit", raised(e))) }
          val failure =
            try { df.count(); None }
            catch { case e: Throwable => Some(s"count raised: ${raised(e)}") }
          Outcome(name, lint, findings, failure)
      }
      spark.catalog.clearCache()
      outcome
    }
  }
}
