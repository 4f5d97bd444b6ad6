package graft

/** Whole-suite plan lint (round-12): every `SparkEntry.queries` plan
  * runs through [[graft.operators.PlanAudit.audit]] at sf0.001 — the
  * per-operator scale discipline (no global windows over raw rows, no
  * unbounded cross joins) turned into ONE regression gate over the
  * full query surface. Queries whose construction legitimately trips
  * a rule go in the allowlist WITH A REASON; an empty allowlist is
  * the goal state.
  *
  * The audit inspects `optimizedPlan` only; the findings come from
  * [[QuerySweep]]'s single pass, which also lints and counts each
  * query (a query that raises while building shows up here as
  * `query-raised-during-audit`). */
class PlanAuditSweepSpec extends SparkSpec {

  test("PlanAudit sweep: zero findings across every registered query") {
    val allow: Map[String, String] = Map(
      "q311_bootstrap_ci" -> ("the global rank runs over the 50-replicate " +
        "means frame — replicate-scale by construction, but it sits " +
        "behind a localCheckpoint boundary (LogicalRDD) that hides the " +
        "upstream Aggregate from the audit's metadata-scale exception"),
      "q396_sql_range_frame" -> ("shared-dialect pin: the RANGE-frame " +
        "window over a raw table IS the semantics under test, not a " +
        "production shape"),
      "q418_sql_range_interval" -> ("shared-dialect pin (interval RANGE " +
        "frame) — same class as q396"),
      "q429_sql_ntile" -> ("shared-dialect pin (ntile/nth_value global " +
        "order) — same class as q396"),
      "q436_sql_named_window" -> ("shared-dialect pin (named WINDOW " +
        "global order) — same class as q396"))
    val offenders = QuerySweep.outcomes
      .flatMap(o => o.findings.map(f => (o.name, f)))
      .filterNot { case (n, _) => allow.contains(n) }
    assert(offenders.isEmpty,
      "plan-audit findings (add to the allowlist ONLY with a reason):\n" +
        offenders.map { case (n, f) => s"  $n [${f.kind}] ${f.detail}" }
          .mkString("\n"))
  }
}
