package graft.checks

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distribution-drift detection between a reference slice and a current
  * slice of the same table — the data-quality gate the reference's
  * expectation suites (great_expectations checkpoints over the taxi
  * tables, reference: gx/expectations JSON suites) cannot express: those
  * validate one batch against STATIC bounds; these compare two batches
  * against each other, which is how production pipelines catch upstream
  * schema-preserving content regressions (a vendor silently changing an
  * enum mix, a feed dropping a value range).
  *
  * Scale design (100 TB): both inputs reduce to per-category count
  * tables in ONE hash aggregate each (map-side partial combine), then
  * everything downstream — the full-outer category align, the share and
  * chi-squared arithmetic — runs on category-cardinality frames
  * (thousands of rows, not billions). The grand totals ride a broadcast
  * one-row cross join, the repo's standard metadata-scale pattern.
  *
  * Cross-engine determinism (the oracle gate hashes values): shares and
  * chi-squared contributions are SHORT single-operation IEEE chains over
  * exact integers — `cnt/total`, `(o-e)^2/e` with `e = cast(ref AS
  * double)*curTotal/refTotal` — each add/sub/mul/div is exact-rounded,
  * so Spark and DuckDB produce bit-identical doubles as long as both
  * evaluate the same expression tree (they do; the oracle SQL mirrors
  * the tree verbatim). SUMS of doubles are order-dependent, so the
  * scalar drift statistic ([[totalVariation]]) aggregates an exact
  * BIGINT numerator (`|cur*refTotal - ref*curTotal|`) and divides ONCE
  * at the end. PSI needs `ln` (libm, last-ulp divergent across engines)
  * → [[psiReport]] exists for users but is spec-verified with a
  * tolerance, never oracle-hashed.
  */
object Drift {

  /** Per-category count table: ONE hash aggregate, the only pass over
    * the (possibly huge) input. */
  private def counts(df: DataFrame, cat: Column): DataFrame =
    df.groupBy(cat.as("category")).agg(count(lit(1)).as("cnt"))

  /** Aligned (category, ref_cnt, cur_cnt, ref_total, cur_total) frame —
    * full outer so categories NEW in current (ref_cnt=0) and VANISHED
    * from current (cur_cnt=0) both surface. Category-cardinality sized.
    */
  private def aligned(ref: DataFrame, cur: DataFrame, cat: Column): DataFrame = {
    val r = counts(ref, cat).withColumnRenamed("cnt", "ref_cnt")
    val c = counts(cur, cat).withColumnRenamed("cnt", "cur_cnt")
    val joined = r.join(c, Seq("category"), "full_outer")
      .select(col("category"),
        coalesce(col("ref_cnt"), lit(0L)).as("ref_cnt"),
        coalesce(col("cur_cnt"), lit(0L)).as("cur_cnt"))
    val totals = joined.agg(
      sum(col("ref_cnt")).as("ref_total"),
      sum(col("cur_cnt")).as("cur_total"))
    joined.crossJoin(broadcast(totals))
  }

  /** Per-category drift report: counts, shares, share delta, and the
    * chi-squared contribution `(observed-expected)^2/expected` of each
    * category under the reference distribution. The chi-squared column
    * is NULL for categories absent from the reference (expected=0 —
    * those are "new category" findings, visible via ref_cnt=0, not a
    * divisible statistic). A gate thresholds `chi2_contribution` or
    * `share_delta` per category; for one scalar use [[totalVariation]].
    */
  def categoricalDrift(ref: DataFrame, cur: DataFrame, cat: Column): DataFrame = {
    val refShare = col("ref_cnt").cast("double") / col("ref_total").cast("double")
    val curShare = col("cur_cnt").cast("double") / col("cur_total").cast("double")
    // expected current count under the ref distribution; double mul
    // before div so the tree never overflows at any input scale
    val expected = col("ref_cnt").cast("double") * col("cur_total").cast("double") /
      col("ref_total").cast("double")
    aligned(ref, cur, cat)
      .withColumn("ref_share", refShare)
      .withColumn("cur_share", curShare)
      .withColumn("share_delta", curShare - refShare)
      .withColumn("chi2_contribution",
        when(col("ref_cnt") > 0 && col("ref_total") > 0 && col("cur_total") > 0,
          (col("cur_cnt").cast("double") - expected) *
            (col("cur_cnt").cast("double") - expected) / expected))
      .select("category", "ref_cnt", "cur_cnt", "ref_share", "cur_share",
        "share_delta", "chi2_contribution")
  }

  /** Scalar total-variation distance `0.5 * sum |p_cur - p_ref|` as a
    * one-row gate value. The sum runs over EXACT integers — per-category
    * numerator `|cur_cnt*ref_total - ref_cnt*cur_total|` summed in
    * decimal(38,0) internally, emitted as BIGINT — and the single final
    * division to double is
    * exact-rounded, so the statistic is bit-identical at any parallelism
    * and in any engine. TV is bounded [0,1]: 0 = identical mixes,
    * 1 = disjoint supports. */
  def totalVariation(ref: DataFrame, cur: DataFrame, cat: Column): DataFrame =
    totalVariationFromCounts(counts(ref, cat), counts(cur, cat))

  /** [[totalVariation]] over PRE-AGGREGATED (category, cnt) count
    * tables — the form incremental/streaming monitors use (the counts
    * are the mergeable partial; recounting the raw slices per
    * evaluation would rescan history). */
  def totalVariationFromCounts(refCounts: DataFrame,
                               curCounts: DataFrame): DataFrame = {
    val r = refCounts.withColumnRenamed("cnt", "ref_cnt")
    val c = curCounts.withColumnRenamed("cnt", "cur_cnt")
    val joined = r.join(c, Seq("category"), "full_outer")
      .select(col("category"),
        coalesce(col("ref_cnt"), lit(0L)).as("ref_cnt"),
        coalesce(col("cur_cnt"), lit(0L)).as("cur_cnt"))
    val totals = joined.agg(
      sum(col("ref_cnt")).as("ref_total"),
      sum(col("cur_cnt")).as("cur_total"))
    joined.crossJoin(broadcast(totals))
      // cast BEFORE the multiply so the cross product rides decimal
      // (a cnt×total product overflows BIGINT near 3e9 rows per side)
      .withColumn("num",
        abs(col("cur_cnt").cast("decimal(38,0)") * col("ref_total")
          - col("ref_cnt").cast("decimal(38,0)") * col("cur_total"))
          .cast("decimal(38,0)"))
      .agg(count(lit(1)).as("n_categories"),
        // decimal internally, BIGINT out: no DecimalType column may
        // reach oracle-compared output (NOTES.md determinism rule); the
        // numerator is ≤ ref_total·cur_total, within BIGINT while the
        // two side totals stay under ~3e9 rows each (documented bound —
        // beyond it the cast NULLs loudly rather than wrapping)
        sum(col("num")).cast("decimal(38,0)").cast("long").as("tv_numerator"),
        max(col("ref_total")).as("ref_total"),
        max(col("cur_total")).as("cur_total"))
      // advisory convenience scalar: the decimal->double cast below is
      // NOT cross-engine stable (demonstrated divergent across DuckDB
      // builds in r6 even when locally bit-equal) — gate on the exact
      // integer columns above, treat tv_distance as display-only.
      .withColumn("tv_distance",
        col("tv_numerator").cast("double") /
          (lit(2.0) * col("ref_total").cast("double") * col("cur_total").cast("double")))
  }

  /** Numeric drift via fixed-width binning: `bin = floor((x-lo)/width)`
    * clamped to [-1, nBins] (−1 = below lo, nBins = at/above hi, NULL
    * values get bin NULL — all three surface as their own categories).
    * The binning chain is one double sub + one div + floor — exact-
    * rounded at every step, so bin assignment is engine-identical.
    * Downstream is [[categoricalDrift]] on the bin id. */
  def numericDrift(ref: DataFrame, cur: DataFrame, value: Column,
      lo: Double, width: Double, nBins: Int): DataFrame = {
    def bin(c: Column): Column = {
      val raw = floor((c.cast("double") - lit(lo)) / lit(width))
      when(c.isNull, lit(null).cast("long"))
        .when(raw < 0, lit(-1L))
        .when(raw >= nBins, lit(nBins.toLong))
        .otherwise(raw.cast("long"))
    }
    categoricalDrift(ref.select(bin(value).as("bin")),
      cur.select(bin(value).as("bin")), col("bin"))
      .withColumnRenamed("category", "bin")
  }

  /** First-significant-digit (Benford) profile: the digit-frequency
    * fraud/synthetic-data check — naturally occurring multi-scale
    * positive quantities (amounts, populations, trade volumes) follow
    * `P(d) = log10(1 + 1/d)`; fabricated or truncated data usually does
    * not. One map projection + one 9-row aggregate.
    *
    * Determinism: the digit comes from a FIXED-FORMAT rendering
    * (`format_string("%.6f")` ≡ DuckDB `printf('%.6f')` — the repo's
    * established cross-engine float bridge), first `[1-9]` char; the
    * Benford expectations are 6-decimal LITERAL doubles (log10 is libm,
    * so it must not be evaluated in-engine); shares and the chi-squared
    * contribution are the usual short exact-IEEE chains. Values ≤ 0 or
    * NULL are excluded (Benford is defined on positive magnitudes). */
  def benfordProfile(df: DataFrame, value: Column): DataFrame = {
    val expected = Seq(0.301030, 0.176091, 0.124939, 0.096910, 0.079181,
      0.066947, 0.057992, 0.051153, 0.045757)
    val digit = substring(
      regexp_replace(format_string("%.6f", abs(value.cast("double"))),
        "[^1-9]", ""), 1, 1)
    val counts = df.filter(value.isNotNull && value > 0)
      .select(digit.as("digit"))
      .filter(length(col("digit")) > 0)
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val expectedDf = df.sparkSession.createDataFrame(
        expected.zipWithIndex.map { case (p, i) => ((i + 1).toString, p) })
      .toDF("digit", "expected_share")
    val totals = counts.agg(sum(col("n")).as("total"))
    // full outer vs the 9-digit table so an absent digit surfaces as 0
    expectedDf.join(counts, Seq("digit"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
      .crossJoin(broadcast(totals))
      .withColumn("share", col("n").cast("double") / col("total").cast("double"))
      .withColumn("delta", col("share") - col("expected_share"))
      .withColumn("chi2_contribution",
        (col("n").cast("double") - col("expected_share") * col("total").cast("double"))
          * (col("n").cast("double") - col("expected_share") * col("total").cast("double"))
          / (col("expected_share") * col("total").cast("double")))
      .select("digit", "n", "total", "share", "expected_share", "delta",
        "chi2_contribution")
  }

  /** Exact BIGINT emission for a decimal(38,0) product (round-13
    * ADVICE): the non-ANSI `decimal -> long` cast NULLs silently on
    * overflow, and a NULL part propagates through downstream sqrt /
    * ordered-fold chains as a silently-nulled score. Category counts
    * above ~3e9 push the cross products past Long.MaxValue -- raise
    * loudly there instead (the engine convention), values below are
    * emitted unchanged. */
  private[graft] def longExact(c: Column, what: String): Column =
    when(abs(c) > lit(Long.MaxValue).cast("decimal(38,0)"),
      raise_error(lit(s"$what exceeds BIGINT -- category counts past " +
        "the ~3e9 exactness bound; pre-scale or bucket the counts")))
      .otherwise(c.cast("long"))

  /** PSI in PARTS-EMISSION form — the oracle-hashable sibling of
    * [[psiReport]] (whose in-engine `ln` is libm, banned from
    * hash-compared output): every column is an EXACT integer, and the
    * log step is CALLER-SIDE. Per category:
    * `psi_term = delta_num/(ref_total·cur_total) ·
    * ln(log_num/log_den)` where `delta_num = cur_cnt·ref_total −
    * ref_cnt·cur_total` (the share delta cleared of divisions) and
    * `log_num/log_den = (cur_cnt·ref_total)/(ref_cnt·cur_total)` is
    * exactly `p_cur/p_ref`; `PSI = Σ psi_term`. A zero count on
    * either side makes the ratio 0 or ∞ — emitted raw (0 in the
    * integer column); the caller applies its epsilon-floor convention
    * before the log, exactly where [[psiReport]] applies `eps`.
    * Products ride decimal(38,0) internally and emit as BIGINT —
    * exact while each side's total stays under ~3e9 rows (the
    * [[totalVariationFromCounts]] documented bound; beyond it
    * [[longExact]] raises rather than silently NULLing). */
  def psiParts(ref: DataFrame, cur: DataFrame, cat: Column): DataFrame = {
    val d38 = "decimal(38,0)"
    aligned(ref, cur, cat)
      .withColumn("delta_num", longExact(
        (col("cur_cnt").cast(d38) * col("ref_total")
          - col("ref_cnt").cast(d38) * col("cur_total"))
          .cast(d38), "psiParts: delta_num"))
      .withColumn("log_num", longExact(
        (col("cur_cnt").cast(d38) * col("ref_total")).cast(d38),
        "psiParts: log_num"))
      .withColumn("log_den", longExact(
        (col("ref_cnt").cast(d38) * col("cur_total")).cast(d38),
        "psiParts: log_den"))
      .select(col("category"), col("ref_cnt"), col("cur_cnt"),
        col("ref_total").cast("long").as("ref_total"),
        col("cur_total").cast("long").as("cur_total"),
        col("delta_num"), col("log_num"), col("log_den"))
  }

  /** Hellinger distance / Bhattacharyya coefficient between the two
    * categorical distributions — the bounded, symmetric member of the
    * divergence family ([[totalVariation]] is exact-rational,
    * [[psiParts]] log-based; Hellinger is the one with a true metric
    * and a √-only formula, which matters here because `sqrt` is
    * IEEE-CORRECTLY-ROUNDED — engine-portable — while `ln`/`pow` are
    * libm, the [[graft.llmdata.Sampling.temperatureMixWeights]]
    * precedent):
    *
    *   `BC = Σ_c √(p_c·q_c)`, `H = √(1 − BC)`.
    *
    * Per-category parts are exact BIGINTs
    * (`bc_num = ref_cnt·cur_cnt`, `bc_den = ref_total·cur_total`);
    * the coefficient folds over the CATEGORY-SORTED term list
    * (`aggregate(sort_array(...))` — double sums are
    * order-dependent, so the order is pinned and the oracle's
    * ordered `list_reduce` replays the identical IEEE chain). BC ≤ 1
    * by Cauchy–Schwarz; the 1−BC clamp guards the ≤1-ulp float
    * excursion so H never goes NaN. Category-cardinality cost.
    * Output per category: parts + the scalar (bc_coefficient,
    * hellinger) attached broadcast. */
  def hellingerParts(ref: DataFrame, cur: DataFrame, cat: Column): DataFrame = {
    val d38 = "decimal(38,0)"
    val parts = aligned(ref, cur, cat)
      .withColumn("bc_num", longExact(
        (col("ref_cnt").cast(d38) * col("cur_cnt")).cast(d38),
        "hellingerParts: bc_num"))
      .withColumn("bc_den", longExact(
        (col("ref_total").cast(d38) * col("cur_total")).cast(d38),
        "hellingerParts: bc_den"))
      .withColumn("__term",
        sqrt(col("bc_num").cast("double") / col("bc_den").cast("double")))
    val bc = parts.agg(
      aggregate(
        sort_array(collect_list(struct(col("category"), col("__term")))),
        lit(0.0), (acc, x) => acc + x.getField("__term"))
        .as("bc_coefficient"))
      .withColumn("hellinger",
        sqrt(greatest(lit(0.0), lit(1.0) - col("bc_coefficient"))))
    parts.crossJoin(broadcast(bc))
      .select(col("category"), col("ref_cnt"), col("cur_cnt"),
        col("ref_total").cast("long").as("ref_total"),
        col("cur_total").cast("long").as("cur_total"),
        col("bc_num"), col("bc_den"), col("bc_coefficient"),
        col("hellinger"))
  }

  /** Theil's U (uncertainty coefficient) in PARTS-EMISSION form — the
    * categorical-association drift check ("how much does knowing x
    * tell you about y?", asymmetric, 0..1) whose entropies need `ln`
    * (libm, cross-engine-divergent), emitted as the exact integer
    * parts the caller takes logs over:
    *
    *   `U(y|x) = MI(x,y) / H(y)`,
    *   `MI = Σ_cells (n_xy/n) · ln(mi_log_num/mi_log_den)` with
    *   `mi_log_num = n·n_xy`, `mi_log_den = n_x·n_y`,
    *   `H(y) = ln n − (1/n)·Σ_y n_y·ln n_y` (from the `n_y`, `n`
    *   columns of any one x-slice, or the distinct (y, n_y) pairs).
    *
    * One hash aggregate over the input builds the cell table; margins
    * join back broadcast-sized (cell/margin cardinality, not row
    * scale). Products ride decimal(38,0), emit BIGINT — exact to ~3e9
    * rows. Output per observed cell: (x, y, n_xy, n_x, n_y, n,
    * mi_log_num, mi_log_den). Empty cells contribute 0 to MI
    * (lim p·ln p = 0) so observed-cells-only emission is complete —
    * unlike the chi-square family's empty-cell term (NOTES r9). */
  def theilsUParts(df: DataFrame, x: Column, y: Column): DataFrame = {
    val d38 = "decimal(38,0)"
    val base = df.filter(x.isNotNull && y.isNotNull)
      .select(x.as("x"), y.as("y"))
    val cells = base.groupBy(col("x"), col("y"))
      .agg(count(lit(1)).as("n_xy"))
    val mx = cells.groupBy(col("x")).agg(sum(col("n_xy")).cast("long")
      .as("n_x"))
    val my = cells.groupBy(col("y")).agg(sum(col("n_xy")).cast("long")
      .as("n_y"))
    val tot = cells.agg(sum(col("n_xy")).cast("long").as("n"))
    cells.join(broadcast(mx), Seq("x")).join(broadcast(my), Seq("y"))
      .crossJoin(broadcast(tot))
      .withColumn("mi_log_num",
        longExact((col("n").cast(d38) * col("n_xy")).cast(d38),
          "theilsUParts: mi_log_num"))
      .withColumn("mi_log_den",
        longExact((col("n_x").cast(d38) * col("n_y")).cast(d38),
          "theilsUParts: mi_log_den"))
      .select(col("x"), col("y"), col("n_xy"), col("n_x"), col("n_y"),
        col("n"), col("mi_log_num"), col("mi_log_den"))
  }

  /** Population-stability-index report: per-category
    * `(p_cur - p_ref) * ln(p_cur / p_ref)` with epsilon-floored shares
    * (the industry PSI convention; eps keeps new/vanished categories
    * finite). Uses `ln` — libm, last-ulp divergent across engines — so
    * this report is for USERS and tolerance-based specs, never for the
    * oracle hash gate (NOTES.md cheat-sheet: no libm in oracle-compared
    * scores). Rule of thumb: PSI < 0.1 stable, 0.1-0.25 moderate,
    * > 0.25 drifted. */
  def psiReport(ref: DataFrame, cur: DataFrame, cat: Column,
      eps: Double = 1e-6): DataFrame = {
    val refShare = greatest(
      col("ref_cnt").cast("double") / col("ref_total").cast("double"), lit(eps))
    val curShare = greatest(
      col("cur_cnt").cast("double") / col("cur_total").cast("double"), lit(eps))
    aligned(ref, cur, cat)
      .withColumn("ref_share", refShare)
      .withColumn("cur_share", curShare)
      .withColumn("psi_contribution",
        (curShare - refShare) * log(curShare / refShare))
      .select("category", "ref_cnt", "cur_cnt", "ref_share", "cur_share",
        "psi_contribution")
  }
}
