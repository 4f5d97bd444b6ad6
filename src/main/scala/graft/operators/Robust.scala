package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Robust-statistics cleanup operators: outlier clamping for numeric
  * feature columns (fare amounts, document lengths, embedding norms) —
  * the standard pre-aggregation step that keeps a handful of corrupt
  * rows from dominating sums and means.
  */
object Robust {

  /** Winsorize: clamp `valueCol` to its exact [`loP`, `hiP`] percentile
    * interval (linear-interpolated, the SQL `percentile`/`quantile_cont`
    * definition — exact and engine-portable, proven by the q56 parity
    * family). Adds `<valueCol>_winsorized`; NULLs pass through
    * unclamped (percentile ignores them, and clamping NULL is NULL).
    *
    * Scale note: Spark's exact `percentile` aggregates a value→count
    * map, so memory tracks the DISTINCT value count — fine for
    * prices/counts/scores (bounded grids), the wrong tool for
    * high-cardinality continuous columns at 100 TB, where callers
    * should pass the same frame through `approx_percentile` instead
    * (same clamp shape, sketch-bounded memory, no oracle exactness).
    * The two-row bounds frame rides as a broadcast — no second shuffle
    * of the data. */
  def winsorize(df: DataFrame, valueCol: String,
                loP: Double, hiP: Double): DataFrame = {
    require(loP >= 0 && hiP <= 1 && loP <= hiP, s"bad percentiles [$loP, $hiP]")
    val bounds = df.agg(
      percentile(col(valueCol), lit(loP)).as("__lo"),
      percentile(col(valueCol), lit(hiP)).as("__hi"))
    df.crossJoin(broadcast(bounds))
      .withColumn(s"${valueCol}_winsorized",
        // explicit NULL guard: Spark's least/greatest SKIP nulls (they
        // return the surviving non-null operand), which would silently
        // clamp a NULL measurement to the lower bound — a fabricated
        // value. NULL in, NULL out.
        when(col(valueCol).isNull, lit(null))
          .otherwise(least(greatest(col(valueCol), col("__lo")), col("__hi"))))
      .drop("__lo", "__hi")
  }

  /** Median/MAD robust outlier gate: flag rows where
    * |x − median| > k · MAD (MAD = median absolute deviation) — the
    * distribution-free alternative to mean/stddev z-scores, immune to
    * the outliers it hunts (a handful of corrupt rows shifts a mean
    * arbitrarily but cannot move a median). The standard document-length
    * and feature-sanity gate in curation pipelines.
    *
    * Exactness: both medians are LOWER medians read off exact
    * value→count maps with [[Profile.quantilesFromCounts]]'s integer
    * cross-multiplied threshold, so for integer-valued columns
    * (lengths, counts, micro-units) median, deviation, MAD, and the
    * k·MAD comparison are all integer arithmetic — no float anywhere.
    * Same bounded-value-domain regime as [[Profile.quantilePartial]].
    *
    * Shape at 100 TB: ONE corpus-scale aggregate (the value→count map,
    * map-side combinable). The deviation distribution is derived from
    * that map, not the corpus — |v − med| per DISTINCT value carries its
    * count — so the MAD pass is value-space scale. The two one-row
    * stats frames ride back as broadcasts; the flag is a map-only
    * projection fused with the scan. */
  def madOutliers(df: DataFrame, valueCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val vc = Profile.quantilePartial(df, valueCol)
    val med = Profile.quantilesFromCounts(vc, Seq((1, 2)))
      .select(col("quantile_value").as("__med"))
    val devCounts = vc.crossJoin(broadcast(med))
      .select(abs(col("value") - col("__med")).as("value"), col("cnt"))
      .groupBy(col("value")).agg(sum(col("cnt")).cast("long").as("cnt"))
    val mad = Profile.quantilesFromCounts(devCounts, Seq((1, 2)))
      .select(col("quantile_value").as("__mad"))
    df.crossJoin(broadcast(med)).crossJoin(broadcast(mad))
      .withColumn("median", col("__med"))
      .withColumn("abs_dev", abs(col(valueCol) - col("__med")))
      .withColumn("mad", col("__mad"))
      .withColumn("is_outlier",
        coalesce(abs(col(valueCol) - col("__med")) > lit(k) * col("__mad"),
          lit(false)))
      .drop("__med", "__mad")
  }

  /** Per-group z-score normalization — the standard feature-scaling
    * step before mixing scores across heterogeneous groups (per-source
    * quality scores, per-label distances). Adds `<valueCol>_z` =
    * (x − μ_g)/σ_g with the POPULATION σ.
    *
    * Engine-exactness: the group moments are decimal-exact (count,
    * Σx, Σx² via the one-cast-per-element decimal path), and the
    * z-score is the algebraically equivalent single-division form
    *   z = (x·n − S) / √(n·Sxx − S²)
    * — a FIXED IEEE tree over those exact moments (multiply, subtract,
    * correctly-rounded sqrt, one division), so any engine reproduces it
    * bit-for-bit; no mean/σ intermediate whose rounding could differ.
    * Degenerate groups (constant value, single row — radicand ≤ 0) and
    * NULL inputs normalize to NULL rather than a fabricated 0.
    *
    * Shape at 100 TB: one moments aggregate on the group key (map-side
    * combine), broadcast back onto the stream (`maybeBroadcast` — group
    * cardinality is typically small), map-stage projection. NULLs are
    * excluded from all three moments (SQL COUNT/SUM semantics). */
  def normalizeByGroup(df: DataFrame, groupCols: Seq[String],
                       valueCol: String): DataFrame = {
    require(groupCols.nonEmpty, "normalizeByGroup needs at least one group column")
    val x = col(valueCol).cast("double")
    val moments = df.groupBy(groupCols.map(col): _*)
      .agg(count(col(valueCol)).cast("long").as("__n"),
        graft.functions.ScalarFns.exactSum(x).as("__s"),
        graft.functions.ScalarFns.exactSum(x * x).as("__sxx"))
    val nD = col("__n").cast("double")
    val radicand = nD * col("__sxx") - col("__s") * col("__s")
    df.join(Broadcasts.maybeBroadcast(moments), groupCols)
      .withColumn(s"${valueCol}_z",
        when(col(valueCol).isNotNull && radicand > lit(0.0),
          (x * nD - col("__s")) / sqrt(radicand)))
      .drop("__n", "__s", "__sxx")
  }

  /** Two-variant A/B conversion test as a chi-squared statistic (2x2,
    * one degree of freedom) — the experimentation readout that needs no
    * libm: chi2 = n(ad-bc)^2 / ((a+b)(c+d)(a+c)(b+d)) over the
    * converted/not x variant contingency table. z^2 == chi2 for a 2x2
    * table, so the familiar |z| > 1.96 gate becomes chi2 > 3.8415 —
    * same decision, sqrt-free (the q112 integer-anomaly argument).
    *
    * Counts are exact integers from one hash aggregate; the statistic
    * is a fixed tree of double products cast from those integers (each
    * op exact-rounded, engine-identical — integer BIGINT products would
    * overflow at ~1e9 units, doubles never do). Output is ONE row per
    * variant pair: counts, rates, and chi2; significance thresholds are
    * the caller's policy. Expects unit-grain input (one row per
    * experimental unit, boolean success); variants beyond two -> run
    * pairwise. */
  def abChiSquare(df: DataFrame, variantCol: String,
                  successCol: String): DataFrame = {
    val agg = df.groupBy(col(variantCol).as("variant"))
      .agg(count(lit(1)).as("n"),
        sum(col(successCol).cast("long")).as("conv"))
    val pairs = agg.as("x").join(agg.as("y"),
        col("x.variant") < col("y.variant"))
      .select(col("x.variant").as("variant_a"), col("y.variant").as("variant_b"),
        col("x.n").as("n_a"), col("x.conv").as("conv_a"),
        col("y.n").as("n_b"), col("y.conv").as("conv_b"))
    val a = col("conv_a").cast("double")           // converted, A
    val b = (col("n_a") - col("conv_a")).cast("double")
    val c = col("conv_b").cast("double")
    val d = (col("n_b") - col("conv_b")).cast("double")
    val n = (col("n_a") + col("n_b")).cast("double")
    pairs
      .withColumn("rate_a", col("conv_a").cast("double") / col("n_a").cast("double"))
      .withColumn("rate_b", col("conv_b").cast("double") / col("n_b").cast("double"))
      .withColumn("chi2",
        when(col("conv_a") + col("conv_b") > 0 &&
          (col("n_a") - col("conv_a")) + (col("n_b") - col("conv_b")) > 0,
          n * (a * d - b * c) * (a * d - b * c)
            / ((a + b) * (c + d) * (a + c) * (b + d))))
  }

  /** Difference-in-differences estimator — the quasi-experimental
    * effect readout when a clean A/B split isn't available (a rollout
    * hit one segment at a known time): `DiD = (ȳ_treated,post −
    * ȳ_treated,pre) − (ȳ_control,post − ȳ_control,pre)`, the change in
    * the treated group net of the secular trend the control group
    * measures.
    *
    * One pass, ONE aggregate: the four cells are conditional
    * count/exact-decimal-sum pairs (order-free), each mean one double
    * division, DiD one fixed IEEE tree of the four means. Cells with
    * no rows make their mean — and the estimate — NULL, loudly. */
  def diffInDiff(df: DataFrame, treatedCol: String, postCol: String,
                 valueCol: String): DataFrame = {
    def cell(t: Boolean, p: Boolean, as: String) = {
      val cond = col(treatedCol) === t && col(postCol) === p &&
        col(valueCol).isNotNull
      Seq(sum(when(cond, 1L).otherwise(0L)).as(s"n_$as"),
        sum(when(cond, col(valueCol)).cast("decimal(20,6)"))
          .cast("decimal(38,6)").as(s"__s_$as"))
    }
    def mean(as: String): Column =
      when(col(s"n_$as") > 0,
        col(s"__s_$as").cast("double") / col(s"n_$as").cast("double"))
    val cells = cell(false, false, "c0") ++ cell(false, true, "c1") ++
      cell(true, false, "t0") ++ cell(true, true, "t1")
    df.agg(cells.head, cells.tail: _*)
      .withColumn("mean_c0", mean("c0")).withColumn("mean_c1", mean("c1"))
      .withColumn("mean_t0", mean("t0")).withColumn("mean_t1", mean("t1"))
      .withColumn("did",
        (col("mean_t1") - col("mean_t0")) - (col("mean_c1") - col("mean_c0")))
      .select(col("n_c0"), col("n_c1"), col("n_t0"), col("n_t1"),
        col("mean_c0"), col("mean_c1"), col("mean_t0"), col("mean_t1"),
        col("did"))
  }

  /** Sample-ratio-mismatch screen — the first thing to check when an
    * experiment looks off: do the observed per-variant counts match the
    * DESIGNED split? `expected` carries integer design weights (50/50 →
    * 1:1). Output is PER-VARIANT: observed count, the exact integer
    * chi-square term numerator `(obs·W − total·w)²` (decimal(38,0)
    * internally — cross products overflow BIGINT at ~1e10 rows —
    * emitted as BIGINT, exact while total·ΣW ≤ ~3e9) over denominator
    * `w·W·total`, and the term as one double division. The caller sums
    * the handful of terms for the test statistic — emitting exact
    * per-variant parts keeps the output order-free and
    * engine-portable (a double total would be partition-order-
    * dependent). Variants observed but absent from the design get NULL
    * expectation columns — the loudest possible mismatch. */
  def sampleRatioMismatch(df: DataFrame, variantCol: String,
                          expected: Seq[(String, Long)]): DataFrame = {
    require(expected.nonEmpty && expected.forall(_._2 > 0),
      "expected weights must be positive")
    require(expected.map(_._1).distinct.size == expected.size,
      "duplicate variant in expected")
    val bigW = expected.map(_._2).sum
    val spark = df.sparkSession
    import spark.implicits._
    val design = expected.toDF(variantCol, "weight")
    val obs = df.groupBy(col(variantCol))
      .agg(count(lit(1)).as("n_obs"))
    val total = obs.agg(sum(col("n_obs")).cast("long").as("__total"))
    obs.join(design, Seq(variantCol), "full_outer")
      .withColumn("n_obs", coalesce(col("n_obs"), lit(0L)))
      .crossJoin(broadcast(total))
      .withColumn("__tn",
        (col("n_obs").cast("decimal(38,0)") * bigW
          - col("__total").cast("decimal(38,0)") * col("weight"))
          .cast("decimal(38,0)"))
      .withColumn("__tn", (col("__tn") * col("__tn")).cast("decimal(38,0)"))
      .withColumn("__td",
        (col("weight").cast("decimal(38,0)") * bigW * col("__total"))
          .cast("decimal(38,0)"))
      .withColumn("srm_term",
        when(col("__td") > 0,
          col("__tn").cast("double") / col("__td").cast("double")))
      // decimal internals, BIGINT out (NOTES.md: no DecimalType in
      // compared output). Exact while total·ΣW ≤ ~3e9 (term_num is the
      // SQUARE of a total-scale delta); past that the cast NULLs loudly
      // and callers gate on srm_term, which stays exact in decimal
      // until its one division.
      .select(col(variantCol), col("n_obs"), col("weight"),
        col("__total").as("n_total"), col("__tn").cast("long").as("term_num"),
        col("__td").cast("long").as("term_den"), col("srm_term"))
  }

  /** Odds ratio and risk ratio per key from the 2×2 exposure/outcome
    * table — the effect-SIZE readout next to the chi-square tests
    * (significance without size is how tiny effects ship): exact cell
    * counts `a` (exposed+outcome), `b` (exposed−), `c` (unexposed+),
    * `d` (unexposed−), the exact BIGINT cross products `or_num = a·d`
    * / `or_den = b·c` (decimal internally; ≤ n²/4, safe to n ≈ 6e9),
    * and the two ratios as single divisions — odds ratio `ad/bc`
    * (NULL when bc = 0) and risk ratio `(a/(a+b))/(c/(c+d))` (NULL
    * when either denominator or c is 0). NULL flags drop the row. */
  def oddsRatio(df: DataFrame, keyCol: String, isExposed: Column,
                isOutcome: Column): DataFrame = {
    val d38 = "decimal(38,0)"
    df.filter(isExposed.isNotNull && isOutcome.isNotNull)
      .groupBy(col(keyCol))
      .agg(
        sum(when(isExposed && isOutcome, 1L).otherwise(0L)).as("a"),
        sum(when(isExposed && !isOutcome, 1L).otherwise(0L)).as("b"),
        sum(when(!isExposed && isOutcome, 1L).otherwise(0L)).as("c"),
        sum(when(!isExposed && !isOutcome, 1L).otherwise(0L)).as("d"))
      .withColumn("or_num",
        (col("a").cast(d38) * col("d")).cast(d38).cast("long"))
      .withColumn("or_den",
        (col("b").cast(d38) * col("c")).cast(d38).cast("long"))
      .withColumn("odds_ratio",
        when(col("or_den") > 0,
          col("or_num").cast("double") / col("or_den").cast("double")))
      .withColumn("risk_ratio",
        when(col("a") + col("b") > 0 && col("c") + col("d") > 0
          && col("c") > 0,
          (col("a").cast("double") / (col("a") + col("b")).cast("double")) /
            (col("c").cast("double") / (col("c") + col("d")).cast("double"))))
  }

  /** McNemar's paired-binary test parts — the A/B test for PAIRED
    * designs (same unit measured under both conditions: old vs new
    * model on the same examples, before/after per user) where the
    * independent-sample chi-square is wrong: only the DISCORDANT cells
    * carry evidence. Emits exact integers per key — concordant counts,
    * `n01` (a only) / `n10` (b only), the signed `delta = n01 − n10`,
    * and the continuity-free statistic numerator `delta²` as
    * `(n01−n10)²/(n01+n10) = chi2` in one division (NULL when no
    * discordant pairs — no evidence, not zero). NULL in either flag
    * drops the pair.
    *
    * Output: (key, n_pairs, n_both, n_neither, n01, n10, delta,
    * chi2). delta² stays inside the division (a raw emission would
    * overflow BIGINT at ~3e9 discordant pairs; delta itself is safe). */
  def mcnemar(df: DataFrame, keyCol: String, aCol: Column,
              bCol: Column): DataFrame = {
    val base = df.filter(aCol.isNotNull && bCol.isNotNull)
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(aCol && bCol, 1L).otherwise(0L)).as("n_both"),
        sum(when(!aCol && !bCol, 1L).otherwise(0L)).as("n_neither"),
        sum(when(aCol && !bCol, 1L).otherwise(0L)).as("n01"),
        sum(when(!aCol && bCol, 1L).otherwise(0L)).as("n10"))
    base
      .withColumn("delta", col("n01") - col("n10"))
      .withColumn("chi2",
        when(col("n01") + col("n10") > 0,
          (col("delta").cast("decimal(38,0)") * col("delta"))
            .cast("decimal(38,0)").cast("double")
            / (col("n01") + col("n10")).cast("double")))
  }

  /** Cumulative Poisson(1) probabilities P(K ≤ m) for m = 0..9, as
    * PINNED double literals (the Benford-table discipline: `exp` is
    * libm and must never be evaluated in-engine). Multiplicities are
    * capped at 10 — P(K > 10) ≈ 1e-8, negligible for any CI use. */
  private val poissonCum: Seq[Double] = Seq(
    0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
    0.9810118431238462, 0.9963401531726563, 0.9994058151824183,
    0.9999167588507119, 0.9999897508033253, 0.9999988747974049,
    0.9999998885745216)

  /** Distributed Poisson bootstrap — THE bootstrap that scales (the
    * classic resample-with-replacement needs a global draw per
    * replicate; Poissonization makes each row's multiplicity in each
    * replicate an independent Poisson(1), so the whole thing is one
    * MAP-side pass): row r's multiplicity in replicate b comes from
    * the md5 hash fraction of (id, b, salt) cut against the pinned
    * cumulative-Poisson table — fully deterministic, engine-portable,
    * reproducible by salt. Emits per-replicate EXACT partials (row
    * count with multiplicity, cent-unit sum — 2-dp-grid contract);
    * the replicate mean is one division. Cost: one scan with a
    * `B`-way explode — bound B (100-1000) like any bootstrap.
    *
    * Output: (replicate, n, sum_cents, mean) — feed to
    * [[bootstrapCI]]. */
  def poissonBootstrap(df: DataFrame, idCol: String, valueCol: String,
                       b: Int, salt: String = ""): DataFrame = {
    require(b >= 2, s"need at least 2 replicates, got $b")
    val h = (conv(substring(md5(concat_ws("#", col(idCol).cast("string"),
      col("replicate").cast("string"), lit(salt))), 1, 8), 16, 10)
      .cast("long").cast("double") / 4294967296.0)
    val mult = poissonCum.zipWithIndex.foldRight(lit(10L)) {
      case ((t, m), rest) => when(h < t, m.toLong).otherwise(rest)
    }
    df.filter(col(idCol).isNotNull && col(valueCol).isNotNull)
      .select(col(idCol),
        (col(valueCol).cast("decimal(12,2)") * 100).cast("long").as("__c"))
      // source files often arrive in a handful of partitions; the
      // B-way explode + md5 is the CPU stage, so spread the input
      // across the full shuffle fan-out first (one cheap row-scale
      // shuffle buys b-way-parallel hashing)
      .repartition(col(idCol))
      .withColumn("replicate", explode(array((0 until b).map(i => lit(i)): _*)))
      .withColumn("__m", mult)
      .groupBy(col("replicate"))
      .agg(sum(col("__m")).cast("long").as("n"),
        // cast the per-row product to decimal BEFORE summing: a LongType
        // sum aggregate can itself overflow BIGINT before any final
        // cast, shrinking the "exact partials" range the decimal cast
        // pretends to provide; decimal(38,0) accumulation keeps the
        // full headroom (and ANSI still throws loudly past 38 digits)
        sum((col("__m").cast("decimal(38,0)") * col("__c")))
          .cast("decimal(38,0)").cast("long").as("sum_cents"))
      .withColumn("mean",
        when(col("n") > 0,
          col("sum_cents").cast("double") / (col("n").cast("double") * 100.0)))
  }

  /** Percentile confidence interval over bootstrap replicate means:
    * the (loNum/loDen, hiNum/hiDen) rational-rank order statistics of
    * the B means — `k = ⌈B·p⌉`-th smallest, the exact selection rule
    * (no interpolation, engine-portable; the one window is B-row
    * metadata scale). The mean-of-means is deliberately NOT emitted —
    * a float sum over replicates would be partition-order-dependent;
    * average the exact per-replicate partials yourself if needed.
    * One row: (n_replicates, ci_lo, ci_hi). */
  def bootstrapCI(replicates: DataFrame, loNum: Int, loDen: Int,
                  hiNum: Int, hiDen: Int): DataFrame = {
    require(loDen > 0 && hiDen > 0 && loNum > 0 && hiNum > 0
      && loNum < loDen && hiNum < hiDen, "bounds must be rationals in (0,1)")
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("mean").asc, col("replicate").asc)
    // the replicate frame is consumed twice below (rank + count) — a
    // B-row materialization severs the EXPENSIVE upstream lineage
    // (poissonBootstrap's B-way explode would otherwise replay per
    // consumer: the q127/multi-consumer trap, measured 2x on q311)
    val ranked = replicates.filter(col("mean").isNotNull)
      .localCheckpoint(true)
      .withColumn("__rk", row_number().over(w).cast("long"))
    val withB = ranked.crossJoin(broadcast(
      ranked.agg(count(lit(1)).as("__b"))))
    withB.agg(
      max(col("__b")).cast("long").as("n_replicates"),
      min(when(col("__rk") * loDen >= col("__b") * loNum, col("mean")))
        .as("ci_lo"),
      min(when(col("__rk") * hiDen >= col("__b") * hiNum, col("mean")))
        .as("ci_hi"))
  }

  /** Benjamini–Hochberg FDR control over a PER-TEST p-value table (one
    * row per test — metadata-scale by construction, like a metrics
    * catalog; this is not a row-scale operator): rank tests by
    * (p, tiebreak) ascending, find the largest rank k with
    * `p ≤ k·α/m`, reject ranks 1..k. The multiple-testing gate that
    * turns a wall of per-slice drift/SRM screens into a
    * false-discovery-controlled alert list.
    *
    * Determinism: the rank order is TOTAL (p, then `tieBreakCols` —
    * pass enough to break all ties, enforced loudly via a duplicate
    * check); the threshold compare `p ≤ (k·α)/m` is a fixed
    * double chain (long·double product, one division), identical on
    * every IEEE engine. The one ordered window runs over the tests
    * frame — tests-scale, never rows.
    *
    * Output: tieBreakCols..., p_value, bh_rank, bh_threshold,
    * rejected. */
  def benjaminiHochberg(tests: DataFrame, pCol: String, alpha: Double,
                        tieBreakCols: Seq[String]): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha in (0,1) required, got $alpha")
    val thresh = fdrRanked(tests, pCol, tieBreakCols)
      .withColumn("bh_threshold",
        (col("bh_rank").cast("double") * lit(alpha))
          / col("__m").cast("double"))
      .withColumn("__hit", col("p_value") <= col("bh_threshold"))
    val kStar = thresh.agg(
      coalesce(max(when(col("__hit"), col("bh_rank"))), lit(0L)).as("__k"))
    thresh.crossJoin(broadcast(kStar))
      .withColumn("rejected", col("bh_rank") <= col("__k"))
      .drop("__m", "__hit", "__k")
  }

  /** The (p, tiebreak)-ranked test table both FDR gates share:
    * validated p, total-order enforcement, rank, and the test count
    * as `__m`. */
  private def fdrRanked(tests: DataFrame, pCol: String,
                        tieBreakCols: Seq[String]): DataFrame = {
    require(tieBreakCols.nonEmpty, "tieBreakCols required for a total order")
    import org.apache.spark.sql.expressions.Window
    val base = tests.select(
      (tieBreakCols.map(col) :+
        // a p outside [0,1] is caller corruption, not a test result —
        // raise in-plan (the loud-failure convention) rather than
        // silently ranking garbage
        when(col(pCol) < 0.0 || col(pCol) > 1.0, raise_error(lit(
          s"benjaminiHochberg: $pCol outside [0,1]")))
          .otherwise(col(pCol).cast("double")).as("p_value")): _*)
      .filter(col("p_value").isNotNull)
    val w = Window.orderBy(
      (col("p_value").asc +: tieBreakCols.map(col(_).asc)): _*)
    val ranked = base.withColumn("bh_rank", row_number().over(w).cast("long"))
    // total-order enforcement: a duplicated (p, tiebreak) tuple would
    // make row_number partition-order-dependent — fail loudly in-plan
    val dupW = Window.partitionBy(
      (col("p_value") +: tieBreakCols.map(col)): _*)
    val checked = ranked
      .withColumn("__dup", count(lit(1)).over(dupW))
      .withColumn("bh_rank",
        when(col("__dup") > 1, raise_error(lit(
          "benjaminiHochberg: tieBreakCols do not give a total order " +
            "(duplicate (p, tiebreak) tuple)")))
          .otherwise(col("bh_rank")))
      .drop("__dup")
    val m = checked.agg(count(lit(1)).as("__m"))
    checked.crossJoin(broadcast(m))
  }

  /** Benjamini–Yekutieli FDR — [[benjaminiHochberg]] hardened for
    * ARBITRARY dependence between tests (BH's guarantee needs
    * independence/PRDS; BY pays a `c(m) = Σ_{i≤m} 1/i` factor and
    * holds under any correlation — the gate for overlapping slices
    * that share rows). Same ranked machinery; the harmonic sum is a
    * data-dependent DOUBLE, so it folds in ascending-i order
    * (`aggregate(sequence(1, m))` — deterministic, and mirrored by
    * the oracle's ordered `list_reduce`, which starts at the first
    * element: equal because 0.0 + x is exact). Threshold
    * `(k·α)/(m·c(m))` is one fixed chain.
    *
    * Output: tieBreakCols..., p_value, bh_rank, by_threshold,
    * rejected. */
  def benjaminiYekutieli(tests: DataFrame, pCol: String, alpha: Double,
                         tieBreakCols: Seq[String]): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha in (0,1) required, got $alpha")
    val thresh = fdrRanked(tests, pCol, tieBreakCols)
      .withColumn("__c",
        aggregate(sequence(lit(1L), col("__m")), lit(0.0),
          (acc, i) => acc + lit(1.0) / i.cast("double")))
      .withColumn("by_threshold",
        (col("bh_rank").cast("double") * lit(alpha))
          / (col("__m").cast("double") * col("__c")))
      .withColumn("__hit", col("p_value") <= col("by_threshold"))
    val kStar = thresh.agg(
      coalesce(max(when(col("__hit"), col("bh_rank"))), lit(0L)).as("__k"))
    thresh.crossJoin(broadcast(kStar))
      .withColumn("rejected", col("bh_rank") <= col("__k"))
      .drop("__m", "__c", "__hit", "__k")
  }

  /** Holm step-DOWN FWER gate — the uniformly-more-powerful
    * Bonferroni: walk ranks ascending with thresholds `α/(m−k+1)`;
    * the FIRST failure stops everything after it (family-wise error
    * control under any dependence, no FDR slack). Same
    * [[benjaminiHochberg]] ranked core; k* and thresholds are fixed
    * double chains. Output: tieBreakCols..., p_value, bh_rank,
    * holm_threshold, rejected. */
  def holm(tests: DataFrame, pCol: String, alpha: Double,
           tieBreakCols: Seq[String]): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha in (0,1) required, got $alpha")
    val thresh = fdrRanked(tests, pCol, tieBreakCols)
      .withColumn("holm_threshold",
        lit(alpha) / (col("__m") - col("bh_rank") + 1L).cast("double"))
      .withColumn("__fail", col("p_value") > col("holm_threshold"))
    val kStop = thresh.agg(
      coalesce(min(when(col("__fail"), col("bh_rank"))),
        max(col("bh_rank")) + 1L).as("__k"))
    thresh.crossJoin(broadcast(kStop))
      .withColumn("rejected", col("bh_rank") < col("__k"))
      .drop("__m", "__fail", "__k")
  }

  /** Hochberg step-UP FWER gate — [[holm]]'s sharper sibling (same
    * `α/(m−k+1)` thresholds walked from the LARGEST p down: reject
    * ranks 1..k* where k* is the largest rank passing; valid under
    * independence/PRDS, like BH). Output: tieBreakCols..., p_value,
    * bh_rank, hochberg_threshold, rejected. */
  def hochberg(tests: DataFrame, pCol: String, alpha: Double,
               tieBreakCols: Seq[String]): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha in (0,1) required, got $alpha")
    val thresh = fdrRanked(tests, pCol, tieBreakCols)
      .withColumn("hochberg_threshold",
        lit(alpha) / (col("__m") - col("bh_rank") + 1L).cast("double"))
      .withColumn("__hit", col("p_value") <= col("hochberg_threshold"))
    val kStar = thresh.agg(
      coalesce(max(when(col("__hit"), col("bh_rank"))), lit(0L))
        .as("__k"))
    thresh.crossJoin(broadcast(kStar))
      .withColumn("rejected", col("bh_rank") <= col("__k"))
      .drop("__m", "__hit", "__k")
  }

  /** CUPED variance-reduced treatment-effect readout (the standard
    * pre-experiment-covariate adjustment): one row with
    * `θ = cov(x,y)/var(x)` over ALL units pooled and the adjusted
    * effect `(ȳ_t − ȳ_c) − θ·(x̄_t − x̄_c)` — x the pre-period metric,
    * y the in-experiment metric, one (x, y) pair per UNIT (aggregate
    * upstream; this operator never sees raw events).
    *
    * Exactness (the q264 Spearman template): per-arm counts and x/y
    * sums plus the pooled moments Σxy/Σxx ride decimal(38,0) on the
    * integer grid (cast x/y to whole units or micro-units upstream);
    * compared columns are the BIGINT counts/sums; θ and the two effect
    * scalars are fixed double chains over those exact integers.
    * Degenerate var(x)=0 (or an empty arm) yields NULL scalars. */
  def cuped(df: DataFrame, treatedCol: String, xCol: String,
            yCol: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val base = df.filter(col(xCol).isNotNull && col(yCol).isNotNull
      && col(treatedCol).isNotNull)
      .select(col(treatedCol).as("__tr"),
        col(xCol).cast("long").as("__x"), col(yCol).cast("long").as("__y"))
    val agg = base.agg(
      count(lit(1)).as("n"),
      sum(when(col("__tr"), 1L).otherwise(0L)).as("n_treat"),
      sum(when(!col("__tr"), 1L).otherwise(0L)).as("n_ctrl"),
      sum(when(col("__tr"), col("__x")).otherwise(0L))
        .cast(d38).cast("long").as("sum_x_treat"),
      sum(when(col("__tr"), col("__y")).otherwise(0L))
        .cast(d38).cast("long").as("sum_y_treat"),
      sum(when(!col("__tr"), col("__x")).otherwise(0L))
        .cast(d38).cast("long").as("sum_x_ctrl"),
      sum(when(!col("__tr"), col("__y")).otherwise(0L))
        .cast(d38).cast("long").as("sum_y_ctrl"),
      sum(col("__x").cast(d38) * col("__x")).cast(d38).as("__sxx"),
      sum(col("__x").cast(d38) * col("__y")).cast(d38).as("__sxy"))
    val nD = col("n").cast("double")
    val sxD = (col("sum_x_treat") + col("sum_x_ctrl")).cast("double")
    val syD = (col("sum_y_treat") + col("sum_y_ctrl")).cast("double")
    // parenthesized one-line subtractions (leading-`-` trap, NOTES.md)
    val varN = (nD * col("__sxx").cast("double")) - (sxD * sxD)
    val covN = (nD * col("__sxy").cast("double")) - (sxD * syD)
    val rawEffect =
      (col("sum_y_treat").cast("double") / col("n_treat").cast("double")) -
        (col("sum_y_ctrl").cast("double") / col("n_ctrl").cast("double"))
    val xGap =
      (col("sum_x_treat").cast("double") / col("n_treat").cast("double")) -
        (col("sum_x_ctrl").cast("double") / col("n_ctrl").cast("double"))
    agg
      .withColumn("theta",
        when(varN > 0.0 && col("n_treat") > 0 && col("n_ctrl") > 0,
          covN / varN))
      .withColumn("raw_effect",
        when(col("n_treat") > 0 && col("n_ctrl") > 0, rawEffect))
      .withColumn("adjusted_effect",
        when(col("theta").isNotNull,
          col("raw_effect") - col("theta") * xGap))
      .drop("__sxx", "__sxy")
  }

  /** Chi-square test of independence for two categorical columns,
    * emitted as EXACT PER-CELL PARTS (the [[sampleRatioMismatch]]
    * convention — a float Σ over cells would be partition-order-
    * dependent; cells are labels²-scale, so the caller sums the
    * handful): per observed cell, `term_num = (n·c − r·s)²` and
    * `term_den = n·r·s` over the margins r (row total) and s (column
    * total), with `chi2_term = term_num/term_den` the one division.
    * The SQUARED numerator is deliberately NOT emitted (it overflows
    * BIGINT already near n ≈ 55k at full concentration); instead the
    * SIGNED residual `delta_num = n·c − r·s` is (|delta| ≤ n², BIGINT-
    * safe to n ≈ 3e9) alongside `term_den = n·r·s` (≤ n³ at full
    * concentration — past ~2e6 fully-concentrated rows the ANSI cast
    * fails loudly; realistic margins keep it far smaller). The square
    * happens inside the exact decimal division for chi2_term only.
    * NULL in either column drops the row. */
  def chiSquareIndependence(df: DataFrame, colA: String,
                            colB: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val cells = df.filter(col(colA).isNotNull && col(colB).isNotNull)
      .groupBy(col(colA).cast("string").as("a"),
        col(colB).cast("string").as("b"))
      .agg(count(lit(1)).as("n_cell"))
      .localCheckpoint(true) // consumed 3x (margins + cells)
    val rm = cells.groupBy(col("a")).agg(sum(col("n_cell")).as("row_total"))
    val cm = cells.groupBy(col("b")).agg(sum(col("n_cell")).as("col_total"))
    val tot = cells.agg(sum(col("n_cell")).cast("long").as("n"))
    cells
      .join(Broadcasts.maybeBroadcast(rm), Seq("a"))
      .join(Broadcasts.maybeBroadcast(cm), Seq("b"))
      .crossJoin(broadcast(tot))
      .withColumn("__d",
        (col("n").cast(d38) * col("n_cell")
          - col("row_total").cast(d38) * col("col_total")).cast(d38))
      .withColumn("__td",
        (col("n").cast(d38) * col("row_total") * col("col_total")).cast(d38))
      .withColumn("chi2_term",
        when(col("__td") > 0,
          (col("__d") * col("__d")).cast(d38).cast("double")
            / col("__td").cast("double")))
      .select(col("a"), col("b"), col("n_cell"), col("row_total"),
        col("col_total"), col("n"), col("__d").cast("long").as("delta_num"),
        col("__td").cast("long").as("term_den"), col("chi2_term"))
  }

  /** Welch's unequal-variance t-test PARTS per key — the two-sample
    * mean comparison that does NOT assume equal variances (the safe
    * default for A/B metrics with heterogeneous arms; Welch 1947):
    * per key, exact integer moment partials for both arms — counts,
    * cent-unit sums (2-dp-grid contract), and cent²-unit sums of
    * squares — then `t = (x̄_A − x̄_B)/√(s²_A/n_A + s²_B/n_B)` and the
    * Welch–Satterthwaite degrees of freedom as ONE fixed double chain
    * per key (divisions and √ of exact integers are correctly rounded
    * IEEE — engine-portable; no float accumulates across rows).
    *
    * Variances are the unbiased sample form computed from the exact
    * identity `n·Σx² − (Σx)²` inside decimal(38,0) (the signed-
    * residual discipline: the square lives in exact decimal, never a
    * BIGINT intermediate). BIGINT emission bounds: `ssq_*_cents2`
    * overflows past Σx² ~ 9e18 cent² (e.g. 1e9 rows of ~$30k values)
    * — the ANSI cast fails loudly, never silently.
    *
    * Output per key: (key, n_a, n_b, sum_a_cents, sum_b_cents,
    * ssq_a_cents2, ssq_b_cents2, mean_a, mean_b, t_stat, df_welch) —
    * t/df NULL when either arm has < 2 rows or both variances are 0. */
  def welchTTest(df: DataFrame, keyCol: String, valueCol: String,
                 isA: Column): DataFrame = {
    val d38 = "decimal(38,0)"
    val base = df.filter(col(valueCol).isNotNull && isA.isNotNull)
      .select(col(keyCol), isA.as("__a"),
        (col(valueCol).cast("decimal(12,2)") * 100).cast("long").as("__c"))
    val agg = base.groupBy(col(keyCol))
      .agg(
        sum(when(col("__a"), 1L).otherwise(0L)).as("n_a"),
        sum(when(!col("__a"), 1L).otherwise(0L)).as("n_b"),
        sum(when(col("__a"), col("__c")).otherwise(0L)).cast("long")
          .as("sum_a_cents"),
        sum(when(!col("__a"), col("__c")).otherwise(0L)).cast("long")
          .as("sum_b_cents"),
        sum(when(col("__a"), col("__c").cast(d38) * col("__c"))
          .otherwise(lit(0).cast(d38))).cast(d38).cast("long")
          .as("ssq_a_cents2"),
        sum(when(!col("__a"), col("__c").cast(d38) * col("__c"))
          .otherwise(lit(0).cast(d38))).cast(d38).cast("long")
          .as("ssq_b_cents2"))
      .filter(col("n_a") > 0 || col("n_b") > 0)
    // one fixed double chain from the exact integer partials; the
    // variance numerator n·Σx² − (Σx)² stays in exact decimal and the
    // 1e4 divisor converts cent² to dollars² before the double cast
    def mean(s: String, n: String) =
      col(s).cast("double") / (col(n).cast("double") * 100.0)
    def variance(n: String, s: String, q: String) =
      (col(n).cast(d38) * col(q) - col(s).cast(d38) * col(s)).cast(d38)
        .cast("double") /
        ((col(n).cast(d38) * (col(n) - 1) * 10000).cast(d38).cast("double"))
    agg
      .withColumn("mean_a", when(col("n_a") > 0, mean("sum_a_cents", "n_a")))
      .withColumn("mean_b", when(col("n_b") > 0, mean("sum_b_cents", "n_b")))
      .withColumn("__va", when(col("n_a") > 1,
        variance("n_a", "sum_a_cents", "ssq_a_cents2")))
      .withColumn("__vb", when(col("n_b") > 1,
        variance("n_b", "sum_b_cents", "ssq_b_cents2")))
      .withColumn("__sea", col("__va") / col("n_a").cast("double"))
      .withColumn("__seb", col("__vb") / col("n_b").cast("double"))
      .withColumn("__se2", col("__sea") + col("__seb"))
      .withColumn("t_stat",
        when(col("__se2") > 0.0,
          (col("mean_a") - col("mean_b")) / sqrt(col("__se2"))))
      .withColumn("df_welch",
        when(col("__se2") > 0.0,
          (col("__se2") * col("__se2")) /
            (col("__sea") * col("__sea") / (col("n_a").cast("double") - 1.0)
              + col("__seb") * col("__seb")
                / (col("n_b").cast("double") - 1.0))))
      .select(col(keyCol), col("n_a"), col("n_b"), col("sum_a_cents"),
        col("sum_b_cents"), col("ssq_a_cents2"), col("ssq_b_cents2"),
        col("mean_a"), col("mean_b"), col("t_stat"), col("df_welch"))
  }

  /** Cramér's V — the [0, 1] effect size of [[chiSquareIndependence]]
    * (a χ² alone grows with n; V = √(χ²/(n·(min(r,c)−1))) is the
    * sample-size-free association strength reviewers actually compare):
    * per-cell χ² terms floor onto the MICRO grid
    * (`1e6·Δ² div term_den` — exact integer division of exact
    * decimals, the ndcg-flooring discipline), so the table sum is an
    * exact BIGINT at any parallelism — no float ever accumulates
    * across cells — and V is one fixed double chain.
    *
    * [[chiSquareIndependence]] emits OBSERVED cells only, but an EMPTY
    * cell still contributes `(0−E)²/E = E` to χ² — that mass is added
    * back exactly as `n − Σ_observed E` (each observed E floored onto
    * the same micro grid), so sparse tables score correctly without
    * materializing the r×c dense grid.
    *
    * Output: one row (n, n_cats_a, n_cats_b, chi2_micro, cramers_v) —
    * `chi2 ≈ chi2_micro/1e6`. Rounding direction: each OBSERVED term
    * floors, but the empty-cell mass is computed as `1e6·n − Σ floored
    * observed E`, so every observed cell's flooring remainder (< 1
    * micro-unit) transfers INTO the empty mass — the net bias is
    * slightly UPWARD (≤ one micro-unit per observed cell), not a
    * strict under-approximation. V NULL for a degenerate table
    * (min(r,c) < 2 or n = 0). */
  def cramersV(df: DataFrame, colA: String, colB: String): DataFrame =
    chiSquareIndependence(df, colA, colB)
      .withColumn("__tm",
        expr("(1000000 * (CAST(delta_num AS DECIMAL(38,0)) * delta_num))" +
          " div term_den"))
      // this cell's expected count on the micro grid: 1e6·rt·ct div n
      .withColumn("__em",
        expr("(1000000 * (CAST(row_total AS DECIMAL(38,0)) * col_total))" +
          " div n"))
      .agg(max(col("n")).cast("long").as("n"),
        count_distinct(col("a")).cast("long").as("n_cats_a"),
        count_distinct(col("b")).cast("long").as("n_cats_b"),
        sum(col("__tm")).cast("long").as("__obs_micro"),
        sum(col("__em")).cast("long").as("__obs_e_micro"))
      // + the empty cells' (0−E)²/E = E mass: n − Σ_observed E
      .withColumn("chi2_micro",
        (col("__obs_micro")
          + (lit(1000000L) * col("n") - col("__obs_e_micro")))
          .cast("long"))
      .withColumn("__k",
        least(col("n_cats_a"), col("n_cats_b")).cast("double"))
      .withColumn("cramers_v",
        when(col("n") > 0 && col("__k") > 1.0,
          sqrt(col("chi2_micro").cast("double")
            / (lit(1000000.0) * col("n").cast("double")
              * (col("__k") - 1.0)))))
      .select(col("n"), col("n_cats_a"), col("n_cats_b"),
        col("chi2_micro"), col("cramers_v"))

  /** Exact higher-moment profile per key — population skewness g1 and
    * excess kurtosis g2 from EXACT raw-moment partials on the cent
    * grid (the distribution-shape screen before trusting symmetric
    * confidence intervals or z-scores on a money/size column; the
    * 3rd/4th-moment extension of [[welchTTest]]'s cent/cent²
    * discipline): with S_k = Σ c^k exact, the scale-free central
    * numerators `m2n = n·S2 − S1²`, `m3n = n²·S3 − 3n·S2·S1 + 2·S1³`,
    * `m4n = n³·S4 − 4n²·S3·S1 + 6n·S2·S1² − 3·S1⁴` satisfy
    * `g1 = m3n / (m2n·√m2n)` and `g2 = m4n/m2n² − 3` with every n and
    * cent power cancelling — two fixed IEEE chains from exact
    * decimals. Biased (population) moment convention, documented
    * rather than silently "corrected".
    *
    * Bounds: the decimal(38,0) internals need n³·S4 < 10³⁸ — holds to
    * ~10⁶ rows/key at cents ≤ 10⁴ (ANSI throws loudly past it); S1-S3
    * are emitted as exact BIGINTs (S3 ≤ n·c³ — safe to cents ~10⁵ at
    * 10⁶ rows). Mirrors: cast the big decimals to double THROUGH
    * VARCHAR on the DuckDB side (the [[graft.operators.RankStats
    * .hoeffdingD]] 1-ulp HUGEINT-cast trap).
    *
    * Output per key: (key, n, s1_cents, s2_cents2, s3_cents3,
    * skewness, kurtosis_excess) — NULLs when n < 2 or the key is
    * constant (m2n = 0). */
  def momentsByKey(df: DataFrame, keyCol: String,
                   valueCol: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val base = df.filter(col(keyCol).isNotNull && col(valueCol).isNotNull)
      .select(col(keyCol),
        (col(valueCol).cast("decimal(12,2)") * 100).cast("long").as("__c"))
    val agg = base.groupBy(col(keyCol))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("__c").cast(d38)).cast(d38).as("__s1"),
        sum(col("__c").cast(d38) * col("__c")).cast(d38).as("__s2"),
        sum(col("__c").cast(d38) * col("__c") * col("__c")).cast(d38)
          .as("__s3"),
        sum(col("__c").cast(d38) * col("__c") * col("__c") * col("__c"))
          .cast(d38).as("__s4"))
    val n38 = col("n").cast(d38)
    agg
      .withColumn("__m2n", (n38 * col("__s2") - col("__s1") * col("__s1"))
        .cast(d38))
      .withColumn("__m3n",
        (n38 * n38 * col("__s3")
          - lit(3).cast(d38) * n38 * col("__s2") * col("__s1")
          + lit(2).cast(d38) * col("__s1") * col("__s1") * col("__s1"))
          .cast(d38))
      .withColumn("__m4n",
        (n38 * n38 * n38 * col("__s4")
          - lit(4).cast(d38) * n38 * n38 * col("__s3") * col("__s1")
          + lit(6).cast(d38) * n38 * col("__s2") * col("__s1") * col("__s1")
          - lit(3).cast(d38) * col("__s1") * col("__s1") * col("__s1")
            * col("__s1")).cast(d38))
      .withColumn("skewness",
        when(col("n") >= 2 && col("__m2n") > 0,
          col("__m3n").cast("double")
            / (col("__m2n").cast("double")
              * sqrt(col("__m2n").cast("double")))))
      .withColumn("kurtosis_excess",
        when(col("n") >= 2 && col("__m2n") > 0,
          col("__m4n").cast("double")
            / (col("__m2n").cast("double") * col("__m2n").cast("double"))
            - lit(3.0)))
      .select(col(keyCol), col("n"),
        col("__s1").cast("long").as("s1_cents"),
        col("__s2").cast("long").as("s2_cents2"),
        col("__s3").cast("long").as("s3_cents3"),
        col("skewness"), col("kurtosis_excess"))
  }

  /** Wilson score interval per key — the binomial proportion CI that
    * stays honest at extreme p̂ and small n (the Wald interval a naive
    * `p ± z√(pq/n)` gives collapses to zero width at p̂ ∈ {0,1} and
    * escapes [0,1]; Wilson never does — the right readout for pass
    * rates, defect rates, and conversion proportions): with exact
    * (n, s) counts, `center = (p̂ + z²/2n)/(1 + z²/n)` and
    * `half = z·√(p̂(1−p̂)/n + z²/4n²)/(1 + z²/n)` — one fixed IEEE
    * chain; z is the PINNED two-sided literal for the requested level
    * (95% → 1.959963984540054; log/erf are libm-unsafe, a literal
    * parses identically everywhere — the Benford rule).
    *
    * Output per key: (key, n, n_success, p_hat, ci_lo, ci_hi) —
    * NULL CI when n = 0; bounds clamped into [0, 1]. */
  def wilsonCI(df: DataFrame, keyCol: String, successCol: String,
               z: Double = 1.959963984540054): DataFrame = {
    require(z > 0, s"z must be positive, got $z")
    val agg = df.filter(col(keyCol).isNotNull && col(successCol).isNotNull)
      .groupBy(col(keyCol))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(when(col(successCol).cast("boolean"), 1L).otherwise(0L))
          .cast("long").as("n_success"))
    val nD = col("n").cast("double")
    val p = col("n_success").cast("double") / nD
    val z2 = lit(z * z)
    val denom = lit(1.0) + z2 / nD
    val center = (p + z2 / (lit(2.0) * nD)) / denom
    val half = lit(z) * sqrt(p * (lit(1.0) - p) / nD
      + z2 / (lit(4.0) * nD * nD)) / denom
    agg
      .withColumn("p_hat", when(col("n") > 0, p))
      .withColumn("ci_lo",
        when(col("n") > 0, greatest(lit(0.0), center - half)))
      .withColumn("ci_hi",
        when(col("n") > 0, least(lit(1.0), center + half)))
      .select(col(keyCol), col("n"), col("n_success"), col("p_hat"),
        col("ci_lo"), col("ci_hi"))
  }

  /** Trimmed mean per key — the robust location estimate between
    * [[moodMedian]]'s median and the raw mean (drop the k lowest and
    * k highest rows, k = ⌊α·n⌋, average the rest — the convention
    * when a money column carries a few corrupt extremes that
    * [[winsorize]] would merely clamp): exact on the cent grid via
    * rank-window overlap on the distinct-value lattice — each value
    * cell occupies ranks [cum−t+1, cum], its overlap with the kept
    * window [k+1, n−k] is `min(cum, n−k) − max(cum−t+1, k+1) + 1`
    * rows — so the kept sum and count are exact BIGINTs at any
    * parallelism and the mean is one division. No row ever sorts
    * globally; the one window is the per-key values-scale lattice
    * cumulative.
    *
    * Output per key: (key, n, n_kept, kept_sum_cents, trimmed_mean) —
    * mean in the column's units (cents/100); NULL when the trim
    * swallows everything (n ≤ 2k). */
  def trimmedMean(df: DataFrame, keyCol: String, valueCol: String,
                  alphaNum: Int, alphaDen: Int): DataFrame = {
    require(alphaDen > 0 && alphaNum >= 0 && 2 * alphaNum < alphaDen,
      s"alpha must be in [0, 0.5), got $alphaNum/$alphaDen")
    import org.apache.spark.sql.expressions.Window
    val base = df.filter(col(keyCol).isNotNull && col(valueCol).isNotNull)
      .select(col(keyCol),
        (col(valueCol).cast("decimal(12,2)") * 100).cast("long").as("__c"))
    val w = Window.partitionBy(col(keyCol)).orderBy(col("__c").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cells = base.groupBy(col(keyCol), col("__c"))
      .agg(count(lit(1)).as("__t"))
      .withColumn("__cum", sum(col("__t")).over(w))
    val tot = base.groupBy(col(keyCol)).agg(count(lit(1)).as("__n"))
      .withColumn("__k",
        expr(s"(__n * $alphaNum) div $alphaDen").cast("long"))
    cells.join(Broadcasts.maybeBroadcast(tot), Seq(keyCol))
      .withColumn("__in",
        greatest(lit(0L),
          least(col("__cum"), col("__n") - col("__k"))
            - greatest(col("__cum") - col("__t") + 1, col("__k") + 1)
            + 1L))
      .groupBy(col(keyCol))
      .agg(max(col("__n")).cast("long").as("n"),
        sum(col("__in")).cast("long").as("n_kept"),
        sum(col("__in").cast("decimal(38,0)") * col("__c"))
          .cast("decimal(38,0)").cast("long").as("kept_sum_cents"))
      .withColumn("trimmed_mean",
        when(col("n_kept") > 0,
          col("kept_sum_cents").cast("double")
            / (col("n_kept").cast("double") * 100.0)))
  }

  /** Jarque–Bera normality test per key — DERIVED from
    * [[momentsByKey]]'s exact skewness/kurtosis (the no-drift
    * convention: one source for the moment chains): `JB = n/6 ·
    * (g1² + g2²/4)` — the quick "is this column even roughly normal"
    * gate before z-score-based outlier rules. One fixed double chain;
    * NULL on degenerate keys.
    *
    * Output per key: momentsByKey's columns + jb_stat. */
  def jarqueBera(df: DataFrame, keyCol: String,
                 valueCol: String): DataFrame =
    momentsByKey(df, keyCol, valueCol)
      .withColumn("jb_stat",
        when(col("skewness").isNotNull && col("kurtosis_excess").isNotNull,
          col("n").cast("double") / 6.0
            * (col("skewness") * col("skewness")
              + col("kurtosis_excess") * col("kurtosis_excess") / 4.0)))

  /** Partial correlation and two-predictor R² per key — "does x still
    * track y once z is held fixed?" (the confounder screen before
    * reading any pairwise correlation causally: quantity and revenue
    * correlate trivially through discount tiers; the partial removes
    * the shared-z channel): all three Pearson r's come from EXACT
    * cent-grid moment partials (n, ΣaΣb, Σab — decimal internals, the
    * [[momentsByKey]] discipline), then
    * `r_xy·z = (r_xy − r_xz·r_yz) / (√(1−r_xz²)·√(1−r_yz²))` and
    * `R²_y|xz = (r_xy² + r_yz² − 2·r_xy·r_xz·r_yz) / (1 − r_xz²)`
    * are fixed IEEE chains over those three doubles. Mirrors:
    * VARCHAR-route the big decimal→double casts (n·Σab exceeds 2⁵³).
    *
    * Output per key: (key, n, r_xy, r_xz, r_yz, partial_xy_z,
    * r2_y_xz) — NULLs on degenerate variance or |r| = 1 guards. */
  def partialCorrelation(df: DataFrame, keyCol: String, xCol: String,
                         yCol: String, zCol: String): DataFrame = {
    val d38 = "decimal(38,0)"
    def cents(c: String) =
      (col(c).cast("decimal(12,2)") * 100).cast("long")
    val base = df.filter(col(keyCol).isNotNull && col(xCol).isNotNull
      && col(yCol).isNotNull && col(zCol).isNotNull)
      .select(col(keyCol), cents(xCol).as("__x"), cents(yCol).as("__y"),
        cents(zCol).as("__z"))
    val m = base.groupBy(col(keyCol)).agg(
      count(lit(1)).cast("long").as("n"),
      sum(col("__x").cast(d38)).cast(d38).as("__sx"),
      sum(col("__y").cast(d38)).cast(d38).as("__sy"),
      sum(col("__z").cast(d38)).cast(d38).as("__sz"),
      sum(col("__x").cast(d38) * col("__x")).cast(d38).as("__sxx"),
      sum(col("__y").cast(d38) * col("__y")).cast(d38).as("__syy"),
      sum(col("__z").cast(d38) * col("__z")).cast(d38).as("__szz"),
      sum(col("__x").cast(d38) * col("__y")).cast(d38).as("__sxy"),
      sum(col("__x").cast(d38) * col("__z")).cast(d38).as("__sxz"),
      sum(col("__y").cast(d38) * col("__z")).cast(d38).as("__syz"))
    val n38 = col("n").cast(d38)
    def dev(saa: String, sa: String) =
      (n38 * col(saa) - col(sa) * col(sa)).cast(d38)
    def r(sab: String, sa: String, sb: String, daa: Column, dbb: Column) =
      when(daa > 0 && dbb > 0,
        (n38 * col(sab) - col(sa) * col(sb)).cast(d38).cast("double")
          / (sqrt(daa.cast("double")) * sqrt(dbb.cast("double"))))
    val withR = m
      .withColumn("r_xy", r("__sxy", "__sx", "__sy",
        dev("__sxx", "__sx"), dev("__syy", "__sy")))
      .withColumn("r_xz", r("__sxz", "__sx", "__sz",
        dev("__sxx", "__sx"), dev("__szz", "__sz")))
      .withColumn("r_yz", r("__syz", "__sy", "__sz",
        dev("__syy", "__sy"), dev("__szz", "__sz")))
    withR
      .withColumn("partial_xy_z", {
        val den = sqrt(lit(1.0) - col("r_xz") * col("r_xz")) *
          sqrt(lit(1.0) - col("r_yz") * col("r_yz"))
        when(den > 0.0,
          (col("r_xy") - col("r_xz") * col("r_yz")) / den)
      })
      .withColumn("r2_y_xz", {
        val den = lit(1.0) - col("r_xz") * col("r_xz")
        when(den > 0.0,
          (col("r_xy") * col("r_xy") + col("r_yz") * col("r_yz") -
            lit(2.0) * col("r_xy") * col("r_xz") * col("r_yz")) / den)
      })
      .select(col(keyCol), col("n"), col("r_xy"), col("r_xz"),
        col("r_yz"), col("partial_xy_z"), col("r2_y_xz"))
  }

  /** Benford first-digit conformance — the classic fabricated-data /
    * unit-mixup screen for a money column (the reference's quality
    * gates bound amounts; Benford asks whether their DIGITS look
    * organically generated): observed counts of the first significant
    * digit of the EXACT cent representation (first digit is scale-
    * invariant under ×100, and integer→string rendering is engine-
    * identical, unlike double→string) against the pinned
    * log10(1+1/d) literals, with the χ² attached as one fixed 9-term
    * IEEE chain from the exact counts (the friedman same-value-on-
    * every-row convention — no float aggregation whose order could
    * drift). Zero/NULL values carry no leading digit and are excluded
    * (count them upstream if their share matters).
    *
    * Output: 9 rows (digit, n_obs, expected, chi2_term, chi2, n) —
    * digits with zero observations still appear (their E still
    * contributes). */
  /** The pinned Benford first-digit probabilities log10(1 + 1/d),
    * d = 1..9 — LITERALS, because log itself is libm-unsafe
    * cross-engine while a decimal literal parses identically
    * everywhere. Public so mirrors build from the same source. */
  val benfordProbs: Seq[Double] = Seq(0.3010299956639812,
    0.17609125905568124, 0.12493873660829993, 0.09691001300805642,
    0.07918124604762482, 0.06694678963061322, 0.05799194697768673,
    0.05115252244738129, 0.04575749056067514)

  def benfordTest(df: DataFrame, valueCol: String): DataFrame = {
    val p = benfordProbs
    val spark = df.sparkSession
    val base = df.filter(col(valueCol).isNotNull)
      .select(abs((col(valueCol).cast("decimal(12,2)") * 100)
        .cast("long")).as("__c"))
      .filter(col("__c") > 0)
      .select(substring(col("__c").cast("string"), 1, 1).cast("int")
        .as("digit"))
    val counts = base.groupBy(col("digit")).agg(count(lit(1)).as("__o"))
    import scala.jdk.CollectionConverters._
    val lattice = spark.createDataFrame(
      (1 to 9).map(d => org.apache.spark.sql.Row(d)).asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("digit",
          org.apache.spark.sql.types.IntegerType, nullable = false))))
    val full = lattice.join(counts, Seq("digit"), "left")
      .withColumn("n_obs", coalesce(col("__o"), lit(0L)).cast("long"))
    // one row of the 9 exact counts -> chi2 as a literal 9-term chain
    val aggs = sum(col("n_obs")).cast("long").as("__n") +:
      (1 to 9).map(d => sum(when(col("digit") === d, col("n_obs"))
        .otherwise(0L)).cast("long").as(s"__o$d"))
    val pivot = full.agg(aggs.head, aggs.tail: _*)
    val nD = col("__n").cast("double")
    val chi2 = (1 to 9).map { d =>
      val e = nD * lit(p(d - 1))
      (col(s"__o$d").cast("double") - e) * (col(s"__o$d").cast("double") - e) / e
    }.reduceLeft(_ + _)
    val withChi = pivot.withColumn("chi2", when(col("__n") > 0, chi2))
      .select(col("__n").cast("long").as("n"), col("chi2"))
    full.select(col("digit"), col("n_obs"))
      .crossJoin(broadcast(withChi))
      .withColumn("expected", col("n").cast("double")
        * element_at(array(p.map(lit): _*), col("digit")))
      .withColumn("chi2_term",
        when(col("n") > 0,
          (col("n_obs").cast("double") - col("expected"))
            * (col("n_obs").cast("double") - col("expected"))
            / col("expected")))
      .select(col("digit"), col("n_obs"), col("expected"),
        col("chi2_term"), col("chi2"), col("n"))
  }

  /** Brown–Forsythe test — "do the k groups have the same SPREAD?"
    * (the robust Levene variant: one-way ANOVA on absolute deviations
    * from each group's MEDIAN, immune to the outliers and skew that
    * break a raw variance-ratio test — the homoscedasticity gate
    * before pooling variances in [[welchTTest]]-style comparisons):
    * per-group exact lattice medians (the [[moodMedian]] selection
    * rule, per group), deviations `z = |c − med_g|` exact cents, then
    * F from the one-way ANOVA identity with every per-group rational
    * `(Σz_j)²/n_j` FLOORED onto the cent² grid (`(Σz_j)² div n_j` —
    * exact integer division of exact decimals, the [[cramersV]]
    * flooring discipline; the error is < 1 cent² per group against
    * SS terms ~10¹⁵), so SSB/SSW are exact BIGINTs at any parallelism
    * and F is one division: `F = ((N−k)·SSB) / ((k−1)·SSW)`.
    *
    * Output: one row (n, k_groups, ssb_cents2, ssw_cents2, f_stat) —
    * F NULL when SSW = 0 or k < 2. BIGINT bound: (Σz_j)²/n_j needs
    * n_j·z̄² < 9e18 — cents ~10⁵ are safe past 10⁸ rows/group (ANSI
    * throws loudly beyond). */
  def brownForsythe(df: DataFrame, groupCol: String,
                    valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d38 = "decimal(38,0)"
    val base = df.filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .select(col(groupCol).as("__g"),
        (col(valueCol).cast("decimal(12,2)") * 100).cast("long").as("__c"))
    val w = Window.partitionBy(col("__g")).orderBy(col("__v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val med = base.groupBy(col("__g"), col("__c").as("__v"))
      .agg(count(lit(1)).as("__cnt"))
      .withColumn("__cum", sum(col("__cnt")).over(w))
      .join(Broadcasts.maybeBroadcast(
        base.groupBy(col("__g")).agg(count(lit(1)).as("__ng"))), Seq("__g"))
      .filter(col("__cum") * 2 >= col("__ng"))
      .groupBy(col("__g")).agg(min(col("__v")).as("__med"))
    val z = base.join(Broadcasts.maybeBroadcast(med), Seq("__g"))
      .select(col("__g"), abs(col("__c") - col("__med")).as("__z"))
    val perGroup = z.groupBy(col("__g"))
      .agg(count(lit(1)).cast("long").as("__nj"),
        sum(col("__z").cast(d38)).cast(d38).as("__sz"),
        sum(col("__z").cast(d38) * col("__z")).cast(d38).cast("long")
          .as("__sz2"))
      .withColumn("__term", expr("(__sz * __sz) div __nj"))
    val agg = perGroup.agg(
      sum(col("__nj")).cast("long").as("n"),
      count(lit(1)).cast("long").as("k_groups"),
      sum(col("__sz")).cast(d38).as("__z_total"),
      sum(col("__sz2")).cast("long").as("__zz_total"),
      sum(col("__term")).cast("long").as("__terms"))
    agg
      .withColumn("__grand",
        expr("(__z_total * __z_total) div n"))
      .withColumn("ssb_cents2", (col("__terms") - col("__grand"))
        .cast("long"))
      .withColumn("ssw_cents2", (col("__zz_total") - col("__terms"))
        .cast("long"))
      .withColumn("f_stat",
        when(col("k_groups") >= 2 && col("ssw_cents2") > 0,
          ((col("n") - col("k_groups")).cast("double")
            * col("ssb_cents2").cast("double"))
            / ((col("k_groups") - 1).cast("double")
              * col("ssw_cents2").cast("double"))))
      .select(col("n"), col("k_groups"), col("ssb_cents2"),
        col("ssw_cents2"), col("f_stat"))
  }

  /** Bartlett's homogeneity-of-variance test in PARTS-EMISSION form —
    * the NORMAL-theory sibling of [[brownForsythe]] (higher power when
    * groups are near-normal, fragile otherwise; users expect both).
    * The statistic needs `ln` of the group variances — libm,
    * cross-engine-divergent (NOTES.md determinism rules) — so the
    * engine emits the EXACT parts and the log fold is CALLER-side
    * (the [[graft.checks.Drift.psiParts]] convention):
    *
    *   per group: `n_i`, `sum_cents = Σc`, and
    *   `ss_num_d = n_i·Σc² − (Σc)²` — the variance numerator cleared
    *   of divisions (`S²_i = ss_num/(n_i(n_i−1))`,
    *   `SS_i = ss_num/n_i`); it rides decimal(38,0) internally
    *   (n·Σc² exceeds BIGINT past ~10⁵ rows of 10⁵-cent values — the
    *   r8 squared-residual lesson) and emits as DOUBLE via the
    *   correctly-rounded decimal cast (oracle mirrors VARCHAR-route:
    *   the hoeffdingD trap).
    *
    * Caller folds `T = (N−k)·ln S²_p − Σ(n_i−1)·ln S²_i` with
    * `S²_p = (Σ_i ss_num_i/n_i)/(N−k)` and Bartlett's correction
    * `C = 1 + (Σ 1/(n_i−1) − 1/(N−k))/(3(k−1))`; `T/C ~ χ²_{k−1}`.
    * One hash aggregate over the input; output is k rows. */
  def bartlettParts(df: DataFrame, groupCol: String,
                    valueCol: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val base = df.filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .select(col(groupCol).as("grp"),
        (col(valueCol).cast("decimal(12,2)") * 100).cast("long").as("__c"))
    base.groupBy(col("grp"))
      .agg(count(lit(1)).cast("long").as("n_i"),
        sum(col("__c")).cast("long").as("sum_cents"),
        sum((col("__c") * col("__c")).cast(d38)).cast(d38).as("__sc2"),
        sum(col("__c").cast(d38)).cast(d38).as("__sc"))
      .withColumn("ss_num_d",
        (col("n_i").cast(d38) * col("__sc2") - col("__sc") * col("__sc"))
          .cast(d38).cast("double"))
      .select(col("grp"), col("n_i"), col("sum_cents"), col("ss_num_d"))
  }

  /** Pairwise mean-contrast PARTS — the parametric post-hoc
    * companion of [[graft.operators.RankStats.dunnTest]] (that one
    * ranks; this one feeds Welch/Games-Howell/Tukey-style contrasts):
    * for every unordered group pair, the exact integers a post-hoc
    * procedure needs, with the studentized-range / t critical values
    * left CALLER-side (distribution tables are where libm lives):
    *
    *   `diff_num = sum_a·n_b − sum_b·n_a` — the mean difference
    *   cleared of divisions (`mean_a − mean_b = diff_num/(n_a·n_b)`
    *   cents, exact BIGINT), plus each side's `n`, `sum_cents`, and
    *   [[bartlettParts]] variance numerator
    *   (`S²_i = ss_num/(n_i(n_i−1))`, so Welch's
    *   `SE² = ss_num_a/(n_a²(n_a−1)) + ss_num_b/(n_b²(n_b−1))` is one
    *   caller-side chain).
    *
    * One [[bartlettParts]] aggregate (a single pass over the rows),
    * then a k²-bounded broadcast self-pair of the k-row group frame —
    * group-count scale, never row scale. */
  def pairwiseContrastParts(df: DataFrame, groupCol: String,
                            valueCol: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val g = bartlettParts(df, groupCol, valueCol).localCheckpoint(true)
    val a = g.select(col("grp").as("grp_a"), col("n_i").as("n_a"),
      col("sum_cents").as("sum_a"), col("ss_num_d").as("ss_num_a_d"))
    val b = g.select(col("grp").as("grp_b"), col("n_i").as("n_b"),
      col("sum_cents").as("sum_b"), col("ss_num_d").as("ss_num_b_d"))
    a.crossJoin(broadcast(b))
      .filter(col("grp_a") < col("grp_b"))
      .withColumn("diff_num",
        (col("sum_a").cast(d38) * col("n_b")
          - col("sum_b").cast(d38) * col("n_a")).cast(d38).cast("long"))
      .select(col("grp_a"), col("grp_b"), col("n_a"), col("n_b"),
        col("sum_a"), col("sum_b"), col("ss_num_a_d"),
        col("ss_num_b_d"), col("diff_num"))
  }

  /** Mood's median test — "do the k groups straddle the pooled median
    * the same way?": dichotomize every row against the GRAND median
    * (ties at the median count as at-or-below — the classical
    * convention), then χ² of the groups × {above, at_or_below} table
    * via [[cramersV]] (micro-grid exact table sum, one double chain).
    * The robust k-sample location test when only medians are trusted
    * — [[graft.operators.RankStats.kruskalWallis]]' blunter, outlier-
    * immune sibling.
    *
    * The grand median is the exact selection rule `min(v : 2·cum ≥ n)`
    * over the distinct-value lattice (the house quantile convention —
    * engine-portable, no interpolation); the lattice cumulative is the
    * one global window (values-scale, documented). Output: one row —
    * [[cramersV]]'s columns + the median value. */
  def moodMedian(df: DataFrame, groupCol: String,
                 valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
    val w = Window.orderBy(col("__v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // __nlat (distinct-value count, same single aggregate pass over
    // the rows) guards the values-scale lattice claim: a continuous
    // value column refuses loudly instead of one-task collapse. The
    // guard replaces __c BELOW the window — per-row, on the
    // distributed side of the single-partition exchange, so the raise
    // fires before any one-task sort materializes
    // (PlanAudit.latticeGuard — round-14, VERDICT r13 #3)
    val med = base.groupBy(col(valueCol).as("__v"))
      .agg(count(lit(1)).as("__c"))
      .crossJoin(broadcast(base.agg(count(lit(1)).as("__n"),
        count_distinct(col(valueCol)).as("__nlat"))))
      .withColumn("__c", PlanAudit.latticeGuard(col("__c"),
        col("__nlat"), "moodMedian"))
      .withColumn("__cum", sum(col("__c")).over(w))
      .filter(col("__cum") * 2 >= col("__n"))
      .agg(min(col("__v")).as("median"))
    val sided = base.crossJoin(broadcast(med))
      .withColumn("__side",
        when(col(valueCol) > col("median"), "above")
          .otherwise("at_or_below"))
    cramersV(sided, groupCol, "__side").crossJoin(broadcast(med))
  }

  /** Bowker symmetry test — "is the k×k PAIRED transition table
    * symmetric?" (the k-category generalization of [[mcnemar]]'s 2×2:
    * do labels migrate i→j as often as j→i between two model
    * versions / annotation rounds / consecutive events?):
    * `χ²_B = Σ_{i<j} (n_ij − n_ji)²/(n_ij + n_ji)` over cell pairs
    * with any traffic, df = number of such pairs. Per-pair terms
    * floor onto the MICRO grid (`1e6·d² div s` — exact integer
    * division), so the table sum is an exact BIGINT at any
    * parallelism (the [[cramersV]] discipline) and χ² is one
    * division. Diagonal cells never contribute (i = j agrees with
    * itself).
    *
    * Output: one row (n_obs, k_categories, df, chi2_micro, chi2). */
  def bowkerSymmetry(df: DataFrame, colA: String, colB: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val cells = df.filter(col(colA).isNotNull && col(colB).isNotNull)
      .groupBy(col(colA).cast("string").as("__a"),
        col(colB).cast("string").as("__b"))
      .agg(count(lit(1)).as("__n"))
      .localCheckpoint(true) // consumed 3x (pairing + k + total)
    val pairs = cells.filter(col("__a") < col("__b"))
      .select(col("__a"), col("__b"), col("__n").as("__nij"))
      .join(cells.filter(col("__a") > col("__b"))
        .select(col("__b").as("__a"), col("__a").as("__b"),
          col("__n").as("__nji")),
        Seq("__a", "__b"), "full_outer")
      .withColumn("__nij", coalesce(col("__nij"), lit(0L)))
      .withColumn("__nji", coalesce(col("__nji"), lit(0L)))
      .withColumn("__d", (col("__nij") - col("__nji")).cast(d38))
      .withColumn("__tm",
        expr("(1000000 * (CAST(__d AS DECIMAL(38,0)) * __d))" +
          " div (__nij + __nji)"))
    val k = cells
      .select(col("__a").as("__c")).unionAll(cells.select(col("__b")))
      .agg(count_distinct(col("__c")).cast("long").as("k_categories"))
    val tot = cells.agg(sum(col("__n")).cast("long").as("n_obs"))
    pairs.agg(count(lit(1)).cast("long").as("df"),
      sum(col("__tm")).cast("long").as("chi2_micro"))
      .crossJoin(broadcast(k)).crossJoin(broadcast(tot))
      .withColumn("chi2", col("chi2_micro").cast("double") / 1000000.0)
      .select(col("n_obs"), col("k_categories"), col("df"),
        col("chi2_micro"), col("chi2"))
  }

  /** Cohen's d / Hedges' g effect size per key — "HOW BIG is the mean
    * difference, in pooled-SD units?" ([[welchTTest]] answers whether
    * it's distinguishable from noise; report both): built on the SAME
    * exact integer moment partials (this calls welchTTest and
    * re-derives the variances from the emitted BIGINT moments, so the
    * two statistics can never drift apart), with
    * `d = (x̄_A−x̄_B)/s_pooled`, `s²_pooled = ((n_A−1)s²_A +
    * (n_B−1)s²_B)/(n_A+n_B−2)`, and Hedges'
    * `g = d·(1 − 3/(4(n_A+n_B)−9))` — the standard small-sample
    * correction (the exact Γ-ratio factor needs libm; this
    * approximation is the one every stats package reports). One fixed
    * double chain; NULL when either arm has < 2 rows or the pooled
    * variance is 0.
    *
    * Output per key: (key, n_a, n_b, mean_a, mean_b, cohens_d,
    * hedges_g). */
  def cohensD(df: DataFrame, keyCol: String, valueCol: String,
              isA: Column): DataFrame = {
    val d38 = "decimal(38,0)"
    def variance(n: String, s: String, q: String) =
      (col(n).cast(d38) * col(q) - col(s).cast(d38) * col(s)).cast(d38)
        .cast("double") /
        ((col(n).cast(d38) * (col(n) - 1) * 10000).cast(d38).cast("double"))
    welchTTest(df, keyCol, valueCol, isA)
      .withColumn("__va", when(col("n_a") > 1,
        variance("n_a", "sum_a_cents", "ssq_a_cents2")))
      .withColumn("__vb", when(col("n_b") > 1,
        variance("n_b", "sum_b_cents", "ssq_b_cents2")))
      .withColumn("__sp2",
        ((col("n_a").cast("double") - 1.0) * col("__va")
          + (col("n_b").cast("double") - 1.0) * col("__vb"))
          / (col("n_a").cast("double") + col("n_b").cast("double") - 2.0))
      .withColumn("cohens_d",
        when(col("__sp2") > 0.0,
          (col("mean_a") - col("mean_b")) / sqrt(col("__sp2"))))
      .withColumn("hedges_g",
        col("cohens_d") * (lit(1.0) - lit(3.0)
          / (lit(4.0) * (col("n_a") + col("n_b")).cast("double") - 9.0)))
      .select(col(keyCol), col("n_a"), col("n_b"), col("mean_a"),
        col("mean_b"), col("cohens_d"), col("hedges_g"))
  }

  /** Cochran–Armitage trend test PARTS per key — "does the success
    * rate TREND across ordered doses/buckets?" (the 2×k ordered
    * companion of [[chiSquareIndependence]]'s unordered independence
    * and [[graft.operators.RankStats.mannKendall]]'s continuous
    * trend): with per-row ordinal weight `w` and 0/1 success `r`,
    * `T = Σwr − (R/N)·Σw` and `Var(T|H₀) = R(N−R)(N·Σw²−(Σw)²)/N³`.
    *
    * Exact emission: `t_num = N·Σwr − R·Σw` (T·N), and the variance in
    * its two BIGINT factors `rn_r = R(N−R)` and `na_b2 = N·Σw² −
    * (Σw)²` (their product overflows BIGINT at corpus scale — the
    * same reason chi² emits signed residuals); `z = t_num/√(rn_r·
    * na_b2/N)` is one fixed double chain (algebra: T/√Var =
    * (t_num/N)/√(rn_r·na_b2/N³)). Degenerate keys (all successes,
    * none, or constant weight) give NULL z. BIGINT bounds documented
    * per factor; decimal internally, loud ANSI past them.
    *
    * `successCol` must be 0/1 (validated in-plan — anything else
    * raises); NULL weight/success rows are excluded.
    *
    * Output per key: (key, n, successes, t_num, rn_r, na_b2, z). */
  def cochranArmitage(df: DataFrame, keyCol: String, weightCol: String,
                      successCol: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val base = df.filter(col(weightCol).isNotNull && col(successCol).isNotNull)
      .select(col(keyCol), col(weightCol).cast("long").as("__w"),
        when(col(successCol).isin(0, 1), col(successCol).cast("long"))
          .otherwise(raise_error(lit(
            "cochranArmitage: successCol must be 0/1")).cast("long"))
          .as("__r"))
    base.groupBy(col(keyCol))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("__r")).cast("long").as("successes"),
        sum(col("__w")).cast("long").as("__b"),
        sum(col("__w").cast(d38) * col("__w")).cast(d38).cast("long")
          .as("__a"),
        sum(col("__w").cast(d38) * col("__r")).cast(d38).cast("long")
          .as("__swr"))
      .withColumn("t_num",
        (col("n").cast(d38) * col("__swr")
          - col("successes").cast(d38) * col("__b")).cast(d38).cast("long"))
      .withColumn("rn_r",
        (col("successes").cast(d38) * (col("n") - col("successes")))
          .cast(d38).cast("long"))
      .withColumn("na_b2",
        (col("n").cast(d38) * col("__a")
          - col("__b").cast(d38) * col("__b")).cast(d38).cast("long"))
      .withColumn("z",
        when(col("rn_r") > 0 && col("na_b2") > 0,
          col("t_num").cast("double")
            / sqrt(col("rn_r").cast("double") * col("na_b2").cast("double")
              / col("n").cast("double"))))
      .select(col(keyCol), col("n"), col("successes"), col("t_num"),
        col("rn_r"), col("na_b2"), col("z"))
  }

  /** Deterministic NULL imputation with provenance — the data-repair
    * step every feature pipeline runs before training, made
    * reproducible: numeric NULLs fill with the column's per-group EXACT
    * MEDIAN (the engine's rational-threshold quantile — smallest value
    * whose cumulative count covers half the group, so ties and even
    * counts resolve identically on every engine, never an interpolated
    * float), categorical NULLs with the per-group MODE (most frequent
    * value, ties → smallest — the deterministic argmax rule). A row
    * that received any fill lists the filled columns in `imputed_cols`
    * (declaration order, NULL when untouched) so downstream jobs can
    * weight or exclude repaired rows instead of mistaking them for
    * observations.
    *
    * Groups with NO observed values for a column keep their NULLs (no
    * global fallback smuggled in — silence is a data problem the
    * caller must see, not paper over).
    *
    * Shape at 100 TB: per column, one (group, value) aggregate with
    * map-side combine, collapsed to one fill row per group; the fill
    * frames are groups-scale and join back broadcast. The data is
    * scanned once for stats and once for the fill — no per-row
    * windows, no corpus shuffle. */
  def impute(df: DataFrame, groupCol: String,
             medianCols: Seq[String] = Nil,
             modeCols: Seq[String] = Nil): DataFrame = {
    val all = medianCols ++ modeCols
    require(all.nonEmpty, "at least one column to impute")
    require(all.distinct.size == all.size, s"duplicate impute columns in $all")
    require(!all.contains(groupCol), "cannot impute the group column")
    val medianFills = medianCols.map { c =>
      c -> Profile.quantilesFromCountsBy(
          Profile.quantilePartialBy(df, groupCol, c), Seq((1, 2)))
        .select(col("grp").as(groupCol),
          col("quantile_value").as(s"__fill_$c"))
    }
    val modeFills = modeCols.map { c =>
      c -> df.filter(col(c).isNotNull)
        .groupBy(col(groupCol), col(c))
        .agg(count(lit(1)).as("__cnt"))
        .groupBy(col(groupCol))
        .agg(min(struct((-col("__cnt")).as("nc"), col(c).as("v")))
          .getField("v").as(s"__fill_$c"))
    }
    val withFills = (medianFills ++ modeFills).foldLeft(df) {
      case (acc, (_, fills)) => acc.join(broadcast(fills), Seq(groupCol), "left")
    }
    val flagged = withFills.withColumn("imputed_cols",
      concat_ws(",", all.map(c =>
        when(col(c).isNull && col(s"__fill_$c").isNotNull, lit(c))): _*))
    val filled = all.foldLeft(flagged) { (acc, c) =>
      acc.withColumn(c, coalesce(col(c), col(s"__fill_$c")))
        .drop(s"__fill_$c")
    }
    filled.withColumn("imputed_cols",
      when(length(col("imputed_cols")) > 0, col("imputed_cols")))
  }

  /** Lower WEIGHTED median per group — [[moodMedian]]'s selection
    * generalized to weighted mass: the smallest lattice value whose
    * cumulative weight reaches half the total (`2·cum ≥ W`, the exact
    * integer predicate — no float quantile, no interpolation), which
    * is what robust aggregation over importance-weighted rows needs
    * (corpus quality weights, quantity-weighted prices). Runs on the
    * distinct-value lattice (RankStats doctrine): one hash aggregate
    * to (group, value, weight-sum) cells, one cumulative window over
    * values, one selection — never a raw-row global window. Values
    * and weights ride the cents lattice; NULL or negative weights
    * raise (silent zero would skew the mass); zero-total-weight
    * groups raise (no mass, no median). Output: (groupCols…,
    * median_cents, total_weight_cents, n_rows). */
  def weightedMedian(df: DataFrame, groupCols: Seq[String],
                     valueCol: String, weightCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(groupCols.nonEmpty, "groupCols required")
    val w = col(weightCol).cast("decimal(12,2)")
    val lat = df
      .filter(col(valueCol).isNotNull)
      .withColumn("__w",
        when(col(weightCol).isNull || w < 0, raise_error(lit(
          "weightedMedian: NULL or negative weight — weighted mass " +
            "needs non-negative weights")))
          .otherwise((w * 100).cast("long")))
      .groupBy(groupCols.map(col) :+
        (col(valueCol).cast("decimal(12,2)") * 100).cast("long")
          .as("__v"): _*)
      .agg(sum(col("__w")).cast("long").as("__wsum"),
        count(lit(1)).as("__n"))
    val wCum = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(col("__v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(groupCols.map(col): _*)
    lat
      .withColumn("__cum", sum(col("__wsum")).over(wCum).cast("long"))
      .withColumn("__tot", sum(col("__wsum")).over(wAll).cast("long"))
      .withColumn("__tot",
        when(col("__tot") <= 0, raise_error(lit(
          "weightedMedian: zero total weight in a group — no mass, " +
            "no median")))
          .otherwise(col("__tot")))
      .withColumn("__rows", sum(col("__n")).over(wAll).cast("long"))
      .filter(lit(2) * col("__cum") >= col("__tot"))
      .groupBy(groupCols.map(col): _*)
      .agg(min(col("__v")).as("median_cents"),
        max(col("__tot")).as("total_weight_cents"),
        max(col("__rows")).as("n_rows"))
  }
}
