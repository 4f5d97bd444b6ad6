package graft
package registry

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.ScalarFns._
import graft.operators.{Dedup, Layers}
import graft.llmdata.{DedupOps, Multimodal, Similarity, TextAnalysis}

import QuerySupport._

/** Round 6 onward: drift / quarantine / linkage / attribution / diff
  * operators and their successors, each beside its oracle SQL. */
private[graft] object Round6Queries {

  val all: Seq[Query] = Seq(
    // categorical distribution drift: order-priority mix, early years vs
    // 1998+ — per-category shares + chi-squared contributions
    Query("q192_categorical_drift", (s, d) => {
      val o = t(s, d, "orders")
      graft.checks.Drift.categoricalDrift(
        o.filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp_ntz")),
        o.filter(col("o_orderdate") >= lit("1998-01-01").cast("timestamp_ntz")),
        col("o_orderpriority"))
    },
      // full-outer category align + single-division share/chi2 trees (the
      // operator's exact IEEE expression trees, mirrored literally)
      """WITH r AS (SELECT o_orderpriority AS category, CAST(COUNT(*) AS BIGINT) AS ref_cnt
        |  FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01' GROUP BY 1),
        |c AS (SELECT o_orderpriority AS category, CAST(COUNT(*) AS BIGINT) AS cur_cnt
        |  FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01' GROUP BY 1),
        |j AS (SELECT COALESCE(r.category, c.category) AS category,
        |        COALESCE(ref_cnt, 0) AS ref_cnt, COALESCE(cur_cnt, 0) AS cur_cnt
        |      FROM r FULL OUTER JOIN c ON r.category = c.category),
        |tt AS (SELECT CAST(SUM(ref_cnt) AS BIGINT) AS ref_total,
        |              CAST(SUM(cur_cnt) AS BIGINT) AS cur_total FROM j)
        |SELECT category, ref_cnt, cur_cnt,
        |  CAST(ref_cnt AS DOUBLE) / CAST(ref_total AS DOUBLE) AS ref_share,
        |  CAST(cur_cnt AS DOUBLE) / CAST(cur_total AS DOUBLE) AS cur_share,
        |  CAST(cur_cnt AS DOUBLE) / CAST(cur_total AS DOUBLE)
        |    - CAST(ref_cnt AS DOUBLE) / CAST(ref_total AS DOUBLE) AS share_delta,
        |  CASE WHEN ref_cnt > 0 AND ref_total > 0 AND cur_total > 0 THEN
        |    (CAST(cur_cnt AS DOUBLE) - CAST(ref_cnt AS DOUBLE) * CAST(cur_total AS DOUBLE) / CAST(ref_total AS DOUBLE))
        |    * (CAST(cur_cnt AS DOUBLE) - CAST(ref_cnt AS DOUBLE) * CAST(cur_total AS DOUBLE) / CAST(ref_total AS DOUBLE))
        |    / (CAST(ref_cnt AS DOUBLE) * CAST(cur_total AS DOUBLE) / CAST(ref_total AS DOUBLE))
        |  END AS chi2_contribution
        |FROM j, tt""".stripMargin),

    // numeric drift via fixed-width bins on l_quantity (exact integer
    // binning chain; -1/nBins sentinel bins catch out-of-range)
    Query("q193_numeric_drift", (s, d) => {
      val li = t(s, d, "lineitem")
      graft.checks.Drift.numericDrift(
        li.filter(col("l_shipdate") < lit("1998-01-01").cast("timestamp_ntz")),
        li.filter(col("l_shipdate") >= lit("1998-01-01").cast("timestamp_ntz")),
        col("l_quantity"), lo = 0.0, width = 5.0, nBins = 10)
    },
      // same machinery over the exact floor((x-lo)/width) bin chain
      """WITH rb AS (SELECT CASE WHEN l_quantity IS NULL THEN NULL
        |    WHEN CAST(floor((CAST(l_quantity AS DOUBLE) - 0.0) / 5.0) AS BIGINT) < 0 THEN -1
        |    WHEN CAST(floor((CAST(l_quantity AS DOUBLE) - 0.0) / 5.0) AS BIGINT) >= 10 THEN 10
        |    ELSE CAST(floor((CAST(l_quantity AS DOUBLE) - 0.0) / 5.0) AS BIGINT) END AS bin
        |  FROM lineitem WHERE l_shipdate < TIMESTAMP '1998-01-01'),
        |cb AS (SELECT CASE WHEN l_quantity IS NULL THEN NULL
        |    WHEN CAST(floor((CAST(l_quantity AS DOUBLE) - 0.0) / 5.0) AS BIGINT) < 0 THEN -1
        |    WHEN CAST(floor((CAST(l_quantity AS DOUBLE) - 0.0) / 5.0) AS BIGINT) >= 10 THEN 10
        |    ELSE CAST(floor((CAST(l_quantity AS DOUBLE) - 0.0) / 5.0) AS BIGINT) END AS bin
        |  FROM lineitem WHERE l_shipdate >= TIMESTAMP '1998-01-01'),
        |r AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS ref_cnt FROM rb GROUP BY 1),
        |c AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS cur_cnt FROM cb GROUP BY 1),
        |j AS (SELECT COALESCE(r.bin, c.bin) AS bin,
        |        COALESCE(ref_cnt, 0) AS ref_cnt, COALESCE(cur_cnt, 0) AS cur_cnt
        |      FROM r FULL OUTER JOIN c ON r.bin IS NOT DISTINCT FROM c.bin),
        |tt AS (SELECT CAST(SUM(ref_cnt) AS BIGINT) AS ref_total,
        |              CAST(SUM(cur_cnt) AS BIGINT) AS cur_total FROM j)
        |SELECT bin, ref_cnt, cur_cnt,
        |  CAST(ref_cnt AS DOUBLE) / CAST(ref_total AS DOUBLE) AS ref_share,
        |  CAST(cur_cnt AS DOUBLE) / CAST(cur_total AS DOUBLE) AS cur_share,
        |  CAST(cur_cnt AS DOUBLE) / CAST(cur_total AS DOUBLE)
        |    - CAST(ref_cnt AS DOUBLE) / CAST(ref_total AS DOUBLE) AS share_delta,
        |  CASE WHEN ref_cnt > 0 AND ref_total > 0 AND cur_total > 0 THEN
        |    (CAST(cur_cnt AS DOUBLE) - CAST(ref_cnt AS DOUBLE) * CAST(cur_total AS DOUBLE) / CAST(ref_total AS DOUBLE))
        |    * (CAST(cur_cnt AS DOUBLE) - CAST(ref_cnt AS DOUBLE) * CAST(cur_total AS DOUBLE) / CAST(ref_total AS DOUBLE))
        |    / (CAST(ref_cnt AS DOUBLE) * CAST(cur_total AS DOUBLE) / CAST(ref_total AS DOUBLE))
        |  END AS chi2_contribution
        |FROM j, tt""".stripMargin),

    // scalar drift gate: total-variation distance of the event-type mix
    // across the month's halves. Compared columns are the EXACT integer
    // statistics only (numerator + totals); the derived tv_distance
    // double is dropped from the oracle comparison — its decimal->double
    // cast proved driver-red across DuckDB builds in r6 even when
    // locally bit-equal, and the caller derives it in one division.
    Query("q194_tv_distance", (s, d) => {
      val ev = t(s, d, "events")
      graft.checks.Drift.totalVariation(
        ev.filter(col("ts") < lit("2024-01-16").cast("timestamp_ntz")),
        ev.filter(col("ts") >= lit("2024-01-16").cast("timestamp_ntz")),
        col("event_type"))
        .drop("tv_distance")
    },
      // exact TV numerator: HUGEINT cross products internally, BIGINT
      // out; the derived double scalar is NOT compared
      """WITH r AS (SELECT event_type AS category, CAST(COUNT(*) AS BIGINT) AS ref_cnt
        |  FROM events WHERE ts < TIMESTAMP '2024-01-16' GROUP BY 1),
        |c AS (SELECT event_type AS category, CAST(COUNT(*) AS BIGINT) AS cur_cnt
        |  FROM events WHERE ts >= TIMESTAMP '2024-01-16' GROUP BY 1),
        |j AS (SELECT COALESCE(r.category, c.category) AS category,
        |        COALESCE(ref_cnt, 0) AS ref_cnt, COALESCE(cur_cnt, 0) AS cur_cnt
        |      FROM r FULL OUTER JOIN c ON r.category = c.category),
        |tt AS (SELECT CAST(SUM(ref_cnt) AS BIGINT) AS ref_total,
        |              CAST(SUM(cur_cnt) AS BIGINT) AS cur_total FROM j),
        |agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_categories,
        |  CAST(SUM(ABS(CAST(cur_cnt AS HUGEINT) * ref_total - CAST(ref_cnt AS HUGEINT) * cur_total)) AS BIGINT) AS tv_numerator,
        |  CAST(MAX(ref_total) AS BIGINT) AS ref_total,
        |  CAST(MAX(cur_total) AS BIGINT) AS cur_total
        |  FROM j, tt)
        |SELECT n_categories, tv_numerator, ref_total, cur_total
        |FROM agg""".stripMargin),

    // row-level dead-letter routing: every failing document with its
    // comma-joined reason list (declaration order)
    Query("q195_quarantine", (s, d) => {
      val docs = t(s, d, "documents")
      graft.checks.Quarantine.annotate(docs, Seq(
        "len_range" -> col("n_chars").between(100, 450),
        "lang_known" -> col("lang").isin("en", "de", "es", "fr"),
        "min_tokens" -> (size(split(trim(col("text")), "\\s+")) >= 30)))
        .filter(col("quarantine_reasons").isNotNull)
        .select(col("doc_id"), col("quarantine_reasons"))
    },
      // row-level reason routing: concat_ws skips NULL (passing) checks in
      // declaration order on both engines
      """SELECT doc_id, reasons AS quarantine_reasons FROM (
        |  SELECT doc_id, concat_ws(',',
        |    CASE WHEN NOT COALESCE(n_chars BETWEEN 100 AND 450, FALSE) THEN 'len_range' END,
        |    CASE WHEN NOT COALESCE(lang IN ('en', 'de', 'es', 'fr'), FALSE) THEN 'lang_known' END,
        |    CASE WHEN NOT COALESCE(len(regexp_split_to_array(trim(text), '\s+')) >= 30, FALSE) THEN 'min_tokens' END
        |  ) AS reasons FROM documents)
        |WHERE length(reasons) > 0""".stripMargin),

    // blocked record linkage: customers vs a deterministically dirtied
    // view of themselves (digit smudge / truncation), blocked on
    // (nation, segment), integer levenshtein-falloff scoring
    Query("q196_record_linkage", (s, d) => {
      val c = t(s, d, "customer")
      val dirty = c.select(
        col("c_custkey").as("d_id"), col("c_nationkey").as("d_nation"),
        when(col("c_custkey") % 3 === 0, regexp_replace(col("c_name"), "1", "l"))
          .when(col("c_custkey") % 3 === 1,
            expr("substr(c_name, 1, length(c_name) - 2)"))
          .otherwise(col("c_name")).as("d_name"),
        when(col("c_custkey") % 5 === 0, lit("UNKNOWN"))
          .otherwise(col("c_mktsegment")).as("d_seg"))
      graft.operators.Linkage.linkRecords(
        c, dirty,
        blockOn = Seq("c_nationkey" -> "d_nation", "c_mktsegment" -> "d_seg"),
        score = graft.operators.Linkage.levenshteinPoints(
          col("l.c_name"), col("r.d_name"), 10),
        select = Seq(col("l.c_custkey").as("left_id"), col("r.d_id").as("right_id")),
        matchAt = 10, possibleAt = 7)
    },
      // blocked linkage: levenshtein falloff scoring within
      // (nation, segment) blocks against the deterministically dirtied view
      """WITH dirty AS (SELECT c_custkey AS d_id, c_nationkey AS d_nation,
        |    CASE WHEN c_custkey % 3 = 0 THEN regexp_replace(c_name, '1', 'l', 'g')
        |         WHEN c_custkey % 3 = 1 THEN substr(c_name, 1, length(c_name) - 2)
        |         ELSE c_name END AS d_name,
        |    CASE WHEN c_custkey % 5 = 0 THEN 'UNKNOWN' ELSE c_mktsegment END AS d_seg
        |  FROM customer),
        |scored AS (SELECT l.c_custkey AS left_id, r.d_id AS right_id,
        |    CASE WHEN l.c_name IS NULL OR r.d_name IS NULL THEN 0
        |         ELSE greatest(0, 10 - levenshtein(l.c_name, r.d_name)) END AS score
        |  FROM customer l JOIN dirty r
        |    ON l.c_nationkey = r.d_nation AND l.c_mktsegment = r.d_seg)
        |SELECT left_id, right_id, score,
        |  CASE WHEN score >= 10 THEN 'match' ELSE 'possible' END AS tier
        |FROM scored WHERE score >= 7""".stripMargin),

    // linear multi-touch attribution: every in-window touch splits the
    // conversion's 1e6 micro-credits equally; remainder to the last
    // touch, so per-conversion credit is exactly 1e6 in any engine
    Query("q197_linear_attribution", (s, d) =>
      graft.operators.Attribution.channelCredit(
        graft.operators.Attribution.multiTouch(t(s, d, "events"),
          "user_id", "ts", "event_type", "event_id",
          touchTypes = Seq("view", "click"), conversionType = "purchase",
          lookbackSeconds = 7200L)),
      // exact micro-credit split: integer division, remainder to the last
      // touch (latest ts, largest id), organic fallback rows
      """WITH conv AS (SELECT user_id AS u, ts AS conv_ts, event_id AS conv_id
        |  FROM events WHERE event_type = 'purchase'),
        |tch AS (SELECT user_id, ts AS touch_ts, event_id AS touch_id,
        |    event_type AS channel FROM events WHERE event_type IN ('view', 'click')),
        |pairs AS (SELECT c.u, c.conv_ts, c.conv_id, t.touch_ts, t.touch_id, t.channel
        |  FROM conv c LEFT JOIN tch t ON c.u = t.user_id AND t.touch_ts <= c.conv_ts
        |    AND epoch_us(CAST(c.conv_ts AS TIMESTAMP)) - epoch_us(CAST(t.touch_ts AS TIMESTAMP)) <= 7200000000),
        |wtd AS (SELECT *, CASE WHEN touch_id IS NOT NULL THEN CAST(1 AS BIGINT) END AS weight FROM pairs),
        |b1 AS (SELECT *, SUM(weight) OVER (PARTITION BY conv_id) AS w_total FROM wtd),
        |b2 AS (SELECT *, (weight * 1000000) // w_total AS base,
        |    row_number() OVER (PARTITION BY conv_id ORDER BY touch_ts DESC, touch_id DESC) AS rn
        |  FROM b1),
        |b3 AS (SELECT *, SUM(base) OVER (PARTITION BY conv_id) AS base_total FROM b2),
        |cr AS (SELECT COALESCE(channel, 'organic') AS channel, touch_id, conv_id,
        |    CASE WHEN touch_id IS NULL THEN 1000000
        |         WHEN rn = 1 THEN base + (1000000 - base_total)
        |         ELSE base END AS credit_micro
        |  FROM b3),
        |agg AS (SELECT channel, CAST(COUNT(touch_id) AS BIGINT) AS n_touches,
        |    CAST(COUNT(DISTINCT conv_id) AS BIGINT) AS n_conversions,
        |    CAST(SUM(credit_micro) AS BIGINT) AS credit_micro
        |  FROM cr GROUP BY 1)
        |SELECT channel, n_touches, n_conversions, credit_micro,
        |  CAST(credit_micro AS DOUBLE) / 1000000.0 AS credit
        |FROM agg""".stripMargin),

    // time-decay multi-touch: staircase half-life weights (integer
    // shifts, q171 pattern) — recent touches out-earn older ones
    Query("q198_decay_attribution", (s, d) =>
      graft.operators.Attribution.channelCredit(
        graft.operators.Attribution.multiTouch(t(s, d, "events"),
          "user_id", "ts", "event_type", "event_id",
          touchTypes = Seq("view", "click"), conversionType = "purchase",
          lookbackSeconds = 7200L, halfLifeSeconds = Some(1800L),
          maxShift = 20)),
      // staircase half-life weights: exact 2^(20-steps) BIGINT shifts
      """WITH conv AS (SELECT user_id AS u, ts AS conv_ts, event_id AS conv_id
        |  FROM events WHERE event_type = 'purchase'),
        |tch AS (SELECT user_id, ts AS touch_ts, event_id AS touch_id,
        |    event_type AS channel FROM events WHERE event_type IN ('view', 'click')),
        |pairs AS (SELECT c.u, c.conv_ts, c.conv_id, t.touch_ts, t.touch_id, t.channel,
        |    epoch_us(CAST(c.conv_ts AS TIMESTAMP)) - epoch_us(CAST(t.touch_ts AS TIMESTAMP)) AS age_us
        |  FROM conv c LEFT JOIN tch t ON c.u = t.user_id AND t.touch_ts <= c.conv_ts
        |    AND epoch_us(CAST(c.conv_ts AS TIMESTAMP)) - epoch_us(CAST(t.touch_ts AS TIMESTAMP)) <= 7200000000),
        |wtd AS (SELECT *, CASE WHEN touch_id IS NOT NULL THEN
        |    CAST(1 AS BIGINT) << CAST(20 - least(age_us // 1800000000, 20) AS INT) END AS weight
        |  FROM pairs),
        |b1 AS (SELECT *, SUM(weight) OVER (PARTITION BY conv_id) AS w_total FROM wtd),
        |b2 AS (SELECT *, (weight * 1000000) // w_total AS base,
        |    row_number() OVER (PARTITION BY conv_id ORDER BY touch_ts DESC, touch_id DESC) AS rn
        |  FROM b1),
        |b3 AS (SELECT *, SUM(base) OVER (PARTITION BY conv_id) AS base_total FROM b2),
        |cr AS (SELECT COALESCE(channel, 'organic') AS channel, touch_id, conv_id,
        |    CASE WHEN touch_id IS NULL THEN 1000000
        |         WHEN rn = 1 THEN base + (1000000 - base_total)
        |         ELSE base END AS credit_micro
        |  FROM b3),
        |agg AS (SELECT channel, CAST(COUNT(touch_id) AS BIGINT) AS n_touches,
        |    CAST(COUNT(DISTINCT conv_id) AS BIGINT) AS n_conversions,
        |    CAST(SUM(credit_micro) AS BIGINT) AS credit_micro
        |  FROM cr GROUP BY 1)
        |SELECT channel, n_touches, n_conversions, credit_micro,
        |  CAST(credit_micro AS DOUBLE) / 1000000.0 AS credit
        |FROM agg""".stripMargin),

    // keyed snapshot diff: orders vs a derived "next load" (drops,
    // reclassifications, price bumps, synthetic inserts) — added /
    // removed / changed with per-row changed-column lists
    Query("q199_table_diff", (s, d) => {
      val o = t(s, d, "orders")
      val next = o.filter(col("o_orderkey") % 89 =!= 0)
        .withColumn("o_orderpriority",
          when(col("o_orderkey") % 97 === 0, lit("9-RECLASSIFIED"))
            .otherwise(col("o_orderpriority")))
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 101 === 0, col("o_totalprice") + lit(1.0))
            .otherwise(col("o_totalprice")))
        .unionByName(o.filter(col("o_orderkey") % 103 === 0 && col("o_orderkey") > 0)
          .withColumn("o_orderkey", -col("o_orderkey")))
      graft.operators.Diff.tableDiff(o, next, Seq("o_orderkey"))
    },
      // full-outer key align; null-safe per-column compares in declared
      // order; unchanged rows dropped
      """WITH nxt AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 101 = 0 THEN o_totalprice + 1.0 ELSE o_totalprice END AS o_totalprice,
        |    o_orderdate,
        |    CASE WHEN o_orderkey % 97 = 0 THEN '9-RECLASSIFIED' ELSE o_orderpriority END AS o_orderpriority
        |  FROM orders WHERE o_orderkey % 89 <> 0
        |  UNION ALL
        |  SELECT -o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 103 = 0 AND o_orderkey > 0),
        |j AS (SELECT o.o_orderkey AS ok, n.o_orderkey AS nk,
        |    concat_ws(',',
        |      CASE WHEN NOT (o.o_custkey IS NOT DISTINCT FROM n.o_custkey) THEN 'o_custkey' END,
        |      CASE WHEN NOT (o.o_orderstatus IS NOT DISTINCT FROM n.o_orderstatus) THEN 'o_orderstatus' END,
        |      CASE WHEN NOT (o.o_totalprice IS NOT DISTINCT FROM n.o_totalprice) THEN 'o_totalprice' END,
        |      CASE WHEN NOT (o.o_orderdate IS NOT DISTINCT FROM n.o_orderdate) THEN 'o_orderdate' END,
        |      CASE WHEN NOT (o.o_orderpriority IS NOT DISTINCT FROM n.o_orderpriority) THEN 'o_orderpriority' END
        |    ) AS chg
        |  FROM orders o FULL OUTER JOIN nxt n ON o.o_orderkey IS NOT DISTINCT FROM n.o_orderkey)
        |SELECT COALESCE(nk, ok) AS o_orderkey,
        |  CASE WHEN ok IS NULL THEN 'added'
        |       WHEN nk IS NULL THEN 'removed'
        |       WHEN length(chg) > 0 THEN 'changed' END AS diff_status,
        |  CASE WHEN ok IS NOT NULL AND nk IS NOT NULL AND length(chg) > 0 THEN chg END AS changed_cols
        |FROM j
        |WHERE ok IS NULL OR nk IS NULL OR length(chg) > 0""".stripMargin),

    // sequential pattern support: ordered "a … then eventually b" type
    // pairs per gap-session (first-occurrence-before-last-occurrence)
    Query("q200_seq_patterns", (s, d) =>
      graft.operators.Patterns.sequencePairSupport(t(s, d, "events"),
        "user_id", "ts", "event_id", "event_type", gapSeconds = 1800L),
      // q87's session CTEs; per-(session, type) first/last occurrence rows
      // pair-joined with the lexicographic (ts, id) precedence test
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    CAST(ts AS TIMESTAMP) AS ts FROM events),
        |b AS (SELECT user_id, event_id, event_type, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |      THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
        |sess AS (SELECT user_id, event_id, event_type, ts,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |      ROWS UNBOUNDED PRECEDING) AS session_index
        |  FROM b),
        |sp AS (SELECT user_id, session_index, event_type AS t,
        |    min(row(ts, event_id)) AS f, max(row(ts, event_id)) AS l
        |  FROM sess GROUP BY 1, 2, 3),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions
        |  FROM (SELECT DISTINCT user_id, session_index FROM sess)),
        |p AS (SELECT a.t AS type_a, b.t AS type_b, CAST(COUNT(*) AS BIGINT) AS n_ab
        |  FROM sp a JOIN sp b ON a.user_id = b.user_id
        |    AND a.session_index = b.session_index AND a.t <> b.t AND a.f < b.l
        |  GROUP BY 1, 2)
        |SELECT type_a, type_b, n_ab, n_sessions,
        |  CAST(n_ab AS DOUBLE) / CAST(n_sessions AS DOUBLE) AS support
        |FROM p, tot""".stripMargin),

    // measured LSH recall vs the exact pair set, per jaccard decile —
    // the bands×rows calibration readout. Calibration is a SAMPLE-scale
    // tool by contract (run on a slice, pick parameters, dedup the full
    // corpus with the winner), so the query runs on a deterministic
    // 30% hash sample — the operator's documented shape, and it keeps
    // the doubled generator cost (exact + LSH, both on the same slice)
    // off the bench's critical path (15.7 s full-corpus at sf0.1; the
    // exact low-threshold ground truth is the inherently fat half on
    // this small-vocab corpus — see the q34 operating-point note).
    Query("q201_lsh_recall", (s, d) =>
      graft.llmdata.DedupOps.lshRecallReport(
        t(s, d, "documents")
          .filter(graft.llmdata.Sampling.hashFraction(col("doc_id")) < 0.3),
        "doc_id", "text", shingleSize = 3, bands = 4, rows = 4,
        tNum = 1, tDen = 2), {
      // exact pair set from the q127 inverted-index CTEs at 1/2; LSH side
      // from the q34 MinHash CTEs at the same threshold; per-decile recall
      val toks = "regexp_split_to_array(trim(lower(text)), '\\s+')"
      // q61's md5-fraction sample predicate, shared by BOTH generators
      val sampleSlice = "WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) / 4294967296.0 < 0.3"
      s"""WITH ${minhashPairsCtesWhere(sampleSlice, "0.5")},
         |tok AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |      generate_series(1, len($toks) - 2),
         |      i -> $toks[i] || ' ' || $toks[i+1] || ' ' || $toks[i+2]))) AS s
         |  FROM documents ${sampleSlice} AND length(trim(text)) > 0),
         |sizes AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY 1),
         |inter AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS o
         |  FROM tok a JOIN tok b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |ex AS (SELECT id_a, id_b, CAST(o AS BIGINT) AS overlap,
         |    CAST(sa.n + sb.n - o AS BIGINT) AS union_size
         |  FROM inter
         |  JOIN sizes sa ON sa.doc_id = id_a
         |  JOIN sizes sb ON sb.doc_id = id_b
         |  WHERE 2 * o >= 1 * (sa.n + sb.n - o)),
         |fl AS (SELECT ex.overlap, ex.union_size,
         |    CASE WHEN mp.id_a IS NOT NULL THEN 1 ELSE 0 END AS f
         |  FROM ex LEFT JOIN mh_pairs mp ON ex.id_a = mp.id_a AND ex.id_b = mp.id_b),
         |agg AS (SELECT (10 * overlap) // union_size AS j_bucket,
         |    CAST(COUNT(*) AS BIGINT) AS n_exact,
         |    CAST(SUM(f) AS BIGINT) AS n_found
         |  FROM fl GROUP BY 1)
         |SELECT j_bucket, n_exact, n_found,
         |  CAST(n_found AS DOUBLE) / CAST(n_exact AS DOUBLE) AS recall
         |FROM agg""".stripMargin
    }),

    // functional-dependency discovery on orders: which columns determine
    // which (key → attrs hold; custkey → priority must not)
    Query("q202_fd_check", (s, d) =>
      graft.operators.Profile.functionalDependencies(t(s, d, "orders"), Seq(
        "o_orderkey" -> "o_custkey",
        "o_orderkey" -> "o_orderdate",
        "o_custkey" -> "o_orderpriority",
        "o_orderpriority" -> "o_orderstatus")), {
      // per-pair branch counts (NULL counts as one extra value), unioned
      def one(det: String, dep: String) =
        s"""SELECT '$det' AS determinant, '$dep' AS dependent,
           |  CAST(COUNT(*) AS BIGINT) AS n_keys,
           |  CAST(COALESCE(SUM(CASE WHEN branch > 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_violating_keys,
           |  CAST(MAX(branch) AS BIGINT) AS max_branching,
           |  COALESCE(SUM(CASE WHEN branch > 1 THEN 1 ELSE 0 END), 0) = 0 AS holds
           |FROM (SELECT $det AS k,
           |    COUNT(DISTINCT $dep) + MAX(CASE WHEN $dep IS NULL THEN 1 ELSE 0 END) AS branch
           |  FROM orders WHERE $det IS NOT NULL GROUP BY 1)""".stripMargin
      Seq("o_orderkey" -> "o_custkey", "o_orderkey" -> "o_orderdate",
        "o_custkey" -> "o_orderpriority", "o_orderpriority" -> "o_orderstatus")
        .map { case (a, b) => one(a, b) }.mkString("\nUNION ALL\n")
    }),

    // semi-structured profiling of the event props JSON payload: key
    // presence, distinct values, scalar class
    Query("q203_json_profile", (s, d) =>
      graft.operators.Profile.jsonKeyProfile(t(s, d, "events"), "props"),
      // key unnest + scalar-class regexes (identical patterns both engines)
      """WITH t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM events),
        |kv AS (SELECT unnest(json_keys(props)) AS key, props FROM events),
        |v AS (SELECT key, json_extract_string(props, '$.' || key) AS val FROM kv),
        |c AS (SELECT key, val, CASE WHEN val IS NULL THEN 'null'
        |    WHEN regexp_matches(val, '^-?[0-9]+$') THEN 'integer'
        |    WHEN regexp_matches(val, '^-?[0-9]+\.[0-9]+([eE][+-]?[0-9]+)?$') THEN 'number'
        |    WHEN val IN ('true', 'false') THEN 'boolean'
        |    ELSE 'string' END AS cls FROM v),
        |g AS (SELECT key, CAST(COUNT(*) AS BIGINT) AS n_present,
        |    CAST(COUNT(DISTINCT val) AS BIGINT) AS n_distinct_values,
        |    min(cls) AS cmin, max(cls) AS cmax FROM c GROUP BY 1)
        |SELECT key, n_present, n_rows,
        |  CAST(n_present AS DOUBLE) / CAST(n_rows AS DOUBLE) AS present_frac,
        |  n_distinct_values,
        |  CASE WHEN cmin = cmax THEN cmin ELSE 'mixed' END AS value_class
        |FROM g, t""".stripMargin),

    // per-source rank normalization of document lengths: within-group
    // quantile position pos/(n+1) — cross-source score calibration
    Query("q204_rank_normalize", (s, d) =>
      graft.llmdata.Sampling.quantileNormalize(t(s, d, "documents"),
        "doc_id", "source", "n_chars")
        .select(col("doc_id"), col("source"), col("n_chars"),
          col("pos"), col("n"), col("quantile")),
      // within-group total-order position / (n+1): one exact division
      """SELECT doc_id, source, n_chars, pos, n,
        |  CAST(pos AS DOUBLE) / CAST(n + 1 AS DOUBLE) AS quantile
        |FROM (SELECT doc_id, source, n_chars,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars ASC, doc_id ASC) AS BIGINT) AS pos,
        |    CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n
        |  FROM documents)""".stripMargin),

    // next-event prediction eval: first-order Markov model trained on
    // the month's first half, top-1 accuracy scored on the second
    Query("q205_markov_eval", (s, d) => {
      val ev = t(s, d, "events")
      graft.operators.Patterns.markovEval(
        ev.filter(col("ts") < lit("2024-01-16").cast("timestamp_ntz")),
        ev.filter(col("ts") >= lit("2024-01-16").cast("timestamp_ntz")),
        "user_id", "ts", "event_type", gapSeconds = 1800L,
        tieBreakCol = "event_id")
    },
      // train-slice transition argmax (ties: smallest to_type) scored on
      // the eval slice's session-bounded next events
      """WITH et AS (SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts
        |  FROM events WHERE ts < TIMESTAMP '2024-01-16'),
        |bt AS (SELECT user_id, event_id, event_type, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |      THEN 1 ELSE 0 END AS brk
        |  FROM et WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
        |st AS (SELECT user_id, event_id, event_type, ts,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |      ROWS UNBOUNDED PRECEDING) AS session_index
        |  FROM bt),
        |tr AS (SELECT event_type AS from_type, lead(event_type) OVER w AS to_type
        |  FROM st WINDOW w AS (PARTITION BY user_id, session_index
        |    ORDER BY ts ASC, event_id ASC)),
        |m AS (SELECT from_type, to_type, COUNT(*) AS n FROM tr
        |  WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |best AS (SELECT from_type, to_type AS predicted_to FROM (
        |    SELECT *, row_number() OVER (PARTITION BY from_type
        |      ORDER BY n DESC, to_type ASC) AS rn FROM m) WHERE rn = 1),
        |ee AS (SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts
        |  FROM events WHERE ts >= TIMESTAMP '2024-01-16'),
        |be AS (SELECT user_id, event_id, event_type, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |      THEN 1 ELSE 0 END AS brk
        |  FROM ee WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
        |se AS (SELECT user_id, event_id, event_type, ts,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |      ROWS UNBOUNDED PRECEDING) AS session_index
        |  FROM be),
        |evp AS (SELECT event_type AS from_type, lead(event_type) OVER w AS actual_to
        |  FROM se WINDOW w AS (PARTITION BY user_id, session_index
        |    ORDER BY ts ASC, event_id ASC)),
        |agg AS (SELECT from_type, max(predicted_to) AS predicted_to,
        |    CAST(COUNT(*) AS BIGINT) AS n_transitions,
        |    CAST(COALESCE(SUM(CASE WHEN actual_to = predicted_to THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_hits
        |  FROM evp LEFT JOIN best USING (from_type)
        |  WHERE actual_to IS NOT NULL GROUP BY 1)
        |SELECT from_type, predicted_to, n_transitions, n_hits,
        |  CAST(n_hits AS DOUBLE) / CAST(n_transitions AS DOUBLE) AS accuracy
        |FROM agg""".stripMargin),

    // burst detection: hourly event counts vs their trailing-24h
    // baseline, exact integer cross-multiplied threshold (2x)
    Query("q206_bursts", (s, d) =>
      graft.operators.Timeseries.burstDetect(t(s, d, "events"), "ts",
        bucketSeconds = 3600L, trailingN = 24, factorNum = 2L,
        factorDen = 1L),
      // gap-filled hourly buckets; trailing-24 window; exact integer
      // cross-multiplied burst test
      """WITH c AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS b,
        |    CAST(COUNT(*) AS BIGINT) AS cnt FROM events GROUP BY 1),
        |r AS (SELECT unnest(generate_series(mn, mx)) AS b
        |  FROM (SELECT min(b) AS mn, max(b) AS mx FROM c)),
        |f AS (SELECT r.b, COALESCE(cnt, 0) AS cnt FROM r LEFT JOIN c USING (b)),
        |w AS (SELECT b, cnt,
        |    CAST(COALESCE(SUM(cnt) OVER win, 0) AS BIGINT) AS baseline_sum,
        |    CAST(COUNT(*) OVER win AS BIGINT) AS n_prev
        |  FROM f WINDOW win AS (ORDER BY b ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
        |SELECT b AS bucket_id, make_timestamp(b * 3600000000) AS bucket_start,
        |  cnt, baseline_sum, n_prev,
        |  CASE WHEN baseline_sum > 0 THEN
        |    CAST(cnt * n_prev AS DOUBLE) / CAST(baseline_sum AS DOUBLE) END AS ratio,
        |  (n_prev > 0 AND baseline_sum >= 0
        |    AND cnt * n_prev * 1 >= 2 * baseline_sum AND cnt > 0) AS is_burst
        |FROM w""".stripMargin),

    // first-significant-digit (Benford) profile of order totals:
    // fixed-format digit extraction, literal log10 expectations
    Query("q207_benford", (s, d) =>
      graft.checks.Drift.benfordProfile(t(s, d, "orders"),
        col("o_totalprice")),
      // printf-bridge digit extraction; literal Benford expectations
      // (log10 is libm — never evaluated in-engine)
      """WITH f AS (SELECT substr(regexp_replace(
        |      printf('%.6f', abs(CAST(o_totalprice AS DOUBLE))),
        |      '[^1-9]', '', 'g'), 1, 1) AS digit
        |  FROM orders WHERE o_totalprice IS NOT NULL AND o_totalprice > 0),
        |cnt AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM f
        |  WHERE length(digit) > 0 GROUP BY 1),
        |e AS (SELECT digit, CAST(expected_share AS DOUBLE) AS expected_share
        |  FROM (VALUES
        |  ('1', 0.301030), ('2', 0.176091), ('3', 0.124939),
        |  ('4', 0.096910), ('5', 0.079181), ('6', 0.066947),
        |  ('7', 0.057992), ('8', 0.051153), ('9', 0.045757))
        |  t(digit, expected_share)),
        |tt AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM cnt)
        |SELECT e.digit, COALESCE(n, 0) AS n, total,
        |  CAST(COALESCE(n, 0) AS DOUBLE) / CAST(total AS DOUBLE) AS share,
        |  expected_share,
        |  CAST(COALESCE(n, 0) AS DOUBLE) / CAST(total AS DOUBLE)
        |    - expected_share AS delta,
        |  (CAST(COALESCE(n, 0) AS DOUBLE) - expected_share * CAST(total AS DOUBLE))
        |    * (CAST(COALESCE(n, 0) AS DOUBLE) - expected_share * CAST(total AS DOUBLE))
        |    / (expected_share * CAST(total AS DOUBLE)) AS chi2_contribution
        |FROM e LEFT JOIN cnt USING (digit), tt""".stripMargin),

    // process conformance: observed session transitions judged against
    // the intended event state machine
    Query("q208_conformance", (s, d) =>
      graft.operators.Patterns.conformanceReport(t(s, d, "events"),
        "user_id", "ts", "event_type", gapSeconds = 1800L,
        tieBreakCol = "event_id",
        allowed = Seq("view" -> "view", "view" -> "click",
          "click" -> "purchase", "click" -> "click", "signup" -> "view")),
      // q87 session CTEs + transition counts, judged against the VALUES
      // whitelist
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    CAST(ts AS TIMESTAMP) AS ts FROM events),
        |b AS (SELECT user_id, event_id, event_type, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |      THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
        |sess AS (SELECT user_id, event_id, event_type, ts,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |      ROWS UNBOUNDED PRECEDING) AS session_index
        |  FROM b),
        |tr AS (SELECT event_type AS from_type, lead(event_type) OVER w AS to_type
        |  FROM sess WINDOW w AS (PARTITION BY user_id, session_index
        |    ORDER BY ts ASC, event_id ASC)),
        |m AS (SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM tr WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |a AS (SELECT * FROM (VALUES
        |  ('view', 'view'), ('view', 'click'), ('click', 'purchase'),
        |  ('click', 'click'), ('signup', 'view')) t(from_type, to_type))
        |SELECT m.from_type, m.to_type, m.n,
        |  a.from_type IS NOT NULL AS is_allowed
        |FROM m LEFT JOIN a ON m.from_type = a.from_type AND m.to_type = a.to_type""".stripMargin),

    // value-set overlap: FK discovery between customer and orders keys
    Query("q209_column_overlap", (s, d) =>
      graft.operators.Profile.columnOverlap(
        t(s, d, "customer"), "c_custkey", t(s, d, "orders"), "o_custkey"),
      // distinct value sets, one intersection join, three scalar counts
      """WITH a AS (SELECT DISTINCT CAST(c_custkey AS VARCHAR) AS v
        |  FROM customer WHERE c_custkey IS NOT NULL),
        |b AS (SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS v
        |  FROM orders WHERE o_custkey IS NOT NULL),
        |na AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_a FROM a),
        |nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_b FROM b),
        |nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_common FROM a JOIN b USING (v))
        |SELECT 'c_custkey' AS column_a, 'o_custkey' AS column_b,
        |  n_a, n_b, n_common,
        |  CAST(n_common AS DOUBLE) / CAST(n_a + n_b - n_common AS DOUBLE) AS jaccard,
        |  CAST(n_common AS DOUBLE) / CAST(n_a AS DOUBLE) AS containment_a,
        |  CAST(n_common AS DOUBLE) / CAST(n_b AS DOUBLE) AS containment_b
        |FROM na, nb, nc""".stripMargin),

    // candidate-key discovery on lineitem column combos
    Query("q210_key_candidates", (s, d) =>
      graft.operators.Profile.keyCandidates(t(s, d, "lineitem"), Seq(
        Seq("l_orderkey"),
        Seq("l_orderkey", "l_linenumber"),
        Seq("l_partkey", "l_suppkey"))), {
      // per-combo distinct-row counts (ROW() so NULL combos count as
      // values), NULL presence disqualifies is_key
      def one(cols: Seq[String]) = {
        val row = cols.mkString("ROW(", ", ", ")")
        val anyNull = cols.map(c => s"$c IS NULL").mkString(" OR ")
        s"""SELECT '${cols.mkString(",")}' AS columns,
           |  CAST(COUNT(*) AS BIGINT) AS n_rows,
           |  CAST(COUNT(DISTINCT $row) AS BIGINT) AS n_distinct,
           |  CAST(COALESCE(SUM(CASE WHEN $anyNull THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_null_rows,
           |  CAST(COUNT(DISTINCT $row) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS uniqueness,
           |  (COUNT(DISTINCT $row) = COUNT(*)
           |    AND COALESCE(SUM(CASE WHEN $anyNull THEN 1 ELSE 0 END), 0) = 0) AS is_key
           |FROM lineitem""".stripMargin
      }
      Seq(Seq("l_orderkey"), Seq("l_orderkey", "l_linenumber"),
        Seq("l_partkey", "l_suppkey")).map(one).mkString("\nUNION ALL\n")
    }),

    // per-node triangles / degree / clustering coefficient of the
    // co-purchase graph (q189's edge set) — ordered 3-way join, each
    // triangle found exactly once
    Query("q211_triangle_stats", (s, d) => {
      val li = t(s, d, "lineitem").filter(col("l_quantity") >= 48)
        .select(col("l_orderkey"), col("l_partkey"))
      val edges = li.as("a").join(li.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey")
            && col("a.l_partkey") < col("b.l_partkey"))
        .select(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"))
        .distinct()
      graft.operators.Graph.triangleStats(edges, "src", "dst")
    },
      // canonical undirected edges; ordered (a<b<c) 3-way join counts each
      // triangle once; corners explode into per-node counts
      """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem WHERE l_quantity >= 48),
        |e0 AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey < b.l_partkey),
        |e AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |  FROM e0 WHERE least(src, dst) < greatest(src, dst)),
        |deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS degree
        |  FROM (SELECT a AS node FROM e UNION ALL SELECT b AS node FROM e)
        |  GROUP BY 1),
        |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM e e1 JOIN e e2 ON e1.b = e2.a
        |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        |pn AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
        |  FROM (SELECT x AS node FROM tri UNION ALL SELECT y AS node FROM tri
        |        UNION ALL SELECT z AS node FROM tri) GROUP BY 1)
        |SELECT deg.node, deg.degree, COALESCE(n_triangles, 0) AS n_triangles,
        |  CASE WHEN degree >= 2 THEN
        |    CAST(2 * COALESCE(n_triangles, 0) AS DOUBLE)
        |      / CAST(degree * (degree - 1) AS DOUBLE) END AS clustering_coeff
        |FROM deg LEFT JOIN pn USING (node)""".stripMargin),

    // per-event-type dwell times within gap-sessions (exact integer
    // micros; session-final events excluded as right-censored)
    Query("q212_dwell_times", (s, d) =>
      graft.operators.Sessionize.dwellTimes(t(s, d, "events"),
        "user_id", "ts", "event_type", gapSeconds = 1800L,
        tieBreakCol = "event_id"),
      // q87 session CTEs; dwell = lead(epoch) - epoch within the session
      // order; final events censored out
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    CAST(ts AS TIMESTAMP) AS ts FROM events),
        |b AS (SELECT user_id, event_id, event_type, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |      THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
        |sess AS (SELECT user_id, event_id, event_type, ts,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |      ROWS UNBOUNDED PRECEDING) AS session_index
        |  FROM b),
        |d AS (SELECT event_type,
        |    lead(epoch_us(ts)) OVER w - epoch_us(ts) AS dwell_us
        |  FROM sess WINDOW w AS (PARTITION BY user_id, session_index
        |    ORDER BY ts ASC, event_id ASC)),
        |agg AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
        |    CAST(SUM(dwell_us) AS BIGINT) AS total_dwell_us,
        |    CAST(MAX(dwell_us) AS BIGINT) AS max_dwell_us
        |  FROM d WHERE dwell_us IS NOT NULL GROUP BY 1)
        |SELECT event_type, n_events, total_dwell_us, max_dwell_us,
        |  CAST(total_dwell_us AS DOUBLE)
        |    / CAST(n_events * 1000000 AS DOUBLE) AS mean_dwell_s
        |FROM agg""".stripMargin),

    // A/B conversion chi-squared (2x2, libm-free z^2) over a
    // deterministic user-parity variant assignment
    Query("q213_ab_test", (s, d) => {
      val units = t(s, d, "events").groupBy(col("user_id"))
        .agg(max((col("event_type") === "purchase").cast("int"))
          .as("converted"))
        .withColumn("variant", (col("user_id") % 2).cast("int"))
      graft.operators.Robust.abChiSquare(units, "variant", "converted")
    },
      // 2x2 chi-squared from exact counts; every double is cast from an
      // integer, every op is one exact-rounded IEEE step
      """WITH u AS (SELECT user_id,
        |    CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS INT)
        |      AS converted
        |  FROM events GROUP BY 1),
        |v AS (SELECT CAST(user_id % 2 AS INT) AS variant, converted FROM u),
        |agg AS (SELECT variant, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(converted AS BIGINT)) AS BIGINT) AS conv
        |  FROM v GROUP BY 1),
        |p AS (SELECT x.variant AS variant_a, y.variant AS variant_b,
        |    x.n AS n_a, x.conv AS conv_a, y.n AS n_b, y.conv AS conv_b
        |  FROM agg x JOIN agg y ON x.variant < y.variant)
        |SELECT variant_a, variant_b, n_a, conv_a, n_b, conv_b,
        |  CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS rate_a,
        |  CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS rate_b,
        |  CASE WHEN conv_a + conv_b > 0
        |      AND (n_a - conv_a) + (n_b - conv_b) > 0 THEN
        |    CAST(n_a + n_b AS DOUBLE)
        |      * (CAST(conv_a AS DOUBLE) * CAST(n_b - conv_b AS DOUBLE)
        |         - CAST(n_a - conv_a AS DOUBLE) * CAST(conv_b AS DOUBLE))
        |      * (CAST(conv_a AS DOUBLE) * CAST(n_b - conv_b AS DOUBLE)
        |         - CAST(n_a - conv_a AS DOUBLE) * CAST(conv_b AS DOUBLE))
        |      / ((CAST(conv_a AS DOUBLE) + CAST(n_a - conv_a AS DOUBLE))
        |         * (CAST(conv_b AS DOUBLE) + CAST(n_b - conv_b AS DOUBLE))
        |         * (CAST(conv_a AS DOUBLE) + CAST(conv_b AS DOUBLE))
        |         * (CAST(n_a - conv_a AS DOUBLE) + CAST(n_b - conv_b AS DOUBLE)))
        |  END AS chi2
        |FROM p""".stripMargin),

    // cross-table reconciliation: order headers vs the decimal-exact
    // sum of their line revenues, per-key status. Inputs are cast to
    // their true 2-dp decimal grid BEFORE the arithmetic (tie-free
    // double->decimal: the data sits exactly on the grid), so the
    // product is exact decimal end-to-end. COMPARED columns are
    // micro-unit BIGINTs — the decimal class itself proved driver-red
    // in r7 (NOTES.md: no DecimalType in oracle-compared output; the
    // 6-dp totals are integral in micro units, ≤ ~6e11 « BIGINT max).
    Query("q214_reconciliation", (s, d) => {
      def micro(c: Column) = (c * 1000000L).cast("long")
      graft.checks.Reconcile.reconcile(
        t(s, d, "orders"), "o_orderkey", col("o_totalprice"),
        t(s, d, "lineitem"), "l_orderkey",
        col("l_extendedprice").cast("decimal(12,2)")
          * (lit(BigDecimal(1)).cast("decimal(3,2)")
            - col("l_discount").cast("decimal(3,2)"))
          * (lit(BigDecimal(1)).cast("decimal(3,2)")
            + col("l_tax").cast("decimal(3,2)")),
        tolerance = BigDecimal(1000))
        .select(col("key"),
          micro(col("declared_total")).as("declared_micro"),
          micro(col("computed_total")).as("computed_micro"),
          micro(col("diff")).as("diff_micro"), col("status"))
    },
      // decimal-exact child rollup vs declared header total; USING-style
      // coalesced key; tolerance compare in decimal space. Inputs cast to
      // the 2-dp grid BEFORE multiplying (tie-free, engine-identical) so
      // the whole product is exact decimal — no double->decimal rounding
      // of a computed value anywhere.
      """WITH p AS (SELECT o_orderkey AS key,
        |    CAST(CAST(o_totalprice AS DECIMAL(20,6)) AS DECIMAL(38,6)) AS declared_total
        |  FROM orders),
        |c AS (SELECT l_orderkey AS key,
        |    CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
        |      * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))
        |      * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(3,2)))
        |      AS DECIMAL(20,6))) AS DECIMAL(38,6)) AS computed_total
        |  FROM lineitem GROUP BY 1)
        |SELECT COALESCE(p.key, c.key) AS key,
        |  CAST(declared_total * 1000000 AS BIGINT) AS declared_micro,
        |  CAST(computed_total * 1000000 AS BIGINT) AS computed_micro,
        |  CAST((declared_total - computed_total) * 1000000 AS BIGINT) AS diff_micro,
        |  CASE WHEN declared_total IS NULL THEN 'missing_parent'
        |       WHEN computed_total IS NULL THEN 'missing_children'
        |       WHEN abs(declared_total - computed_total) <= 1000 THEN 'matched'
        |       ELSE 'mismatch' END AS status
        |FROM p FULL OUTER JOIN c ON p.key = c.key""".stripMargin),

    // daily growth accounting: DAU decomposed into new / retained /
    // resurrected, churn attributed to the day after last activity
    Query("q215_growth_accounting", (s, d) =>
      graft.operators.Retention.growthAccounting(t(s, d, "events"),
        "user_id", "ts"),
      // per-user active-day lag/lead classification; churn lands on
      // day + 1; full-outer day align
      """WITH pd AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |w AS (SELECT user_id, day,
        |    lag(day) OVER (PARTITION BY user_id ORDER BY day) AS prev,
        |    lead(day) OVER (PARTITION BY user_id ORDER BY day) AS nxt
        |  FROM pd),
        |cls AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS dau,
        |    CAST(SUM(CASE WHEN prev IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
        |    CAST(SUM(CASE WHEN prev IS NOT NULL AND prev = day - 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
        |    CAST(SUM(CASE WHEN prev IS NOT NULL AND prev < day - 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
        |  FROM w GROUP BY 1),
        |ch AS (SELECT day + 1 AS day, CAST(COUNT(*) AS BIGINT) AS n_churned
        |  FROM w WHERE nxt IS NULL OR nxt <> day + 1 GROUP BY 1)
        |SELECT COALESCE(cls.day, ch.day) AS day,
        |  COALESCE(dau, 0) AS dau, COALESCE(n_new, 0) AS n_new,
        |  COALESCE(n_retained, 0) AS n_retained,
        |  COALESCE(n_resurrected, 0) AS n_resurrected,
        |  COALESCE(n_churned, 0) AS n_churned
        |FROM cls FULL OUTER JOIN ch ON cls.day = ch.day""".stripMargin),

    // token-mass-weighted document-length quantiles (the curation
    // question: where does the token budget actually sit)
    Query("q216_weighted_quantiles", (s, d) => {
      val docs = t(s, d, "documents")
        .withColumn("__tok", size(split(trim(col("text")), "\\s+")).cast("long"))
      graft.operators.Profile.quantilesFromCounts(
        graft.operators.Profile.weightedQuantilePartial(docs, "n_chars", "__tok"),
        Seq((1, 4), (1, 2), (9, 10)))
    },
      // q191's rational-threshold cumsum over token-weighted counts
      """WITH c AS (SELECT CAST(n_chars AS BIGINT) AS value,
        |    CAST(SUM(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)) AS BIGINT) AS cnt
        |  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1),
        |cum AS (SELECT value, CAST(SUM(cnt) OVER (ORDER BY value) AS BIGINT) AS cum,
        |    CAST(SUM(cnt) OVER () AS BIGINT) AS n FROM c),
        |qs AS (SELECT * FROM (VALUES (1, 4), (1, 2), (9, 10)) t(q_num, q_den))
        |SELECT q_num, q_den, MIN(value) AS quantile_value, CAST(MIN(n) AS BIGINT) AS n
        |FROM qs JOIN cum ON cum.cum * qs.q_den >= qs.q_num * cum.n
        |GROUP BY 1, 2""".stripMargin),

    // incremental join-view maintenance: the delta rule applied to a
    // half/half split of both sides — the oracle is the FULL join, so
    // the hash gate proves delta-maintained ≡ recomputed
    Query("q217_ivm_join", (s, d) => {
      val o = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"))
      val li = t(s, d, "lineitem")
        .select(col("l_orderkey").as("o_orderkey"), col("l_linenumber"),
          col("l_extendedprice"))
      val a1 = o.filter(col("o_orderkey") % 2 === 0)
      val da = o.filter(col("o_orderkey") % 2 =!= 0)
      val b1 = li.filter(col("l_linenumber") <= 3)
      val db = li.filter(col("l_linenumber") > 3)
      val view0 = a1.join(b1, Seq("o_orderkey"))
      val (view, _, _) = graft.incremental.ViewMaint.applyBatch(
        view0, a1, b1, da, db, Seq("o_orderkey"))
      view.select("o_orderkey", "l_linenumber", "o_custkey",
        "o_orderpriority", "l_extendedprice")
    },
      // the FULL join — hashing this against the delta-maintained view
      // proves the IVM algebra end-to-end
      """SELECT o_orderkey, l_linenumber, o_custkey, o_orderpriority,
        |  l_extendedprice
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey""".stripMargin),

    // degree assortativity of the co-purchase graph: hub-to-hub vs
    // hub-to-leaf in one exact-moment correlation
    Query("q218_assortativity", (s, d) => {
      val li = t(s, d, "lineitem").filter(col("l_quantity") >= 48)
        .select(col("l_orderkey"), col("l_partkey"))
      val edges = li.as("a").join(li.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey")
            && col("a.l_partkey") < col("b.l_partkey"))
        .select(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"))
        .distinct()
      graft.operators.Graph.degreeAssortativity(edges, "src", "dst")
    },
      // q211's canonical edges + degree table; both-direction endpoint
      // degrees through q178's exact-moment correlation tree
      """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem WHERE l_quantity >= 48),
        |e0 AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey < b.l_partkey),
        |e AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |  FROM e0 WHERE least(src, dst) < greatest(src, dst)),
        |deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS degree
        |  FROM (SELECT a AS node FROM e UNION ALL SELECT b AS node FROM e)
        |  GROUP BY 1),
        |dir AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b AS u, a AS v FROM e),
        |x AS (SELECT du.degree AS deg_src, dv.degree AS deg_dst
        |  FROM dir JOIN deg du ON dir.u = du.node JOIN deg dv ON dir.v = dv.node),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(deg_src AS DECIMAL(20,6))) AS DOUBLE) AS s_a,
        |    CAST(SUM(CAST(deg_dst AS DECIMAL(20,6))) AS DOUBLE) AS s_b,
        |    CAST(SUM(CAST(deg_src * deg_src AS DECIMAL(20,6))) AS DOUBLE) AS ss_a,
        |    CAST(SUM(CAST(deg_dst * deg_dst AS DECIMAL(20,6))) AS DOUBLE) AS ss_b,
        |    CAST(SUM(CAST(deg_src * deg_dst AS DECIMAL(20,6))) AS DOUBLE) AS p_ab
        |  FROM x WHERE deg_src IS NOT NULL AND deg_dst IS NOT NULL)
        |SELECT 'deg_src' AS col_a, 'deg_dst' AS col_b, n,
        |  CASE WHEN (CAST(n AS DOUBLE) * ss_a - s_a * s_a) > 0.0
        |      AND (CAST(n AS DOUBLE) * ss_b - s_b * s_b) > 0.0
        |    THEN (CAST(n AS DOUBLE) * p_ab - s_a * s_b)
        |      / (sqrt(CAST(n AS DOUBLE) * ss_a - s_a * s_a)
        |         * sqrt(CAST(n AS DOUBLE) * ss_b - s_b * s_b)) END AS corr
        |FROM m""".stripMargin),

    // Luhn-validated card scan over a derived digit-bearing corpus
    // (customer keys stretched to 16-digit runs — some pass the
    // checksum, most do not; documents are digit-free)
    Query("q219_luhn_scan", (s, d) => {
      val cards = t(s, d, "customer").select(col("c_custkey"),
        concat(lit("acct "),
          lpad((col("c_custkey") * 7919L).cast("string"), 16, "4"),
          lit(" on file")).as("text"))
      graft.llmdata.TextAnalysis.luhnCardScan(cards, "c_custkey", "text")
    },
      // same candidate regex; the Luhn fold as list_sum over the same
      // positional CASE tree; zero-candidate docs kept at 0/0
      """WITH cards AS (SELECT c_custkey,
        |    'acct ' || lpad(CAST(c_custkey * 7919 AS VARCHAR), 16, '4')
        |      || ' on file' AS text
        |  FROM customer),
        |cand AS (SELECT c_custkey,
        |    unnest(regexp_extract_all(text, '[0-9]{13,19}')) AS cand
        |  FROM cards),
        |tot AS (SELECT c_custkey, cand,
        |    list_sum(list_transform(generate_series(1, length(cand)), i ->
        |      CASE WHEN (i - 1) % 2 = 0
        |        THEN CAST(substr(reverse(cand), i, 1) AS INT)
        |        ELSE CASE WHEN 2 * CAST(substr(reverse(cand), i, 1) AS INT) > 9
        |          THEN 2 * CAST(substr(reverse(cand), i, 1) AS INT) - 9
        |          ELSE 2 * CAST(substr(reverse(cand), i, 1) AS INT) END
        |      END)) AS t
        |  FROM cand),
        |agg AS (SELECT c_custkey, CAST(COUNT(cand) AS BIGINT) AS n_candidates,
        |    CAST(COALESCE(SUM(CASE WHEN t % 10 = 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_valid
        |  FROM tot GROUP BY 1)
        |SELECT c.c_custkey, COALESCE(n_candidates, 0) AS n_candidates,
        |  COALESCE(n_valid, 0) AS n_valid
        |FROM cards c LEFT JOIN agg ON c.c_custkey = agg.c_custkey""".stripMargin),

    // experiment funnel: per step transition, A/B conversion chi2
    // (user-parity variants; units = reached FROM, success = reached TO)
    Query("q220_funnel_ab", (s, d) =>
      graft.operators.Funnel.abFunnel(
        t(s, d, "events").withColumn("variant",
          (col("user_id") % 2).cast("int")),
        "user_id", "ts", "event_type",
        steps = Seq("view", "click", "purchase"), variantCol = "variant"), {
      // q95's sequential-reach CTEs + per-transition q213 chi2 trees
      def leg(idx: Int, from: String, to: String, where: String,
              conv: String) =
        s"""SELECT CAST($idx AS INT) AS step_index, '$from' AS from_step,
           |  '$to' AS to_step, variant_a, variant_b, n_a, conv_a, n_b,
           |  conv_b,
           |  CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS rate_a,
           |  CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS rate_b,
           |  CASE WHEN conv_a + conv_b > 0
           |      AND (n_a - conv_a) + (n_b - conv_b) > 0 THEN
           |    CAST(n_a + n_b AS DOUBLE)
           |      * (CAST(conv_a AS DOUBLE) * CAST(n_b - conv_b AS DOUBLE)
           |         - CAST(n_a - conv_a AS DOUBLE) * CAST(conv_b AS DOUBLE))
           |      * (CAST(conv_a AS DOUBLE) * CAST(n_b - conv_b AS DOUBLE)
           |         - CAST(n_a - conv_a AS DOUBLE) * CAST(conv_b AS DOUBLE))
           |      / ((CAST(conv_a AS DOUBLE) + CAST(n_a - conv_a AS DOUBLE))
           |         * (CAST(conv_b AS DOUBLE) + CAST(n_b - conv_b AS DOUBLE))
           |         * (CAST(conv_a AS DOUBLE) + CAST(conv_b AS DOUBLE))
           |         * (CAST(n_a - conv_a AS DOUBLE) + CAST(n_b - conv_b AS DOUBLE)))
           |  END AS chi2
           |FROM (SELECT x.variant AS variant_a, y.variant AS variant_b,
           |    x.n AS n_a, x.conv AS conv_a, y.n AS n_b, y.conv AS conv_b
           |  FROM (SELECT variant, CAST(COUNT(*) AS BIGINT) AS n,
           |      CAST(SUM(CAST($conv AS BIGINT)) AS BIGINT) AS conv
           |    FROM r WHERE $where GROUP BY 1) x
           |  JOIN (SELECT variant, CAST(COUNT(*) AS BIGINT) AS n,
           |      CAST(SUM(CAST($conv AS BIGINT)) AS BIGINT) AS conv
           |    FROM r WHERE $where GROUP BY 1) y
           |    ON x.variant < y.variant)""".stripMargin
      s"""WITH ev AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
         |            FROM events),
         |s1 AS (SELECT user_id, MIN(ts) AS t1 FROM ev
         |            WHERE event_type = 'view' GROUP BY 1),
         |s2 AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM ev e
         |       JOIN s1 USING (user_id)
         |       WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
         |s3 AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM ev e
         |       JOIN s2 USING (user_id)
         |       WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1),
         |r AS (SELECT s1.user_id, CAST(s1.user_id % 2 AS INT) AS variant,
         |        s2.t2, s3.t3
         |      FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id))
         |${leg(1, "view", "click", "TRUE",
              "CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END")}
         |UNION ALL
         |${leg(2, "click", "purchase", "t2 IS NOT NULL",
              "CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END")}""".stripMargin
    }),

    // per-event-type freshness vs a pinned asOf instant (exact integer
    // lag; never wall-clock-now inside the operator)
    Query("q221_freshness", (s, d) =>
      graft.checks.Freshness.report(t(s, d, "events"), "event_type", "ts",
        asOf = "2024-02-01 00:00:00", maxLagSeconds = 86400L),
      // one max/count aggregate; integer-microsecond lag vs the pinned
      // asOf, floor-divided to whole seconds
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  MAX(ts) AS last_ts,
        |  (epoch_us(TIMESTAMP '2024-02-01 00:00:00')
        |    - epoch_us(CAST(MAX(ts) AS TIMESTAMP))) // 1000000 AS lag_seconds,
        |  (epoch_us(TIMESTAMP '2024-02-01 00:00:00')
        |    - epoch_us(CAST(MAX(ts) AS TIMESTAMP))) // 1000000 > 86400 AS is_stale
        |FROM events GROUP BY 1""".stripMargin),

    // cross-column association: does order priority depend on status —
    // per-cell chi2 contributions over the contingency table
    Query("q222_contingency", (s, d) =>
      graft.operators.Profile.contingency(t(s, d, "orders"),
        "o_orderpriority", "o_orderstatus"),
      // cell aggregate + margins of the CELL table; q192's single-op
      // IEEE chains per cell; no order-dependent total
      """WITH cells AS (SELECT CAST(o_orderpriority AS VARCHAR) AS a,
        |    CAST(o_orderstatus AS VARCHAR) AS b,
        |    CAST(COUNT(*) AS BIGINT) AS n_obs
        |  FROM orders WHERE o_orderpriority IS NOT NULL
        |    AND o_orderstatus IS NOT NULL GROUP BY 1, 2),
        |rm AS (SELECT a, CAST(SUM(n_obs) AS BIGINT) AS row_total FROM cells GROUP BY 1),
        |cm AS (SELECT b, CAST(SUM(n_obs) AS BIGINT) AS col_total FROM cells GROUP BY 1),
        |t AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n FROM cells)
        |SELECT cells.a, cells.b, n_obs, row_total, col_total, n,
        |  CAST(row_total AS DOUBLE) * CAST(col_total AS DOUBLE) / CAST(n AS DOUBLE) AS expected,
        |  (CAST(n_obs AS DOUBLE)
        |     - CAST(row_total AS DOUBLE) * CAST(col_total AS DOUBLE) / CAST(n AS DOUBLE))
        |  * (CAST(n_obs AS DOUBLE)
        |     - CAST(row_total AS DOUBLE) * CAST(col_total AS DOUBLE) / CAST(n AS DOUBLE))
        |  / (CAST(row_total AS DOUBLE) * CAST(col_total AS DOUBLE) / CAST(n AS DOUBLE))
        |    AS chi2_contribution
        |FROM cells JOIN rm USING (a) JOIN cm USING (b), t""".stripMargin),

    // per-source language diversity: Simpson index + effective
    // category count, all exact integer squares and single divisions
    Query("q223_diversity", (s, d) =>
      graft.operators.Profile.simpsonDiversity(t(s, d, "documents"),
        "source", "lang"),
      // exact integer squares; simpson and effective counts are single
      // divisions of BIGINT-derived doubles
      """WITH c AS (SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM documents WHERE lang IS NOT NULL GROUP BY 1, 2),
        |g AS (SELECT source, CAST(SUM(cnt) AS BIGINT) AS n,
        |    CAST(COUNT(*) AS BIGINT) AS n_categories,
        |    CAST(SUM(cnt * cnt) AS BIGINT) AS s2
        |  FROM c GROUP BY 1)
        |SELECT source, n, n_categories,
        |  CAST(n * n - s2 AS DOUBLE) / CAST(n * n AS DOUBLE) AS simpson,
        |  CAST(n * n AS DOUBLE) / CAST(s2 AS DOUBLE) AS effective_categories
        |FROM g""".stripMargin),

    // Kaplan-Meier survival over user lifetimes: censoring-aware churn
    // curve; the running product is an ORDERED double fold (ascending
    // t), replicated verbatim by the oracle's recursive CTE
    Query("q224_kaplan_meier", (s, d) =>
      graft.operators.Retention.kaplanMeier(t(s, d, "events"), "user_id",
        "ts", censorDays = 3),
      // the running survival product is a SEQUENTIAL recursive fold in
      // ascending t — the same left-to-right IEEE multiply order as
      // Spark's aggregate() over the running collect_list, so the curve
      // hashes bit-exact (an unordered product aggregate would not)
      """WITH RECURSIVE pu AS (SELECT user_id, CAST(MIN(ts) AS DATE) AS fd,
        |    CAST(MAX(ts) AS DATE) AS ld FROM events GROUP BY 1),
        |se AS (SELECT MAX(ld) AS stream_end FROM pu),
        |lab AS (SELECT CAST(ld - fd AS INT) AS t_day,
        |    ld >= stream_end - 3 AS censored FROM pu, se),
        |byt AS (SELECT t_day,
        |    CAST(SUM(CASE WHEN censored THEN 0 ELSE 1 END) AS BIGINT) AS n_deaths,
        |    CAST(SUM(CASE WHEN censored THEN 1 ELSE 0 END) AS BIGINT) AS n_censored
        |  FROM lab GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n_deaths + n_censored) AS BIGINT) AS total FROM byt),
        |idx AS (SELECT t_day, n_deaths, n_censored,
        |    total - COALESCE(CAST(SUM(n_deaths + n_censored) OVER
        |      (ORDER BY t_day ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS BIGINT), 0) AS n_at_risk,
        |    row_number() OVER (ORDER BY t_day) AS rn
        |  FROM byt, tot),
        |f AS (SELECT *, CAST(1.0 AS DOUBLE)
        |    - CAST(n_deaths AS DOUBLE) / CAST(n_at_risk AS DOUBLE) AS factor
        |  FROM idx),
        |km(rn, t_day, n_at_risk, n_deaths, n_censored, survival) AS (
        |  SELECT rn, t_day, n_at_risk, n_deaths, n_censored, factor
        |  FROM f WHERE rn = 1
        |  UNION ALL
        |  SELECT f.rn, f.t_day, f.n_at_risk, f.n_deaths, f.n_censored,
        |    km.survival * f.factor
        |  FROM km JOIN f ON f.rn = km.rn + 1)
        |SELECT t_day, n_at_risk, n_deaths, n_censored, survival FROM km""".stripMargin),

    // day-of-week seasonal profile of the value stream — weekday from
    // pure integer epoch-day arithmetic (engines disagree on week
    // starts), decimal sums, two-division IEEE index
    Query("q225_seasonal_index", (s, d) =>
      graft.operators.Timeseries.seasonalIndex(t(s, d, "events"), "ts",
        "value"),
      // weekday from pure integer epoch-day arithmetic ((d+3)%7, Monday=0)
      // — engine dayofweek() builtins disagree on week starts; decimal
      // sums, fixed two-division IEEE index tree
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day,
        |    CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DECIMAL(38,6)) AS dv
        |  FROM events GROUP BY 1),
        |d2 AS (SELECT *, CAST((CAST(day - DATE '1970-01-01' AS BIGINT) + 3) % 7 AS INT) AS dow
        |  FROM daily),
        |byd AS (SELECT dow, CAST(COUNT(*) AS BIGINT) AS n_days,
        |    CAST(SUM(dv) AS DECIMAL(38,6)) AS dt FROM d2 GROUP BY 1),
        |g AS (SELECT CAST(COUNT(*) AS BIGINT) AS nt,
        |    CAST(SUM(dv) AS DECIMAL(38,6)) AS gt FROM d2)
        |SELECT dow, n_days, CAST(dt AS DOUBLE) AS dow_total,
        |  CAST(dt AS DOUBLE) / CAST(n_days AS DOUBLE) AS dow_mean,
        |  (CAST(dt AS DOUBLE) / CAST(n_days AS DOUBLE))
        |    / (CAST(gt AS DOUBLE) / CAST(nt AS DOUBLE)) AS seasonal_index
        |FROM byd, g""".stripMargin),

    // lag-7 autocorrelation per event type: calendar-joined day pairs,
    // exact decimal moments, IEEE sqrt (correctly rounded -> portable)
    Query("q226_autocorrelation", (s, d) =>
      graft.operators.Timeseries.autocorrelation(t(s, d, "events"),
        "event_type", "ts", lagDays = 7),
      // calendar self-join pairs day d with d-7 (row-lag misaligns on gap
      // days); exact integer moment sums -> one fixed IEEE tree; IEEE
      // sqrt is correctly rounded, hence engine-portable (unlike log/exp)
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(COUNT(*) AS BIGINT) AS cnt FROM events GROUP BY 1, 2),
        |p AS (SELECT a.event_type, a.cnt AS x, b.cnt AS y
        |  FROM daily a JOIN daily b
        |  ON a.event_type = b.event_type AND a.day = b.day + 7),
        |m AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |    CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
        |    CAST(SUM(x * x) AS DOUBLE) AS sxx, CAST(SUM(y * y) AS DOUBLE) AS syy,
        |    CAST(SUM(x * y) AS DOUBLE) AS sxy
        |  FROM p GROUP BY 1)
        |SELECT event_type, CAST(7 AS INT) AS lag_days, n_pairs,
        |  CASE WHEN (CAST(n_pairs AS DOUBLE) * sxx - sx * sx) > 0.0
        |        AND (CAST(n_pairs AS DOUBLE) * syy - sy * sy) > 0.0
        |    THEN (CAST(n_pairs AS DOUBLE) * sxy - sx * sy)
        |      / (sqrt(CAST(n_pairs AS DOUBLE) * sxx - sx * sx)
        |         * sqrt(CAST(n_pairs AS DOUBLE) * syy - sy * sy)) END AS autocorr
        |FROM m WHERE n_pairs >= 3""".stripMargin),

    // golden-record survivorship over linked entity clusters: clean +
    // mangled clone rows (q196's corruption model) -> blocked linkage
    // -> connected components -> one per-cluster survivorship aggregate.
    // The block key adds the name's digit-prefix-7 (truncation-stable —
    // the mangle only removes the LAST two digits): composite blocking
    // is the documented skew lever, and it cuts the candidate set from
    // (nation, seg)-block quadratic (~7M levenshteins at sf0.1, 14 s)
    // to near-linear (sub-second)
    Query("q227_golden_record", (s, d) => {
      val c = t(s, d, "customer")
      val clean = c.select((col("c_custkey") * 2).as("ent_id"),
        col("c_name").as("name"), col("c_acctbal").as("acctbal"),
        col("c_nationkey").as("nation"), col("c_mktsegment").as("seg"))
      val dirty = c.select((col("c_custkey") * 2 + 1).as("ent_id"),
        when(col("c_custkey") % 3 === 1,
          expr("substr(c_name, 1, length(c_name) - 2)"))
          .otherwise(col("c_name")).as("name"),
        (col("c_acctbal") - lit(5.0)).as("acctbal"),
        col("c_nationkey").as("nation"), col("c_mktsegment").as("seg"))
      def blk(df: DataFrame) = df.withColumn("blk", expr("substr(name, 10, 7)"))
      val pairs = graft.operators.Linkage.linkRecords(
        blk(clean), blk(dirty),
        blockOn = Seq("nation" -> "nation", "seg" -> "seg", "blk" -> "blk"),
        score = graft.operators.Linkage.levenshteinPoints(
          col("l.name"), col("r.name"), 10),
        select = Seq(col("l.ent_id").as("left_id"), col("r.ent_id").as("right_id")),
        matchAt = 8, possibleAt = 8)
        .filter(col("tier") === "match")
      graft.operators.Linkage.goldenRecord(
        clean.unionByName(dirty), "ent_id", pairs, "left_id", "right_id",
        longestOf = Seq("name"), maxOf = Seq("acctbal"), minOf = Seq("nation"))
    },
      // q196's corruption model (truncation arm only) -> blocked linkage
      // at score >= 8 -> recursive transitive closure -> survivorship:
      // longest name (tie lexicographically greatest), max balance, min
      // nation, exact member counts
      """WITH RECURSIVE ent AS (
        |  SELECT c_custkey * 2 AS ent_id, c_name AS name, c_acctbal AS acctbal,
        |    c_nationkey AS nation, c_mktsegment AS seg FROM customer
        |  UNION ALL
        |  SELECT c_custkey * 2 + 1,
        |    CASE WHEN c_custkey % 3 = 1 THEN substr(c_name, 1, length(c_name) - 2)
        |         ELSE c_name END,
        |    c_acctbal - CAST(5.0 AS DOUBLE), c_nationkey, c_mktsegment FROM customer),
        |pr AS (SELECT l.ent_id AS src, r.ent_id AS dst
        |  FROM (SELECT * FROM ent WHERE ent_id % 2 = 0) l
        |  JOIN (SELECT * FROM ent WHERE ent_id % 2 = 1) r
        |  ON l.nation = r.nation AND l.seg = r.seg
        |    AND substr(l.name, 10, 7) = substr(r.name, 10, 7)
        |  WHERE (CASE WHEN l.name IS NULL OR r.name IS NULL THEN 0
        |    ELSE greatest(0, 10 - levenshtein(l.name, r.name)) END) >= 8),
        |e AS (SELECT src, dst FROM pr UNION SELECT dst, src FROM pr),
        |n AS (SELECT DISTINCT src AS node FROM e),
        |reach(node, root) AS (
        |  SELECT node, node FROM n
        |  UNION
        |  SELECT e.dst, r.root FROM reach r JOIN e ON e.src = r.node),
        |comp AS (SELECT node, MIN(root) AS component_id FROM reach GROUP BY 1),
        |asg AS (SELECT ent.*, COALESCE(comp.component_id, ent.ent_id) AS cluster_id
        |  FROM ent LEFT JOIN comp ON ent.ent_id = comp.node),
        |pick AS (SELECT cluster_id, name, row_number() OVER (PARTITION BY cluster_id
        |    ORDER BY length(name) DESC, name DESC) AS rk
        |  FROM asg WHERE name IS NOT NULL),
        |base AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members,
        |    MAX(acctbal) AS acctbal, MIN(nation) AS nation
        |  FROM asg GROUP BY 1)
        |SELECT base.cluster_id, base.n_members, pick.name, base.acctbal, base.nation
        |FROM base JOIN pick ON pick.cluster_id = base.cluster_id AND pick.rk = 1""".stripMargin),

    // pairwise audience overlap between behavioral segments (user x
    // event_type membership): exact counts, jaccard/containment/lift
    Query("q228_segment_overlap", (s, d) =>
      graft.operators.Profile.segmentOverlap(t(s, d, "events"), "user_id",
        "event_type"),
      // exact BIGINT counts, single-division jaccard/containments, lift =
      // (n_both * universe) / (n_a * n_b) — one division of exact products
      """WITH m AS (SELECT DISTINCT user_id AS e, event_type AS s FROM events
        |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
        |sz AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS n FROM m GROUP BY 1),
        |u AS (SELECT CAST(COUNT(DISTINCT e) AS BIGINT) AS n_entities FROM m),
        |p AS (SELECT a.s AS seg_a, b.s AS seg_b, CAST(COUNT(*) AS BIGINT) AS n_both
        |  FROM m a JOIN m b ON a.e = b.e AND a.s < b.s GROUP BY 1, 2)
        |SELECT seg_a, seg_b, sa.n AS n_a, sb.n AS n_b, n_both, n_entities,
        |  CAST(n_both AS DOUBLE) / CAST(sa.n + sb.n - n_both AS DOUBLE) AS jaccard,
        |  CAST(n_both AS DOUBLE) / CAST(sa.n AS DOUBLE) AS containment_a,
        |  CAST(n_both AS DOUBLE) / CAST(sb.n AS DOUBLE) AS containment_b,
        |  CAST(n_both * n_entities AS DOUBLE) / CAST(sa.n * sb.n AS DOUBLE) AS lift
        |FROM p JOIN sz sa ON sa.s = p.seg_a JOIN sz sb ON sb.s = p.seg_b, u""".stripMargin),

    // 3-hop blast radius on the sparsified co-purchase graph from a
    // deterministic seed set — min-hop BFS, frontier-only per round
    Query("q229_khop", (s, d) => {
      val li = t(s, d, "lineitem").filter(col("l_quantity") >= 48)
        .select(col("l_orderkey"), col("l_partkey"))
      val edges = li.as("a").join(li.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey")
            && col("a.l_partkey") < col("b.l_partkey"))
        .select(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"))
        .distinct()
      val seeds = t(s, d, "part").filter(col("p_partkey") % 10 === 0)
        .select(col("p_partkey"))
      graft.operators.Graph.kHopDistances(edges, "src", "dst", seeds,
        "p_partkey", maxHops = 3)
    },
      // bounded-depth BFS: UNION-deduped (node, hop) recursion capped at
      // hop 3, min-hop per node; seeds at hop 0 whether or not they touch
      // an edge
      """WITH RECURSIVE e0 AS (
        |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        |  FROM lineitem a JOIN lineitem b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  WHERE a.l_quantity >= 48 AND b.l_quantity >= 48),
        |e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
        |seeds AS (SELECT p_partkey AS node FROM part WHERE p_partkey % 10 = 0),
        |reach(node, hop) AS (
        |  SELECT node, 0 FROM seeds
        |  UNION
        |  SELECT e.dst, r.hop + 1 FROM reach r JOIN e ON e.src = r.node
        |  WHERE r.hop < 3)
        |SELECT node, CAST(MIN(hop) AS INT) AS hop FROM reach GROUP BY 1""".stripMargin),

    // 2 synchronous label-propagation rounds on the co-purchase graph
    // (deterministic argmax: most frequent neighbor label, tie -> min)
    Query("q230_label_propagation", (s, d) => {
      val li = t(s, d, "lineitem").filter(col("l_quantity") >= 48)
        .select(col("l_orderkey"), col("l_partkey"))
      val edges = li.as("a").join(li.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey")
            && col("a.l_partkey") < col("b.l_partkey"))
        .select(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"))
        .distinct()
      graft.operators.Graph.labelPropagation(edges, "src", "dst", rounds = 2)
    },
      // two unrolled synchronous rounds; per-node argmax = row_number
      // ORDER BY cnt DESC, label ASC — the max(struct(cnt, -label)) rule
      """WITH e0 AS (
        |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        |  FROM lineitem a JOIN lineitem b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  WHERE a.l_quantity >= 48 AND b.l_quantity >= 48),
        |e AS (SELECT src AS u, dst AS v FROM e0 UNION SELECT dst, src FROM e0),
        |l0 AS (SELECT DISTINCT u AS node, CAST(u AS BIGINT) AS label FROM e),
        |c1 AS (SELECT e.u, l0.label, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM e JOIN l0 ON e.v = l0.node GROUP BY 1, 2),
        |r1 AS (SELECT u AS node, label FROM (SELECT u, label,
        |    row_number() OVER (PARTITION BY u ORDER BY cnt DESC, label ASC) AS rk
        |  FROM c1) WHERE rk = 1),
        |c2 AS (SELECT e.u, r1.label, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM e JOIN r1 ON e.v = r1.node GROUP BY 1, 2),
        |r2 AS (SELECT u AS node, label FROM (SELECT u, label,
        |    row_number() OVER (PARTITION BY u ORDER BY cnt DESC, label ASC) AS rk
        |  FROM c2) WHERE rk = 1)
        |SELECT node, label FROM r2""".stripMargin),

    // exact consecutive-token phrase search via positional postings —
    // term-filtered postings, (doc, pos+offset) equi-joins only
    Query("q231_phrase_search", (s, d) =>
      graft.llmdata.TextAnalysis.phraseSearch(t(s, d, "documents"),
        "doc_id", "text", Seq("value", "table", "part")),
      // zipped-unnest positional postings (1-based), three term-filtered
      // aliases equi-joined on (doc, pos+offset)
      """WITH toks AS (SELECT doc_id,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS tk FROM documents),
        |p AS (SELECT doc_id, unnest(tk) AS term,
        |    unnest(generate_series(1, len(tk))) AS pos FROM toks)
        |SELECT a.doc_id, CAST(a.pos AS BIGINT) AS match_pos
        |FROM p a
        |JOIN p b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
        |JOIN p c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
        |WHERE a.term = 'value' AND b.term = 'table' AND c.term = 'part'""".stripMargin),

    // two-sided CUSUM drift alarms per event type: exact integer
    // micro-units, prefix-sum-minus-running-min closed form, silent
    // calendar days count as zero
    Query("q232_cusum", (s, d) =>
      graft.operators.Timeseries.cusum(t(s, d, "events"), "event_type",
        "ts", slackMicro = 20000000L, hMicro = 100000000L),
      // exact integer micro-units end to end; CUSUM closed form
      // S = P - min(0, running_min(P)); silent calendar days restored as
      // zero-count rows via the per-key spine
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(COUNT(*) AS BIGINT) AS cnt FROM events GROUP BY 1, 2),
        |b AS (SELECT event_type, MIN(day) AS lo, MAX(day) AS hi,
        |    CAST(SUM(cnt) AS BIGINT) AS s FROM daily GROUP BY 1),
        |sp AS (SELECT event_type,
        |    (s * 1000000) // (CAST(hi - lo AS BIGINT) + 1) AS target,
        |    CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
        |      CAST(hi AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM b),
        |j AS (SELECT sp.event_type, sp.day, sp.target,
        |    COALESCE(daily.cnt, 0) AS n_events
        |  FROM sp LEFT JOIN daily USING (event_type, day)),
        |dv AS (SELECT *, n_events * 1000000 - target - 20000000 AS dev_up,
        |    target - n_events * 1000000 - 20000000 AS dev_dn FROM j),
        |w AS (SELECT *, CAST(SUM(dev_up) OVER win AS BIGINT) AS pu,
        |    CAST(SUM(dev_dn) OVER win AS BIGINT) AS pd
        |  FROM dv WINDOW win AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |f AS (SELECT *,
        |    pu - least(0, CAST(MIN(pu) OVER win AS BIGINT)) AS s_plus_micro,
        |    pd - least(0, CAST(MIN(pd) OVER win AS BIGINT)) AS s_minus_micro
        |  FROM w WINDOW win AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT event_type, day, n_events, s_plus_micro, s_minus_micro,
        |  s_plus_micro > 100000000 AS alarm_up,
        |  s_minus_micro > 100000000 AS alarm_down
        |FROM f""".stripMargin),

    // deterministic NULL repair with provenance: per-group exact-median
    // numeric fills + deterministic-mode categorical fills over a
    // derived corruption model (q196/q199 pattern)
    Query("q234_impute", (s, d) => {
      val ev = t(s, d, "events").select(
        col("event_id"), (col("user_id") % 20).as("grp"),
        when(col("event_id") % 7 === 0, lit(null).cast("double"))
          .otherwise(col("value")).as("value"),
        when(col("event_id") % 11 === 0, lit(null).cast("string"))
          .otherwise(col("event_type")).as("etype"))
      graft.operators.Robust.impute(ev, "grp",
        medianCols = Seq("value"), modeCols = Seq("etype"))
    },
      // per-group rational-threshold median (min v with 2*cum >= n, the
      // engine's exact-quantile convention) + deterministic mode (cnt
      // DESC, value ASC); provenance via nullif(concat_ws(...), '')
      """WITH base AS (SELECT event_id, user_id % 20 AS grp,
        |    CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS value,
        |    CASE WHEN event_id % 11 = 0 THEN NULL ELSE event_type END AS etype
        |  FROM events),
        |vc AS (SELECT grp, value AS v, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM base WHERE value IS NOT NULL GROUP BY 1, 2),
        |cum AS (SELECT grp, v,
        |    SUM(cnt) OVER (PARTITION BY grp ORDER BY v) AS cum,
        |    SUM(cnt) OVER (PARTITION BY grp) AS n FROM vc),
        |med AS (SELECT grp, MIN(v) AS fv FROM cum WHERE cum * 2 >= n GROUP BY 1),
        |mc AS (SELECT grp, etype AS e, COUNT(*) AS cnt
        |  FROM base WHERE etype IS NOT NULL GROUP BY 1, 2),
        |md AS (SELECT grp, e AS fe FROM (SELECT grp, e,
        |    row_number() OVER (PARTITION BY grp ORDER BY cnt DESC, e ASC) AS rk
        |  FROM mc) WHERE rk = 1)
        |SELECT b.grp, b.event_id,
        |  COALESCE(b.value, med.fv) AS value,
        |  COALESCE(b.etype, md.fe) AS etype,
        |  nullif(concat_ws(',',
        |    CASE WHEN b.value IS NULL AND med.fv IS NOT NULL THEN 'value' END,
        |    CASE WHEN b.etype IS NULL AND md.fe IS NOT NULL THEN 'etype' END),
        |    '') AS imputed_cols
        |FROM base b LEFT JOIN med ON b.grp = med.grp
        |  LEFT JOIN md ON b.grp = md.grp""".stripMargin),

    // seasonal anomaly screen: the q112 sqrt-free z-test judged against
    // SAME-WEEKDAY history (composite key), so a busy Monday is judged
    // by Mondays — k=1 (one-sigma screen; dow slices have ~4 obs each)
    Query("q235_seasonal_anomaly", (s, d) => {
      val ev = t(s, d, "events").withColumn("type_dow",
        concat(col("event_type"), lit("|"),
          ((datediff(to_date(col("ts")), lit("1970-01-01").cast("date")) + 3)
            % 7).cast("string")))
      graft.operators.Timeseries.anomalousDays(ev, "type_dow", "ts", k = 1)
    },
      // q112's integer z-test with the composite (type, weekday) key;
      // weekday from the q225 integer convention
      """WITH daily AS (
        |  SELECT event_type || '|' || CAST((CAST(CAST(ts AS DATE)
        |      - DATE '1970-01-01' AS BIGINT) + 3) % 7 AS VARCHAR) AS type_dow,
        |    CAST(ts AS DATE) AS day, CAST(COUNT(*) AS HUGEINT) AS n
        |  FROM events GROUP BY 1, 2),
        |m AS (SELECT type_dow, CAST(SUM(n) AS HUGEINT) AS s1,
        |    CAST(SUM(n*n) AS HUGEINT) AS s2,
        |    CAST(COUNT(*) AS HUGEINT) AS n_days FROM daily GROUP BY 1)
        |SELECT d.type_dow, d.day, CAST(d.n AS BIGINT) AS n_events
        |FROM daily d JOIN m USING (type_dow)
        |WHERE (m.n_days * d.n - m.s1) * (m.n_days * d.n - m.s1)
        |    > 1 * (m.n_days * m.s2 - m.s1 * m.s1)""".stripMargin),

    // incremental connected components: half the co-purchase edges
    // folded into the OTHER half's standing assignment — oracle is the
    // FULL closure, so the hash gate proves incremental ≡ recomputed
    Query("q237_incremental_components", (s, d) => {
      val li = t(s, d, "lineitem").filter(col("l_quantity") >= 48)
        .select(col("l_orderkey"), col("l_partkey"))
      val edges = li.as("a").join(li.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey")
            && col("a.l_partkey") < col("b.l_partkey"))
        .select(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"))
        .distinct()
      val e1 = edges.filter((col("src") + col("dst")) % 2 === 0)
      val e2 = edges.filter((col("src") + col("dst")) % 2 =!= 0)
      val base = graft.operators.Graph.connectedComponents(e1, "src", "dst")
      graft.operators.Graph.connectedComponentsIncremental(base, e2,
        "src", "dst")
    },
      // the oracle is the FULL-graph closure (q189's): the hash gate
      // proves the incrementally-maintained assignment equals recompute
      """WITH RECURSIVE e0 AS (
        |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        |  FROM lineitem a JOIN lineitem b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  WHERE a.l_quantity >= 48 AND b.l_quantity >= 48),
        |e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
        |n AS (SELECT DISTINCT src AS node FROM e),
        |reach(node, root) AS (
        |  SELECT node, node FROM n
        |  UNION
        |  SELECT e.dst, r.root FROM reach r JOIN e ON e.src = r.node)
        |SELECT node AS node_id, CAST(MIN(root) AS BIGINT) AS component_id
        |FROM reach GROUP BY 1""".stripMargin),

    // snapshot pair -> retraction-style change feed (q199's mutation
    // model): removed -> delete, added -> insert, changed -> both; the
    // apply rule (delete-by-key ∪ inserts) is spec-proven an identity
    Query("q236_cdc_feed", (s, d) => {
      val o = t(s, d, "orders")
      val next = o.filter(col("o_orderkey") % 89 =!= 0)
        .withColumn("o_orderpriority",
          when(col("o_orderkey") % 97 === 0, lit("9-RECLASSIFIED"))
            .otherwise(col("o_orderpriority")))
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 101 === 0, col("o_totalprice") + lit(1.0))
            .otherwise(col("o_totalprice")))
        .unionByName(o.filter(col("o_orderkey") % 103 === 0 && col("o_orderkey") > 0)
          .withColumn("o_orderkey", -col("o_orderkey")))
      graft.operators.Diff.toCdcFeed(o, next, keys = Seq("o_orderkey"),
        compareCols = Seq("o_orderpriority", "o_totalprice"))
    },
      // q199's mutation model rendered as delete/insert pairs: one full
      // outer join, changed keys emit both ops with side-matched payloads
      """WITH nxt AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 97 = 0 THEN '9-RECLASSIFIED' ELSE o_orderpriority END AS o_orderpriority,
        |    CASE WHEN o_orderkey % 101 = 0 THEN o_totalprice + 1.0 ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 89 <> 0
        |  UNION ALL
        |  SELECT -o_orderkey, o_orderpriority, o_totalprice
        |  FROM orders WHERE o_orderkey % 103 = 0 AND o_orderkey > 0),
        |j AS (SELECT o.o_orderkey AS ok, n.o_orderkey AS nk,
        |    o.o_orderpriority AS op_, o.o_totalprice AS ot,
        |    n.o_orderpriority AS np, n.o_totalprice AS nt
        |  FROM orders o FULL OUTER JOIN nxt n
        |  ON o.o_orderkey IS NOT DISTINCT FROM n.o_orderkey),
        |j2 AS (SELECT *,
        |    NOT (op_ IS NOT DISTINCT FROM np)
        |      OR NOT (ot IS NOT DISTINCT FROM nt) AS chg
        |  FROM j)
        |SELECT 'delete' AS op, ok AS o_orderkey, op_ AS o_orderpriority,
        |  ot AS o_totalprice
        |FROM j2 WHERE ok IS NOT NULL AND (nk IS NULL OR chg)
        |UNION ALL
        |SELECT 'insert' AS op, nk AS o_orderkey, np AS o_orderpriority,
        |  nt AS o_totalprice
        |FROM j2 WHERE nk IS NOT NULL AND (ok IS NULL OR chg)""".stripMargin),

    // RAKE keywords over the corpus: stopword-delimited phrases,
    // integer-micro word degree/frequency ratios, top-20
    Query("q238_rake_keywords", (s, d) =>
      graft.llmdata.TextAnalysis.rakeKeywords(t(s, d, "documents"),
        "doc_id", "text",
        stopwords = Seq("the", "and", "a", "of", "to", "in"), topK = 20),
      // zipped-unnest positions -> running stopword count = phrase id;
      // integer-micro word scores; string_agg(ORDER BY pos) phrases;
      // deterministic top-20 (score DESC, phrase ASC)
      """WITH toks AS (SELECT doc_id,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS tk FROM documents),
        |p AS (SELECT doc_id, unnest(tk) AS term,
        |    unnest(generate_series(1, len(tk))) AS pos FROM toks),
        |p2 AS (SELECT *, term IN ('the','and','a','of','to','in') AS stop
        |  FROM p WHERE length(term) > 0),
        |m AS (SELECT *, SUM(CASE WHEN stop THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY doc_id ORDER BY pos) AS pid FROM p2),
        |mem AS (SELECT doc_id, pid, term, pos FROM m WHERE NOT stop),
        |wl AS (SELECT *, COUNT(*) OVER (PARTITION BY doc_id, pid) AS plen FROM mem),
        |ws AS (SELECT term, CAST(SUM(plen) AS BIGINT) AS deg,
        |    CAST(COUNT(*) AS BIGINT) AS freq FROM wl GROUP BY 1),
        |ws2 AS (SELECT term, (deg * 1000000) // freq AS wscore FROM ws),
        |ph AS (SELECT doc_id, pid,
        |    string_agg(wl.term, ' ' ORDER BY pos) AS phrase,
        |    CAST(COUNT(*) AS BIGINT) AS nw,
        |    CAST(SUM(ws2.wscore) AS BIGINT) AS score
        |  FROM wl JOIN ws2 ON wl.term = ws2.term GROUP BY 1, 2)
        |SELECT phrase, CAST(MAX(nw) AS BIGINT) AS n_words,
        |  CAST(COUNT(*) AS BIGINT) AS n_occurrences,
        |  CAST(MAX(score) AS BIGINT) AS score_micro
        |FROM ph GROUP BY 1
        |ORDER BY score_micro DESC, phrase ASC LIMIT 20""".stripMargin),

    // weighted PageRank: rank flows proportionally to co-purchase
    // counts — (rank·w) div W(u) stays exact BIGINT; 2 iterations,
    // oracle unrolled (q116's shape with weights)
    Query("q239_weighted_pagerank", (s, d) => {
      val li = t(s, d, "lineitem").filter(col("l_quantity") >= 48)
        .select(col("l_orderkey"), col("l_partkey"))
      val pairs = li.as("a").join(li.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey")
            && col("a.l_partkey") < col("b.l_partkey"))
        .groupBy(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"))
        .agg(count(lit(1)).as("w"))
      val edges = pairs.unionByName(pairs.select(col("dst").as("src"),
        col("src").as("dst"), col("w")))
      graft.operators.Graph.pageRank(edges, iterations = 2,
        weightCol = Some("w"))
    },
      // q116's unrolled-iteration shape with edge weights: contribution
      // (rank*w) // W(u), two rounds
      """WITH e0 AS (SELECT a.l_partkey AS s, b.l_partkey AS t,
        |    CAST(COUNT(*) AS BIGINT) AS w
        |  FROM lineitem a JOIN lineitem b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  WHERE a.l_quantity >= 48 AND b.l_quantity >= 48 GROUP BY 1, 2),
        |e AS (SELECT CAST(s AS VARCHAR) AS src, CAST(t AS VARCHAR) AS dst, w FROM e0
        |  UNION ALL SELECT CAST(t AS VARCHAR), CAST(s AS VARCHAR), w FROM e0),
        |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |ow AS (SELECT src, CAST(SUM(w) AS BIGINT) AS outw FROM e GROUP BY 1),
        |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank_micro FROM nodes),
        |c1 AS (SELECT e.dst AS node,
        |    CAST(SUM((r0.rank_micro * e.w) // o.outw) AS BIGINT) AS im
        |  FROM e JOIN r0 ON e.src = r0.node JOIN ow o ON e.src = o.src GROUP BY 1),
        |r1 AS (SELECT n.node, CAST(150000 + (85 * COALESCE(c1.im, 0)) // 100 AS BIGINT) AS rank_micro
        |  FROM nodes n LEFT JOIN c1 USING (node)),
        |c2 AS (SELECT e.dst AS node,
        |    CAST(SUM((r1.rank_micro * e.w) // o.outw) AS BIGINT) AS im
        |  FROM e JOIN r1 ON e.src = r1.node JOIN ow o ON e.src = o.src GROUP BY 1),
        |r2 AS (SELECT n.node, CAST(150000 + (85 * COALESCE(c2.im, 0)) // 100 AS BIGINT) AS rank_micro
        |  FROM nodes n LEFT JOIN c2 USING (node))
        |SELECT node, rank_micro FROM r2""".stripMargin),

    // k-anonymity / l-diversity release gate over declared
    // quasi-identifiers: exact class counts, suppression cost, verdicts
    Query("q240_k_anonymity", (s, d) =>
      graft.checks.Privacy.kAnonymityReport(t(s, d, "customer"),
        qiCols = Seq("c_nationkey", "c_mktsegment"),
        sensitiveCol = Some("c_acctbal"), k = 15, l = 10),
      // one qi-tuple aggregate, class-scale rollup; exact counts and one
      // suppression-rate division
      """WITH cls AS (SELECT c_nationkey, c_mktsegment,
        |    CAST(COUNT(*) AS BIGINT) AS cs,
        |    CAST(COUNT(DISTINCT c_acctbal) AS BIGINT) AS ns
        |  FROM customer GROUP BY 1, 2)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
        |  CAST(SUM(cs) AS BIGINT) AS n_rows,
        |  MIN(cs) AS achieved_k,
        |  CAST(SUM(CASE WHEN cs < 15 THEN 1 ELSE 0 END) AS BIGINT) AS n_classes_below_k,
        |  CAST(SUM(CASE WHEN cs < 15 THEN cs ELSE 0 END) AS BIGINT) AS n_rows_below_k,
        |  MIN(ns) AS achieved_l,
        |  CAST(SUM(CASE WHEN ns < 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_classes_below_l,
        |  CAST(SUM(CASE WHEN ns < 10 THEN cs ELSE 0 END) AS BIGINT) AS n_rows_below_l,
        |  CAST(SUM(CASE WHEN cs < 15 THEN cs ELSE 0 END) AS DOUBLE)
        |    / CAST(SUM(cs) AS DOUBLE) AS suppression_rate,
        |  MIN(cs) >= 15 AS k_anonymous,
        |  MIN(ns) >= 10 AS l_diverse
        |FROM cls""".stripMargin),

    // vector-space drift between two embedding snapshots (vec_id-parity
    // split): per-label centroid cosine + L2 shift, the q178 decimal
    // discipline for every dim-space reduction
    Query("q241_embedding_drift", (s, d) => {
      val emb = t(s, d, "embeddings")
      graft.llmdata.Similarity.embeddingDrift(
        emb.filter(col("vec_id") % 2 === 0),
        emb.filter(col("vec_id") % 2 =!= 0),
        "embedding", "label")
    },
      // q93's unnest-with-position dims; every dim-space reduction routes
      // each double product through DECIMAL(20,6) before summing (q178's
      // order-free discipline); IEEE sqrt at the very end
      """WITH r AS (SELECT label, CAST(embedding AS DOUBLE[]) AS emb
        |  FROM embeddings WHERE vec_id % 2 = 0),
        |c AS (SELECT label, CAST(embedding AS DOUBLE[]) AS emb
        |  FROM embeddings WHERE vec_id % 2 <> 0),
        |xr AS (SELECT label, CAST(unnest(generate_series(1, len(emb))) - 1 AS INT) AS dim,
        |    unnest(emb) AS x FROM r),
        |xc AS (SELECT label, CAST(unnest(generate_series(1, len(emb))) - 1 AS INT) AS dim,
        |    unnest(emb) AS x FROM c),
        |sr AS (SELECT label, dim, CAST(SUM(CAST(x AS DECIMAL(20,6))) AS DOUBLE) AS s_ref
        |  FROM xr GROUP BY 1, 2),
        |sc AS (SELECT label, dim, CAST(SUM(CAST(x AS DECIMAL(20,6))) AS DOUBLE) AS s_cur
        |  FROM xc GROUP BY 1, 2),
        |nr AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_ref FROM r GROUP BY 1),
        |nc AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_cur FROM c GROUP BY 1),
        |dims AS (SELECT sr.label, s_ref, s_cur,
        |    s_ref / CAST(n_ref AS DOUBLE) - s_cur / CAST(n_cur AS DOUBLE) AS df_
        |  FROM sr JOIN sc ON sr.label = sc.label AND sr.dim = sc.dim
        |  JOIN nr ON nr.label = sr.label JOIN nc ON nc.label = sr.label),
        |g AS (SELECT label,
        |    CAST(SUM(CAST(s_ref * s_cur AS DECIMAL(20,6))) AS DOUBLE) AS dot,
        |    CAST(SUM(CAST(s_ref * s_ref AS DECIMAL(20,6))) AS DOUBLE) AS rr,
        |    CAST(SUM(CAST(s_cur * s_cur AS DECIMAL(20,6))) AS DOUBLE) AS cc,
        |    CAST(SUM(CAST(df_ * df_ AS DECIMAL(20,6))) AS DOUBLE) AS l2sq
        |  FROM dims GROUP BY 1)
        |SELECT n.label, COALESCE(n_ref, 0) AS n_ref, COALESCE(n_cur, 0) AS n_cur,
        |  CASE WHEN rr > 0.0 AND cc > 0.0
        |    THEN dot / (sqrt(rr) * sqrt(cc)) END AS centroid_cosine,
        |  CASE WHEN l2sq IS NOT NULL THEN sqrt(l2sq) END AS centroid_l2
        |FROM (SELECT COALESCE(nr.label, nc.label) AS label, n_ref, n_cur
        |  FROM nr FULL OUTER JOIN nc ON nr.label = nc.label) n
        |LEFT JOIN g ON g.label = n.label""".stripMargin),

    // reliability diagram: md5-fraction scores vs the purchase label,
    // micro-unit integer bins, decimal-exact mean predicted score
    Query("q242_calibration", (s, d) => {
      val ev = t(s, d, "events").select(
        graft.llmdata.Sampling.hashFraction(col("event_id")).as("score"),
        (col("event_type") === "purchase").as("label"))
      graft.operators.Profile.calibration(ev, "score", "label", nBins = 10)
    },
      // md5-fraction score (banked hex-parse bridge), micro-unit integer
      // bins, decimal-path mean score, single-division rates
      """WITH b AS (SELECT
        |    CAST(CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8) AS BIGINT) AS DOUBLE)
        |      / 4294967296.0 AS score,
        |    event_type = 'purchase' AS label FROM events),
        |b2 AS (SELECT *, CAST(CAST(score AS DECIMAL(20,6)) * 1000000 AS BIGINT) AS sm FROM b),
        |b3 AS (SELECT *, least((sm * 10) // 1000000, 9) AS bin
        |  FROM b2 WHERE sm BETWEEN 0 AND 1000000)
        |SELECT bin, CAST(bin AS DOUBLE) / 10 AS bin_lo,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |  CAST(SUM(CAST(score AS DECIMAL(20,6))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_score,
        |  CAST(SUM(CASE WHEN label THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS observed_rate,
        |  CAST(SUM(CASE WHEN label THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        |    - CAST(SUM(CAST(score AS DECIMAL(20,6))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS calibration_gap
        |FROM b3 GROUP BY 1""".stripMargin),

    // personalized PageRank (random-walk-with-restart): teleport mass
    // restricted to the seed parts -> proximity-to-seeds ranking
    Query("q243_personalized_pagerank", (s, d) => {
      val li = t(s, d, "lineitem").filter(col("l_quantity") >= 48)
        .select(col("l_orderkey"), col("l_partkey"))
      val pairs = li.as("a").join(li.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey")
            && col("a.l_partkey") < col("b.l_partkey"))
        .select(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"))
        .distinct()
      val edges = pairs.unionByName(
        pairs.select(col("dst").as("src"), col("src").as("dst")))
      val seeds = t(s, d, "part").filter(col("p_partkey") % 10 === 0)
        .select(col("p_partkey"))
      graft.operators.Graph.pageRank(edges, iterations = 2,
        teleportTo = Some(seeds))
    },
      // q116's unrolled shape with seed-restricted init + restart mass
      """WITH e0 AS (
        |  SELECT DISTINCT a.l_partkey AS s, b.l_partkey AS t
        |  FROM lineitem a JOIN lineitem b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  WHERE a.l_quantity >= 48 AND b.l_quantity >= 48),
        |e AS (SELECT CAST(s AS VARCHAR) AS src, CAST(t AS VARCHAR) AS dst FROM e0
        |  UNION ALL SELECT CAST(t AS VARCHAR), CAST(s AS VARCHAR) FROM e0),
        |nodes AS (SELECT DISTINCT src AS node FROM e),
        |sd AS (SELECT CAST(p_partkey AS VARCHAR) AS node FROM part
        |  WHERE p_partkey % 10 = 0),
        |nf AS (SELECT n.node, sd.node IS NOT NULL AS seed
        |  FROM nodes n LEFT JOIN sd ON sd.node = n.node),
        |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg FROM e GROUP BY 1),
        |r0 AS (SELECT node, seed,
        |    CAST(CASE WHEN seed THEN 1000000 ELSE 0 END AS BIGINT) AS rank_micro
        |  FROM nf),
        |c1 AS (SELECT e.dst AS node, CAST(SUM(r0.rank_micro // d.outdeg) AS BIGINT) AS im
        |  FROM e JOIN r0 ON e.src = r0.node JOIN deg d ON e.src = d.src GROUP BY 1),
        |r1 AS (SELECT n.node, n.seed,
        |    CAST(CASE WHEN n.seed THEN 150000 ELSE 0 END
        |      + (85 * COALESCE(c1.im, 0)) // 100 AS BIGINT) AS rank_micro
        |  FROM nf n LEFT JOIN c1 USING (node)),
        |c2 AS (SELECT e.dst AS node, CAST(SUM(r1.rank_micro // d.outdeg) AS BIGINT) AS im
        |  FROM e JOIN r1 ON e.src = r1.node JOIN deg d ON e.src = d.src GROUP BY 1),
        |r2 AS (SELECT n.node,
        |    CAST(CASE WHEN n.seed THEN 150000 ELSE 0 END
        |      + (85 * COALESCE(c2.im, 0)) // 100 AS BIGINT) AS rank_micro
        |  FROM nf n LEFT JOIN c2 USING (node))
        |SELECT node, rank_micro FROM r2""".stripMargin),

    // frequent 3-itemsets at the part-category rollup (raw part keys
    // never repeat triples on synthetic data); map-side C(k,3) fan-out
    Query("q244_itemsets3", (s, d) =>
      graft.operators.Patterns.itemsets3(
        t(s, d, "lineitem").withColumn("cat", col("l_partkey") % 50),
        "l_orderkey", "cat", minSupport = 5),
      // 3-way ordered self-join of the category-level basket table — the
      // SQL twin of the map-side C(k,3) generator fan-out
      """WITH oi AS (SELECT DISTINCT l_orderkey AS o, l_partkey % 50 AS p
        |  FROM lineitem WHERE l_partkey IS NOT NULL)
        |SELECT a.p AS item_a, b.p AS item_b, c.p AS item_c,
        |  CAST(COUNT(*) AS BIGINT) AS support
        |FROM oi a JOIN oi b ON a.o = b.o AND a.p < b.p
        |  JOIN oi c ON b.o = c.o AND b.p < c.p
        |GROUP BY 1, 2, 3 HAVING COUNT(*) >= 5""".stripMargin),

    // MinHash near-dup over ITEM SETS (order baskets at category
    // granularity) — the text dedup pipeline with stage 1 swapped for
    // caller-supplied memberships; same banded signatures + exact
    // verify, jaccard rounded like q34. Category universe 2000: a
    // 400-item universe went bucket-quadratic at sf0.1 (38.6 s — the
    // q34 small-vocab trap); the universe must scale with the corpus
    Query("q245_basket_neardup", (s, d) =>
      graft.llmdata.DedupOps.minhashLshSets(
        t(s, d, "lineitem").select(col("l_orderkey"),
          (col("l_partkey") % 2000).as("cat")),
        "l_orderkey", "cat", bands = 4, rows = 4, jaccardThreshold = 0.6)
        .withColumn("jaccard", round(col("jaccard"), 6)), {
      // the set variant's 60-bit LONG minhash (15 hex chars -> BIGINT,
      // band hash over '|'-joined decimal renderings); category rollup
      // keeps the item universe sparse (q34 small-vocab lesson)
      val hashes = (0 until mhBands * mhRows).map(i =>
        s"CAST('0x' || substr(md5(s || '#$i'), 1, 15) AS BIGINT) AS x$i")
        .mkString(", ")
      val mins = (0 until mhBands * mhRows).map(i => s"MIN(x$i) AS h$i")
        .mkString(", ")
      val bandRows = (0 until mhBands).map { b =>
        val parts = (0 until mhRows).map(r => s"CAST(h${b * mhRows + r} AS VARCHAR)")
          .mkString(" || '|' || ")
        s"SELECT doc_id, $b AS band, md5($parts) AS band_hash FROM sig"
      }.mkString(" UNION ALL ")
      s"""WITH oi AS (SELECT l_orderkey AS doc_id,
         |    CAST(l_partkey % 2000 AS VARCHAR) AS s FROM lineitem),
         |hashed AS (SELECT doc_id, $hashes FROM oi),
         |sig AS (SELECT doc_id, $mins FROM hashed GROUP BY 1),
         |banded AS ($bandRows),
         |sets AS (SELECT doc_id, list_sort(list_distinct(list(s))) AS sh
         |  FROM oi GROUP BY 1),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM banded a JOIN banded b
         |  ON a.band = b.band AND a.band_hash = b.band_hash
         |    AND a.doc_id < b.doc_id),
         |ver AS (SELECT id_a, id_b,
         |    CAST(len(list_intersect(a2.sh, b2.sh)) AS DOUBLE)
         |      / len(list_distinct(list_concat(a2.sh, b2.sh))) AS jaccard
         |  FROM cand JOIN sets a2 ON a2.doc_id = cand.id_a
         |  JOIN sets b2 ON b2.doc_id = cand.id_b)
         |SELECT id_a, id_b, ROUND(jaccard, 6) AS jaccard FROM ver
         |WHERE jaccard >= 0.6""".stripMargin
    }),

    // leakage-safe temporal split: per user, the time-ordered last 20%
    // of events -> test (hash splits leak the future into training)
    Query("q246_temporal_split", (s, d) =>
      graft.llmdata.Sampling.temporalSplit(
        t(s, d, "events").select("event_id", "user_id", "ts", "event_type"),
        "user_id", "ts", "event_id", testPct = 20),
      // per-entity rank over (ts DESC, id DESC); floor-div test quota
      """WITH r AS (SELECT event_id, user_id, ts, event_type,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn,
        |    COUNT(*) OVER (PARTITION BY user_id) AS n
        |  FROM events)
        |SELECT event_id, user_id, ts, event_type,
        |  CASE WHEN rn <= (n * 20) // 100 THEN 'test' ELSE 'train' END AS split
        |FROM r""".stripMargin),

    // Theil-Sen robust trend per event type: median of pairwise daily
    // slopes — outlier days can't drag it the way OLS (q119) moves
    Query("q247_theil_sen", (s, d) =>
      graft.operators.Timeseries.theilSen(t(s, d, "events"), "event_type",
        "ts", "value"),
      // pairwise slopes = one double subtraction over one integer-day
      // division; positional lower-median (2*rn >= n)
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS v,
        |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d
        |  FROM events GROUP BY 1, 2),
        |p AS (SELECT a.event_type, (b.v - a.v) / CAST(b.d - a.d AS DOUBLE) AS slope
        |  FROM daily a JOIN daily b
        |  ON a.event_type = b.event_type AND a.d < b.d),
        |r AS (SELECT event_type, slope,
        |    row_number() OVER (PARTITION BY event_type ORDER BY slope) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n FROM p)
        |SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_pairs,
        |  MIN(slope) AS theil_sen_slope
        |FROM r WHERE 2 * rn >= n GROUP BY 1""".stripMargin),

    // deterministic negative sampling (supplier x part): md5 draws into
    // the dense item index, positives anti-joined, first k by draw
    // order — no anchor x universe cross join anywhere
    Query("q248_negative_sample", (s, d) =>
      graft.llmdata.Sampling.negativeSample(
        t(s, d, "lineitem").select(col("l_suppkey").as("anchor"),
          col("l_partkey").as("item")),
        "anchor", "item",
        t(s, d, "part").select(col("p_partkey").as("item")),
        k = 3, oversample = 8),
      // scalar-list unnest in SELECT = the anchor x draws fan-out (lateral
      // generate_series is unsupported — banked); md5 hex bridge mod N
      """WITH pos AS (SELECT DISTINCT l_suppkey AS anchor, l_partkey AS item
        |  FROM lineitem),
        |idx AS (SELECT item,
        |    CAST(row_number() OVER (ORDER BY md5(CAST(item AS VARCHAR)), item)
        |      AS BIGINT) - 1 AS ix
        |  FROM (SELECT DISTINCT p_partkey AS item FROM part)),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM idx),
        |anchors AS (SELECT DISTINCT anchor FROM pos),
        |dr AS (SELECT anchor, unnest(generate_series(0, 10)) AS draw_index
        |  FROM anchors),
        |dr2 AS (SELECT anchor, draw_index,
        |    CAST('0x' || substr(md5(CAST(anchor AS VARCHAR) || '#'
        |      || CAST(draw_index AS VARCHAR)), 1, 8) AS BIGINT) % nn AS ix
        |  FROM dr, n),
        |cand AS (SELECT dr2.anchor, idx.item, dr2.draw_index
        |  FROM dr2 JOIN idx USING (ix)),
        |neg AS (SELECT c.anchor, c.item, MIN(c.draw_index) AS draw_index
        |  FROM cand c LEFT JOIN pos
        |  ON pos.anchor = c.anchor AND pos.item = c.item
        |  WHERE pos.anchor IS NULL GROUP BY 1, 2),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY anchor
        |    ORDER BY draw_index) AS rk FROM neg)
        |SELECT anchor, item, draw_index FROM rk WHERE rk <= 3""".stripMargin),

    // exact proration: order totals spread over lines by quantity in
    // integer micro-units, remainder to ONE deterministic line — the
    // shares sum back exactly at any parallelism. Lines pre-aggregate
    // per (order, linenumber): the synthetic data repeats line numbers
    // within an order, and the remainder rule needs a UNIQUE line id
    Query("q249_prorate", (s, d) =>
      graft.operators.Allocate.prorate(
        t(s, d, "lineitem")
          .groupBy(col("l_orderkey").as("okey"), col("l_linenumber"))
          .agg(sum(col("l_quantity").cast("decimal(20,6)"))
            .cast("double").as("l_quantity")),
        t(s, d, "orders").select(col("o_orderkey").as("okey"),
          col("o_totalprice")),
        "okey", "l_linenumber", "l_quantity", "o_totalprice"),
      // HUGEINT mirrors the decimal(38,0) micro products; floor shares,
      // remainder to rank-1 (ew DESC, line DESC); equal-split fallback
      """WITH l0 AS (SELECT l_orderkey AS okey, l_linenumber,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE) AS q
        |  FROM lineitem GROUP BY 1, 2),
        |l AS (SELECT okey, l_linenumber,
        |    CAST(COALESCE(q, 0) AS DECIMAL(20,6)) AS w,
        |    CAST(CAST(COALESCE(q, 0) AS DECIMAL(20,6)) * 1000000 AS BIGINT) AS wm
        |  FROM l0),
        |h AS (SELECT o_orderkey AS okey,
        |    CAST(CAST(o_totalprice AS DECIMAL(20,6)) * 1000000 AS BIGINT) AS tm
        |  FROM orders),
        |ws AS (SELECT okey, CAST(SUM(wm) AS BIGINT) AS tw,
        |    CAST(COUNT(*) AS BIGINT) AS n FROM l GROUP BY 1),
        |e AS (SELECT l.okey, l.l_linenumber, l.w, h.tm,
        |    CASE WHEN tw > 0 THEN wm ELSE 1 END AS sw,
        |    CASE WHEN tw > 0 THEN tw ELSE n END AS dw
        |  FROM l JOIN ws USING (okey) JOIN h USING (okey)),
        |s AS (SELECT *,
        |    CAST((CAST(tm AS HUGEINT) * CAST(sw AS HUGEINT)) // dw AS BIGINT) AS share,
        |    row_number() OVER (PARTITION BY okey
        |      ORDER BY sw DESC, l_linenumber DESC) AS rk
        |  FROM e),
        |f AS (SELECT *,
        |    tm - CAST(SUM(share) OVER (PARTITION BY okey) AS BIGINT) AS rem
        |  FROM s)
        |SELECT okey, l_linenumber, CAST(w AS DOUBLE) AS weight,
        |  share + CASE WHEN rk = 1 THEN rem ELSE 0 END AS allocated_micro,
        |  CAST(share + CASE WHEN rk = 1 THEN rem ELSE 0 END AS DOUBLE)
        |    / 1000000.0 AS allocated
        |FROM f""".stripMargin),

    // order->ship lead time in BUSINESS days (pure integer weekday
    // arithmetic), distribution per priority class
    Query("q250_business_days", (s, d) => {
      val o = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      val li = t(s, d, "lineitem")
        .select(col("l_orderkey").as("o_orderkey"), col("l_shipdate"))
      o.join(li, Seq("o_orderkey"))
        .withColumn("biz_days", graft.functions.ScalarFns.businessDaysBetween(
          col("o_orderdate").cast("date"), col("l_shipdate").cast("date")))
        .groupBy(col("o_orderpriority"), col("biz_days"))
        .agg(count(lit(1)).as("n_lines"))
    },
      // Monday-anchored index m = epoch_days + 4 (the +1 for the
      // exclusive start folded in); B(x) = 5*(x//7) + least(x%7, 5)
      """WITH j AS (SELECT o_orderpriority,
        |    CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS BIGINT) + 4 AS me,
        |    CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) + 4 AS ms
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |b AS (SELECT o_orderpriority,
        |    (5 * ((me - me % 7) // 7) + least(me % 7, 5))
        |  - (5 * ((ms - ms % 7) // 7) + least(ms % 7, 5)) AS biz_days
        |  FROM j)
        |SELECT o_orderpriority, CAST(biz_days AS BIGINT) AS biz_days,
        |  CAST(COUNT(*) AS BIGINT) AS n_lines
        |FROM b GROUP BY 1, 2""".stripMargin),

    // method scoring: exact-fingerprint dup pairs evaluated against the
    // minhash near-dup pair set — precision/recall/F1 as exact single
    // divisions (F1 = 2tp/(np+nt), no p*r/(p+r) intermediate)
    Query("q251_pair_eval", (s, d) => {
      val docs = t(s, d, "documents")
      val fp = docs.select(col("doc_id"),
        graft.llmdata.TextAnalysis.fingerprint(col("text")).as("fp"))
      val pred = fp.as("a").join(fp.as("b"),
          col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      val truth = graft.llmdata.DedupOps.minhashLsh(docs, "doc_id", "text",
        shingleSize = 3, bands = 4, rows = 4, jaccardThreshold = 0.4)
      graft.llmdata.DedupOps.pairEval(pred, truth)
    },
      // q30's fingerprint pairs scored against the q34 minhash truth set
      s"""WITH $minhashPairsCtes,
         |fp AS (SELECT doc_id, md5(trim(regexp_replace(regexp_replace(
         |    lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS f
         |  FROM documents),
         |pred AS (SELECT DISTINCT least(a.doc_id, b.doc_id) AS pa,
         |    greatest(a.doc_id, b.doc_id) AS pb
         |  FROM fp a JOIN fp b ON a.f = b.f AND a.doc_id < b.doc_id),
         |tr AS (SELECT DISTINCT least(id_a, id_b) AS pa,
         |    greatest(id_a, id_b) AS pb FROM mh_pairs),
         |np AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_predicted FROM pred),
         |nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth FROM tr),
         |tp AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_matched
         |  FROM pred JOIN tr USING (pa, pb))
         |SELECT n_predicted, n_truth, n_matched,
         |  CASE WHEN n_predicted > 0
         |    THEN CAST(n_matched AS DOUBLE) / CAST(n_predicted AS DOUBLE) END AS precision,
         |  CASE WHEN n_truth > 0
         |    THEN CAST(n_matched AS DOUBLE) / CAST(n_truth AS DOUBLE) END AS recall,
         |  CASE WHEN n_predicted + n_truth > 0
         |    THEN CAST(2 * n_matched AS DOUBLE)
         |      / CAST(n_predicted + n_truth AS DOUBLE) END AS f1
         |FROM np, nt, tp""".stripMargin),

    // column-level PII screen over a planted-identifier probe frame:
    // email/phone/card-shaped shares per column, Luhn-validated cards
    Query("q252_pii_scan", (s, d) => {
      val c = t(s, d, "customer")
      val probe = c.select(
        when(col("c_custkey") % 3 === 0,
          concat(regexp_replace(lower(col("c_name")), "[^a-z0-9]", "."),
            lit("@example.com")))
          .otherwise(col("c_name")).as("contact"),
        when(col("c_custkey") % 4 === 0,
          concat(lit("+1 (555) "),
            lpad((col("c_custkey") % 10000000).cast("string"), 7, "0")))
          .otherwise(col("c_mktsegment")).as("phone_field"),
        when(col("c_custkey") % 5 === 0,
          lpad((col("c_custkey") * 7919L).cast("string"), 16, "4"))
          .otherwise(col("c_mktsegment")).as("card_field"))
      graft.checks.Privacy.piiColumnScan(probe,
        Seq("contact", "phone_field", "card_field"), flagAt = 0.1)
    }, {
      // per-column union of (email regex, digit-length phone test,
      // Luhn-folded card test) aggregates over the planted probe
      val luhn = "CASE WHEN length(dg) BETWEEN 13 AND 19 THEN " +
        "list_sum(list_transform(generate_series(1, length(dg)), i -> " +
        "CASE WHEN (i - 1) % 2 = 0 THEN CAST(substr(reverse(dg), i, 1) AS INT) " +
        "ELSE CASE WHEN 2 * CAST(substr(reverse(dg), i, 1) AS INT) > 9 " +
        "THEN 2 * CAST(substr(reverse(dg), i, 1) AS INT) - 9 " +
        "ELSE 2 * CAST(substr(reverse(dg), i, 1) AS INT) END END)) % 10 = 0 " +
        "ELSE FALSE END"
      val email = "regexp_matches(v, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')"
      val phone = "length(dg) BETWEEN 7 AND 12 AND regexp_matches(v, '^[0-9 ()+.-]+$')"
      def one(name: String, sel: String) =
        s"""SELECT '$name' AS column_name,
           |  CAST(COUNT(*) AS BIGINT) AS n_values,
           |  CAST(SUM(CASE WHEN $email THEN 1 ELSE 0 END) AS BIGINT) AS n_email,
           |  CAST(SUM(CASE WHEN $phone THEN 1 ELSE 0 END) AS BIGINT) AS n_phone,
           |  CAST(SUM(CASE WHEN $luhn THEN 1 ELSE 0 END) AS BIGINT) AS n_card_luhn
           |FROM (SELECT $sel AS v,
           |    regexp_replace($sel, '[^0-9]', '', 'g') AS dg
           |  FROM probe WHERE $sel IS NOT NULL)""".stripMargin
      s"""WITH probe AS (SELECT
         |    CASE WHEN c_custkey % 3 = 0
         |      THEN regexp_replace(lower(c_name), '[^a-z0-9]', '.', 'g') || '@example.com'
         |      ELSE c_name END AS contact,
         |    CASE WHEN c_custkey % 4 = 0
         |      THEN '+1 (555) ' || lpad(CAST(c_custkey % 10000000 AS VARCHAR), 7, '0')
         |      ELSE c_mktsegment END AS phone_field,
         |    CASE WHEN c_custkey % 5 = 0
         |      THEN lpad(CAST(c_custkey * 7919 AS VARCHAR), 16, '4')
         |      ELSE c_mktsegment END AS card_field
         |  FROM customer),
         |u AS (${one("contact", "contact")}
         |  UNION ALL ${one("phone_field", "phone_field")}
         |  UNION ALL ${one("card_field", "card_field")})
         |SELECT column_name, n_values, n_email, n_phone, n_card_luhn,
         |  CAST(n_email AS DOUBLE) / CAST(n_values AS DOUBLE) AS email_share,
         |  CAST(n_phone AS DOUBLE) / CAST(n_values AS DOUBLE) AS phone_share,
         |  CAST(n_card_luhn AS DOUBLE) / CAST(n_values AS DOUBLE) AS card_share,
         |  CAST(n_email AS DOUBLE) / CAST(n_values AS DOUBLE) >= 0.1
         |    OR CAST(n_phone AS DOUBLE) / CAST(n_values AS DOUBLE) >= 0.1
         |    OR CAST(n_card_luhn AS DOUBLE) / CAST(n_values AS DOUBLE) >= 0.1
         |    AS flagged
         |FROM u""".stripMargin
    }),

    // survival BY segment (derived acquisition channel): one curve per
    // channel, shared global censoring horizon, per-segment ordered
    // folds mirrored by per-segment recursive chains
    Query("q253_survival_by_channel", (s, d) =>
      graft.operators.Retention.kaplanMeierBy(
        t(s, d, "events").withColumn("channel", col("user_id") % 3),
        "channel", "user_id", "ts", censorDays = 3),
      // the q224 recursive fold, chained PER SEGMENT (join on channel +
      // rn); global stream end shared across channels
      """WITH RECURSIVE pu AS (SELECT user_id % 3 AS channel, user_id,
        |    CAST(MIN(ts) AS DATE) AS fd, CAST(MAX(ts) AS DATE) AS ld
        |  FROM events GROUP BY 1, 2),
        |se AS (SELECT MAX(ld) AS stream_end FROM pu),
        |lab AS (SELECT channel, CAST(ld - fd AS INT) AS t_day,
        |    ld >= stream_end - 3 AS censored FROM pu, se),
        |byt AS (SELECT channel, t_day,
        |    CAST(SUM(CASE WHEN censored THEN 0 ELSE 1 END) AS BIGINT) AS n_deaths,
        |    CAST(SUM(CASE WHEN censored THEN 1 ELSE 0 END) AS BIGINT) AS n_censored
        |  FROM lab GROUP BY 1, 2),
        |tot AS (SELECT channel, CAST(SUM(n_deaths + n_censored) AS BIGINT) AS total
        |  FROM byt GROUP BY 1),
        |idx AS (SELECT byt.channel, t_day, n_deaths, n_censored,
        |    total - COALESCE(CAST(SUM(n_deaths + n_censored) OVER
        |      (PARTITION BY byt.channel ORDER BY t_day
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS BIGINT), 0) AS n_at_risk,
        |    row_number() OVER (PARTITION BY byt.channel ORDER BY t_day) AS rn
        |  FROM byt JOIN tot ON tot.channel = byt.channel),
        |f AS (SELECT *, CAST(1.0 AS DOUBLE)
        |    - CAST(n_deaths AS DOUBLE) / CAST(n_at_risk AS DOUBLE) AS factor
        |  FROM idx),
        |km(channel, rn, t_day, n_at_risk, n_deaths, n_censored, survival) AS (
        |  SELECT channel, rn, t_day, n_at_risk, n_deaths, n_censored, factor
        |  FROM f WHERE rn = 1
        |  UNION ALL
        |  SELECT f.channel, f.rn, f.t_day, f.n_at_risk, f.n_deaths,
        |    f.n_censored, km.survival * f.factor
        |  FROM km JOIN f ON f.channel = km.channel AND f.rn = km.rn + 1)
        |SELECT channel, t_day, n_at_risk, n_deaths, n_censored, survival
        |FROM km""".stripMargin),

    // top-5 suppliers per nation by revenue with an __other__ rollup —
    // the tail's mass is preserved, shares still sum to group totals
    Query("q254_top_suppliers", (s, d) => {
      val li = t(s, d, "lineitem")
        .select(col("l_suppkey").as("s_suppkey"), col("l_extendedprice"))
      val sup = t(s, d, "supplier").select(col("s_suppkey"), col("s_nationkey"))
      graft.operators.Profile.topKWithOthers(
        li.join(broadcast(sup), Seq("s_suppkey")),
        "s_nationkey", "s_suppkey", "l_extendedprice", k = 5)
    },
      // decimal-ranked (weight DESC, item ASC) top-5 cut; Other rank k+1
      """WITH a AS (SELECT s_nationkey, l.l_suppkey AS sk,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,6))) AS DECIMAL(38,6)) AS w
        |  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY s_nationkey
        |    ORDER BY w DESC, sk ASC) AS rk FROM a),
        |b AS (SELECT s_nationkey,
        |    CASE WHEN rk <= 5 THEN CAST(sk AS VARCHAR) ELSE '__other__' END AS item,
        |    rk > 5 AS is_other,
        |    rk, w FROM r)
        |SELECT s_nationkey, item, is_other,
        |  CAST(least(MIN(rk), 6) AS INT) AS rank,
        |  CAST(COUNT(*) AS BIGINT) AS n_items,
        |  CAST(SUM(w) AS DOUBLE) AS total
        |FROM b GROUP BY 1, 2, 3""".stripMargin),

    // region -> nation revenue shares (share-of-parent + share-of-total)
    Query("q255_share_of_parent", (s, d) => {
      val li = t(s, d, "lineitem")
        .select(col("l_suppkey").as("s_suppkey"), col("l_extendedprice"))
      val sup = t(s, d, "supplier").select(col("s_suppkey"), col("s_nationkey"))
      val nat = t(s, d, "nation").select(col("n_nationkey").as("s_nationkey"),
        col("n_name"), col("n_regionkey"))
      val reg = t(s, d, "region").select(col("r_regionkey").as("n_regionkey"),
        col("r_name"))
      graft.operators.Profile.shareOfParent(
        li.join(broadcast(sup), Seq("s_suppkey"))
          .join(broadcast(nat), Seq("s_nationkey"))
          .join(broadcast(reg), Seq("n_regionkey")),
        "r_name", "n_name", "l_extendedprice")
    },
      // two decimal rollups, single-division shares
      """WITH c AS (SELECT r_name, n_name,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,6))) AS DECIMAL(38,6)) AS cw
        |  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  JOIN nation n ON s.s_nationkey = n.n_nationkey
        |  JOIN region rg ON n.n_regionkey = rg.r_regionkey
        |  GROUP BY 1, 2),
        |p AS (SELECT r_name, CAST(SUM(cw) AS DECIMAL(38,6)) AS pw FROM c GROUP BY 1),
        |g AS (SELECT CAST(SUM(pw) AS DECIMAL(38,6)) AS gw FROM p)
        |SELECT c.r_name, c.n_name, CAST(cw AS DOUBLE) AS total,
        |  CAST(cw AS DOUBLE) / CAST(pw AS DOUBLE) AS share_of_parent,
        |  CAST(cw AS DOUBLE) / CAST(gw AS DOUBLE) AS share_of_total
        |FROM c JOIN p USING (r_name), g""".stripMargin),

    // association rules {a,b} -> c off the frequent triples: exact
    // confidence + lift (support*n / (pair_support*cnt_c), one division)
    Query("q256_rules3", (s, d) =>
      graft.operators.Patterns.rules3(
        t(s, d, "lineitem").withColumn("cat", col("l_partkey") % 50),
        "l_orderkey", "cat", minSupport = 5),
      // q244's triple counts unioned into 3 rules each, joined to pair
      // supports and consequent counts; basket total rides a scalar
      """WITH oi AS (SELECT DISTINCT l_orderkey AS o, l_partkey % 50 AS p
        |  FROM lineitem WHERE l_partkey IS NOT NULL),
        |t3 AS (SELECT a.p AS pa3, b.p AS pb3, c.p AS pc3,
        |    CAST(COUNT(*) AS BIGINT) AS support
        |  FROM oi a JOIN oi b ON a.o = b.o AND a.p < b.p
        |  JOIN oi c ON b.o = c.o AND b.p < c.p
        |  GROUP BY 1, 2, 3 HAVING COUNT(*) >= 5),
        |p2 AS (SELECT x.p AS qa, y.p AS qb,
        |    CAST(COUNT(*) AS BIGINT) AS pair_support
        |  FROM oi x JOIN oi y ON x.o = y.o AND x.p < y.p GROUP BY 1, 2),
        |ic AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS cn FROM oi GROUP BY 1),
        |nb AS (SELECT CAST(COUNT(DISTINCT o) AS BIGINT) AS n FROM oi),
        |r AS (SELECT pa3 AS ant_a, pb3 AS ant_b, pc3 AS consequent, support FROM t3
        |  UNION ALL SELECT pa3, pc3, pb3, support FROM t3
        |  UNION ALL SELECT pb3, pc3, pa3, support FROM t3)
        |SELECT ant_a, ant_b, consequent, support, pair_support,
        |  CAST(support AS DOUBLE) / CAST(pair_support AS DOUBLE) AS confidence,
        |  CAST(support * n AS DOUBLE) / CAST(pair_support * cn AS DOUBLE) AS lift
        |FROM r JOIN p2 ON ant_a = qa AND ant_b = qb
        |JOIN ic ON consequent = ic.p, nb""".stripMargin),

    // SLA readout: p50/p90/p99 business-day lead times per priority via
    // the exact rational-threshold grouped-quantile machinery
    Query("q257_sla_quantiles", (s, d) => {
      val o = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      val li = t(s, d, "lineitem")
        .select(col("l_orderkey").as("o_orderkey"), col("l_shipdate"))
      val lead = o.join(li, Seq("o_orderkey"))
        .select(col("o_orderpriority"),
          graft.functions.ScalarFns.businessDaysBetween(
            col("o_orderdate").cast("date"), col("l_shipdate").cast("date"))
            .as("biz_days"))
      graft.operators.Profile.quantilesFromCountsBy(
        graft.operators.Profile.quantilePartialBy(lead, "o_orderpriority",
          "biz_days"),
        Seq((1, 2), (9, 10), (99, 100)))
    },
      // q250's integer lead times through the banked rational-threshold
      // grouped quantile convention (min value with cum*den >= num*n)
      """WITH j AS (SELECT o_orderpriority,
        |    CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS BIGINT) + 4 AS me,
        |    CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) + 4 AS ms
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |b AS (SELECT o_orderpriority AS grp,
        |    (5 * ((me - me % 7) // 7) + least(me % 7, 5))
        |  - (5 * ((ms - ms % 7) // 7) + least(ms % 7, 5)) AS value
        |  FROM j),
        |vc AS (SELECT grp, CAST(value AS BIGINT) AS value,
        |    CAST(COUNT(*) AS BIGINT) AS cnt FROM b GROUP BY 1, 2),
        |cum AS (SELECT grp, value,
        |    SUM(cnt) OVER (PARTITION BY grp ORDER BY value) AS cum,
        |    SUM(cnt) OVER (PARTITION BY grp) AS n FROM vc),
        |qs AS (SELECT * FROM (VALUES (1, 2), (9, 10), (99, 100)) t(q_num, q_den))
        |SELECT grp, q_num, q_den, MIN(value) AS quantile_value,
        |  CAST(MIN(n) AS BIGINT) AS n
        |FROM cum JOIN qs ON cum * q_den >= q_num * n
        |GROUP BY 1, 2, 3""".stripMargin),

    // neighborhood link prediction on the co-purchase graph: wedge-join
    // candidates only, exact jaccard + preferential attachment
    Query("q233_link_prediction", (s, d) => {
      val li = t(s, d, "lineitem").filter(col("l_quantity") >= 48)
        .select(col("l_orderkey"), col("l_partkey"))
      val edges = li.as("a").join(li.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey")
            && col("a.l_partkey") < col("b.l_partkey"))
        .select(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"))
        .distinct()
      graft.operators.Graph.linkPrediction(edges, "src", "dst", minCommon = 1)
    },
      // wedge-join candidates only (pair appears once per common
      // neighbor), existing edges anti-joined out, exact integer scores
      """WITH e0 AS (
        |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        |  FROM lineitem a JOIN lineitem b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  WHERE a.l_quantity >= 48 AND b.l_quantity >= 48),
        |adj AS (SELECT src AS mid, dst AS leaf FROM e0
        |  UNION ALL SELECT dst, src FROM e0),
        |deg AS (SELECT mid AS node, CAST(COUNT(*) AS BIGINT) AS degree
        |  FROM adj GROUP BY 1),
        |w AS (SELECT l.leaf AS a, r.leaf AS b, CAST(COUNT(*) AS BIGINT) AS n_common
        |  FROM adj l JOIN adj r ON l.mid = r.mid AND l.leaf < r.leaf
        |  GROUP BY 1, 2),
        |nw AS (SELECT w.* FROM w LEFT JOIN e0
        |  ON e0.src = w.a AND e0.dst = w.b WHERE e0.src IS NULL)
        |SELECT a, b, n_common, da.degree AS deg_a, db.degree AS deg_b,
        |  CAST(n_common AS DOUBLE)
        |    / CAST(da.degree + db.degree - n_common AS DOUBLE) AS jaccard,
        |  CAST(da.degree * db.degree AS BIGINT) AS pref_attachment
        |FROM nw JOIN deg da ON da.node = nw.a JOIN deg db ON db.node = nw.b
        |WHERE n_common >= 1""".stripMargin),

    // monitor-sink replay equivalence (q217/q237 pattern): the month's
    // events split into three "micro-batches" by day and folded through
    // EXACTLY the drift sink's merge algebra; the final cumulative mix
    // vs the pinned first-half reference must equal a one-shot
    // computation (oracle computes it directly from raw events)
    Query("q258_drift_sink_replay", (s, d) => {
      val ev = t(s, d, "events")
      def delta(lo: String, hi: String) = ev
        .filter(col("ts") >= lit(lo).cast("timestamp_ntz")
          && col("ts") < lit(hi).cast("timestamp_ntz"))
        .groupBy(col("event_type").as("category"))
        .agg(count(lit(1)).as("cnt"))
      val folded = graft.streaming.Streaming.mergeCategoryCounts(
        graft.streaming.Streaming.mergeCategoryCounts(
          delta("2024-01-01", "2024-01-11"), delta("2024-01-11", "2024-01-21")),
        delta("2024-01-21", "2024-02-01"))
      val ref = ev.filter(col("ts") < lit("2024-01-16").cast("timestamp_ntz"))
        .groupBy(col("event_type").as("category"))
        .agg(count(lit(1)).as("cnt"))
      graft.checks.Drift.totalVariationFromCounts(ref, folded)
        .drop("tv_distance")
    },
      // one-shot mix vs pinned first-half reference — the fold through
      // the sink's merge algebra must land on exactly this
      """WITH r AS (SELECT event_type AS category, CAST(COUNT(*) AS BIGINT) AS ref_cnt
        |  FROM events WHERE ts < TIMESTAMP '2024-01-16' GROUP BY 1),
        |c AS (SELECT event_type AS category, CAST(COUNT(*) AS BIGINT) AS cur_cnt
        |  FROM events WHERE ts >= TIMESTAMP '2024-01-01'
        |    AND ts < TIMESTAMP '2024-02-01' GROUP BY 1),
        |j AS (SELECT COALESCE(r.category, c.category) AS category,
        |        COALESCE(ref_cnt, 0) AS ref_cnt, COALESCE(cur_cnt, 0) AS cur_cnt
        |      FROM r FULL OUTER JOIN c ON r.category = c.category),
        |tt AS (SELECT CAST(SUM(ref_cnt) AS BIGINT) AS ref_total,
        |              CAST(SUM(cur_cnt) AS BIGINT) AS cur_total FROM j)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_categories,
        |  CAST(SUM(ABS(CAST(cur_cnt AS HUGEINT) * ref_total - CAST(ref_cnt AS HUGEINT) * cur_total)) AS BIGINT) AS tv_numerator,
        |  CAST(MAX(ref_total) AS BIGINT) AS ref_total,
        |  CAST(MAX(cur_total) AS BIGINT) AS cur_total
        |FROM j, tt""".stripMargin),

    // CUSUM sink replay: three day-sliced batches folded through the
    // sink's daily-counts merge, alarms re-derived from the merged
    // state — must equal the one-shot q232 computation (same oracle)
    Query("q259_cusum_sink_replay", (s, d) => {
      val ev = t(s, d, "events")
      def delta(lo: String, hi: String) = ev
        .filter(col("ts") >= lit(lo).cast("timestamp_ntz")
          && col("ts") < lit(hi).cast("timestamp_ntz"))
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("cnt"))
      val folded = graft.streaming.Streaming.mergeDailyCounts(
        graft.streaming.Streaming.mergeDailyCounts(
          delta("2024-01-01", "2024-01-11"), delta("2024-01-11", "2024-01-21"),
          "event_type"),
        delta("2024-01-21", "2024-02-01"), "event_type")
      graft.operators.Timeseries.cusumFromDaily(folded, "event_type",
        slackMicro = 20000000L, hMicro = 100000000L)
    },
      // one-shot CUSUM over the same day window the three folded batches
      // cover (the q232 closed form, window-restricted)
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(COUNT(*) AS BIGINT) AS cnt FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01'
        |  GROUP BY 1, 2),
        |b AS (SELECT event_type, MIN(day) AS lo, MAX(day) AS hi,
        |    CAST(SUM(cnt) AS BIGINT) AS s FROM daily GROUP BY 1),
        |sp AS (SELECT event_type,
        |    (s * 1000000) // (CAST(hi - lo AS BIGINT) + 1) AS target,
        |    CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
        |      CAST(hi AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM b),
        |j AS (SELECT sp.event_type, sp.day, sp.target,
        |    COALESCE(daily.cnt, 0) AS n_events
        |  FROM sp LEFT JOIN daily USING (event_type, day)),
        |dv AS (SELECT *, n_events * 1000000 - target - 20000000 AS dev_up,
        |    target - n_events * 1000000 - 20000000 AS dev_dn FROM j),
        |w AS (SELECT *, CAST(SUM(dev_up) OVER win AS BIGINT) AS pu,
        |    CAST(SUM(dev_dn) OVER win AS BIGINT) AS pd
        |  FROM dv WINDOW win AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |f AS (SELECT *,
        |    pu - least(0, CAST(MIN(pu) OVER win AS BIGINT)) AS s_plus_micro,
        |    pd - least(0, CAST(MIN(pd) OVER win AS BIGINT)) AS s_minus_micro
        |  FROM w WINDOW win AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT event_type, day, n_events, s_plus_micro, s_minus_micro,
        |  s_plus_micro > 100000000 AS alarm_up,
        |  s_minus_micro > 100000000 AS alarm_down
        |FROM f""".stripMargin),

    // freshness sink replay: per-key MAX watermarks folded across the
    // three batches, lag snapshot judged at the merged table's own max
    // instant (the sink's asOf rule) — equals the one-shot report
    Query("q260_freshness_sink_replay", (s, d) => {
      val ev = t(s, d, "events")
      def delta(lo: String, hi: String) = ev
        .filter(col("ts") >= lit(lo).cast("timestamp_ntz")
          && col("ts") < lit(hi).cast("timestamp_ntz"))
        .groupBy(col("event_type"))
        .agg(max(col("ts")).as("last_ts"))
      val folded = graft.streaming.Streaming.mergeWatermarks(
        graft.streaming.Streaming.mergeWatermarks(
          delta("2024-01-01", "2024-01-11"), delta("2024-01-11", "2024-01-21"),
          "event_type"),
        delta("2024-01-21", "2024-02-01"), "event_type")
      folded
        .crossJoin(broadcast(folded.agg(max(col("last_ts")).as("__asof"))))
        .withColumn("lag_seconds",
          expr("(unix_micros(cast(__asof as timestamp)) " +
            "- unix_micros(cast(last_ts as timestamp))) div 1000000L"))
        .drop("__asof")
        .withColumn("is_stale", col("lag_seconds") > 43200L)
    },
      // one-shot per-key watermark + lag at the table's own max instant
      """WITH m AS (SELECT event_type, MAX(ts) AS last_ts FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01'
        |  GROUP BY 1),
        |a AS (SELECT MAX(last_ts) AS as_of FROM m)
        |SELECT event_type, last_ts,
        |  (epoch_us(CAST(as_of AS TIMESTAMP)) - epoch_us(CAST(last_ts AS TIMESTAMP)))
        |    // 1000000 AS lag_seconds,
        |  (epoch_us(CAST(as_of AS TIMESTAMP)) - epoch_us(CAST(last_ts AS TIMESTAMP)))
        |    // 1000000 > 43200 AS is_stale
        |FROM m, a""".stripMargin),

    // two-sample Kolmogorov-Smirnov per line status: returned vs kept
    // quantity distributions — exact integer D numerator over the
    // distinct-value CDF lattice, one final division
    Query("q261_ks_two_sample", (s, d) =>
      graft.operators.RankStats.ksTwoSample(t(s, d, "lineitem"),
        "l_linestatus", "l_quantity", col("l_returnflag") === "R"),
      // CDF lattice over distinct values; HUGEINT cross products (exact),
      // final width pinned to DECIMAL(38,0) to match the engine
      """WITH c AS (SELECT l_linestatus AS k, l_quantity AS v,
        |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END) AS BIGINT) AS cb
        |  FROM lineitem WHERE l_quantity IS NOT NULL
        |    AND l_returnflag IS NOT NULL GROUP BY 1, 2),
        |w AS (SELECT *,
        |    CAST(SUM(ca) OVER win AS HUGEINT) AS cuma,
        |    CAST(SUM(cb) OVER win AS HUGEINT) AS cumb
        |  FROM c WINDOW win AS (PARTITION BY k ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |t AS (SELECT k, CAST(SUM(ca) AS BIGINT) AS n_a,
        |    CAST(SUM(cb) AS BIGINT) AS n_b FROM c GROUP BY 1),
        |g AS (SELECT w.k, t.n_a, t.n_b,
        |    MAX(ABS(cuma * t.n_b - cumb * t.n_a)) AS dnum
        |  FROM w JOIN t USING (k) WHERE t.n_a > 0 AND t.n_b > 0
        |  GROUP BY 1, 2, 3)
        |SELECT k AS l_linestatus, n_a, n_b,
        |  CAST(dnum AS BIGINT) AS d_numerator,
        |  CAST(dnum AS DOUBLE)
        |    / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) AS d_statistic
        |FROM g""".stripMargin),

    // Mann-Whitney U per order priority: finished vs open order totals
    // — doubled midranks keep average-rank ties exact-integer
    Query("q262_mann_whitney", (s, d) =>
      graft.operators.RankStats.mannWhitneyU(t(s, d, "orders"),
        "o_orderpriority", "o_totalprice", col("o_orderstatus") === "F"),
      // doubled midranks 2*C_prev + t + 1 on the distinct-value frame;
      // 2*U_A = 2*R_A - nA*(nA+1); identity gives U_B
      """WITH c AS (SELECT o_orderpriority AS k, o_totalprice AS v,
        |    CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |    CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 0 ELSE 1 END) AS BIGINT) AS cb
        |  FROM orders WHERE o_totalprice IS NOT NULL
        |    AND o_orderstatus IS NOT NULL GROUP BY 1, 2),
        |w AS (SELECT *, ca + cb AS t,
        |    CAST(SUM(ca + cb) OVER win AS HUGEINT) AS cum
        |  FROM c WINDOW win AS (PARTITION BY k ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |g AS (SELECT k, CAST(SUM(ca) AS BIGINT) AS n_a,
        |    CAST(SUM(cb) AS BIGINT) AS n_b,
        |    SUM(CAST(ca AS HUGEINT) * (2 * (cum - t) + t + 1)) AS ra_d
        |  FROM w GROUP BY 1)
        |SELECT k AS o_orderpriority, n_a, n_b,
        |  CAST(ra_d - CAST(n_a AS HUGEINT) * (n_a + 1) AS BIGINT) AS u_a_doubled,
        |  CAST(2 * CAST(n_a AS HUGEINT) * n_b
        |    - (ra_d - CAST(n_a AS HUGEINT) * (n_a + 1)) AS BIGINT) AS u_b_doubled
        |FROM g WHERE n_a > 0 AND n_b > 0""".stripMargin),

    // Gini concentration of order totals per priority — micro-unit
    // integer sorted-position sums via the tie-group identity
    Query("q263_gini", (s, d) =>
      graft.operators.RankStats.giniByKey(t(s, d, "orders"),
        "o_orderpriority", "o_totalprice"),
      // tie-group identity turns the sorted-position sum into a
      // distinct-value aggregate; micro-unit integers end-to-end
      """WITH m AS (SELECT o_orderpriority AS k,
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) * 10000 AS v
        |  FROM orders WHERE o_totalprice IS NOT NULL),
        |c AS (SELECT k, v, CAST(COUNT(*) AS BIGINT) AS t FROM m GROUP BY 1, 2),
        |w AS (SELECT *, CAST(SUM(t) OVER win AS HUGEINT) AS cum
        |  FROM c WINDOW win AS (PARTITION BY k ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |g AS (SELECT k, CAST(SUM(t) AS BIGINT) AS n,
        |    SUM(CAST(v AS HUGEINT) * t) AS total_micro,
        |    SUM(CAST(v AS HUGEINT) * t * (2 * (cum - t) + t + 1)) AS two_ix
        |  FROM w GROUP BY 1)
        |SELECT k AS o_orderpriority, n,
        |  CAST(total_micro AS BIGINT) AS total_micro,
        |  CASE WHEN total_micro > 0 THEN
        |    (CAST(two_ix AS DOUBLE) - CAST(n + 1 AS DOUBLE) * CAST(total_micro AS DOUBLE))
        |      / (CAST(n AS DOUBLE) * CAST(total_micro AS DOUBLE))
        |  END AS gini
        |FROM g""".stripMargin),

    // Spearman rank correlation (quantity vs revenue) per return flag
    // — midranks from distinct-value cumulations, moments in decimal
    Query("q264_spearman", (s, d) =>
      graft.operators.RankStats.spearmanByKey(t(s, d, "lineitem"),
        "l_returnflag", "l_quantity", "l_extendedprice"),
      // Pearson over doubled midranks; single-op IEEE finish, sqrt safe
      """WITH b AS (SELECT l_returnflag AS k, l_quantity AS x,
        |    l_extendedprice AS y, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM lineitem WHERE l_quantity IS NOT NULL
        |    AND l_extendedprice IS NOT NULL GROUP BY 1, 2, 3),
        |rx AS (SELECT k, x, 2 * (CAST(SUM(SUM(c)) OVER win AS HUGEINT) - SUM(c))
        |      + SUM(c) + 1 AS rd
        |  FROM b GROUP BY 1, 2 WINDOW win AS (PARTITION BY k ORDER BY x
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |ry AS (SELECT k, y, 2 * (CAST(SUM(SUM(c)) OVER win AS HUGEINT) - SUM(c))
        |      + SUM(c) + 1 AS rd
        |  FROM b GROUP BY 1, 2 WINDOW win AS (PARTITION BY k ORDER BY y
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |m AS (SELECT b.k, CAST(SUM(c) AS BIGINT) AS n,
        |    SUM(c * rx.rd) AS sx, SUM(c * ry.rd) AS sy,
        |    SUM(c * rx.rd * rx.rd) AS sxx, SUM(c * ry.rd * ry.rd) AS syy,
        |    SUM(c * rx.rd * ry.rd) AS sxy
        |  FROM b JOIN rx ON b.k = rx.k AND b.x = rx.x
        |  JOIN ry ON b.k = ry.k AND b.y = ry.y GROUP BY 1)
        |SELECT k AS l_returnflag, n,
        |  CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
        |    AND (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0 THEN
        |    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |      * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
        |  END AS rho
        |FROM m""".stripMargin),

    // hashing-trick featurization: signed 64-bucket sparse vectors, no
    // fitted vocabulary — one map-side pass + one hash aggregate
    Query("q265_feature_hash", (s, d) =>
      graft.llmdata.TextAnalysis.featureHash(t(s, d, "documents"),
        "doc_id", "text", nBuckets = 64),
      // md5 hex bridge for bucket + sign; cancelled buckets dropped
      """WITH tok AS (SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |  FROM documents),
        |h AS (SELECT doc_id, md5(term) AS h FROM tok WHERE length(term) > 0),
        |s AS (SELECT doc_id,
        |    CAST(CAST('0x' || substr(h, 1, 8) AS BIGINT) % 64 AS INT) AS bucket,
        |    CASE WHEN substr(h, 9, 1) < '8' THEN 1 ELSE -1 END AS sign
        |  FROM h)
        |SELECT doc_id, bucket, CAST(SUM(sign) AS BIGINT) AS weight
        |FROM s GROUP BY 1, 2 HAVING SUM(sign) <> 0""".stripMargin),

    // K-fold out-of-fold target encoding table (leakage-safe): md5
    // fold draws, decimal-exact sums, single-division means
    Query("q266_target_encode", (s, d) =>
      graft.operators.Encode.targetEncodeOOF(t(s, d, "orders"),
        "o_orderpriority", "o_totalprice", "o_orderkey",
        nFolds = 5, salt = "#te"),
      // md5 fold draw; per-(cat,fold) decimal sums; OOF mean = (tot -
      // fold)/(n_tot - n_fold); single-fold categories take the prior
      """WITH r AS (SELECT o_orderpriority AS category,
        |    CAST(o_totalprice AS DECIMAL(20,6)) AS t,
        |    CAST(CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || '#te'), 1, 8)
        |      AS BIGINT) % 5 AS INT) AS fold
        |  FROM orders WHERE o_totalprice IS NOT NULL),
        |pf AS (SELECT category, fold, CAST(COUNT(*) AS BIGINT) AS n_in_fold,
        |    CAST(SUM(t) AS DECIMAL(38,6)) AS s FROM r GROUP BY 1, 2),
        |pc AS (SELECT category, CAST(SUM(n_in_fold) AS BIGINT) AS n_tot,
        |    CAST(SUM(s) AS DECIMAL(38,6)) AS s_tot FROM pf GROUP BY 1),
        |pr AS (SELECT CAST(CAST(SUM(t) AS DECIMAL(38,6)) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) AS prior FROM r)
        |SELECT category, fold, n_in_fold,
        |  n_tot - n_in_fold AS n_oof,
        |  CASE WHEN n_tot - n_in_fold > 0
        |    THEN CAST(s_tot - s AS DOUBLE) / CAST(n_tot - n_in_fold AS DOUBLE)
        |    ELSE prior END AS mean_oof,
        |  n_tot - n_in_fold = 0 AS is_prior
        |FROM pf JOIN pc USING (category), pr""".stripMargin),

    // per-document boilerplate: fraction of its distinct 3-gram
    // shingles the corpus repeats in >= 10 documents
    Query("q267_boilerplate", (s, d) =>
      graft.llmdata.TextAnalysis.boilerplateProfile(t(s, d, "documents"),
        "doc_id", "text", shingleSize = 3, dfAtLeast = 10),
      // distinct per-doc 3-gram shingles -> corpus df -> per-doc common
      // fraction; short docs keep a row with 0 shingles
      """WITH tok AS (SELECT doc_id,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        |  FROM documents),
        |sh AS (SELECT DISTINCT doc_id,
        |    unnest(list_transform(generate_series(1, greatest(len(toks) - 2, 0)),
        |      i -> array_to_string(toks[i:i+2], ' '))) AS shingle
        |  FROM tok),
        |dfc AS (SELECT shingle, CAST(COUNT(*) AS BIGINT) AS df
        |  FROM sh GROUP BY 1),
        |per AS (SELECT sh.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
        |    CAST(SUM(CASE WHEN df >= 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_common
        |  FROM sh JOIN dfc USING (shingle) GROUP BY 1)
        |SELECT d.doc_id,
        |  COALESCE(n_shingles, 0) AS n_shingles,
        |  COALESCE(n_common, 0) AS n_common,
        |  CASE WHEN COALESCE(n_shingles, 0) > 0
        |    THEN CAST(n_common AS DOUBLE) / CAST(n_shingles AS DOUBLE)
        |  END AS boilerplate_fraction
        |FROM documents d LEFT JOIN per USING (doc_id)""".stripMargin),

    // lead/lag scan: click vs purchase daily series cross-correlated at
    // every lag in [-7, 7]; calendar-join pairing, exact moments
    Query("q268_cross_correlation", (s, d) =>
      graft.operators.Timeseries.crossCorrelation(t(s, d, "events"),
        "event_type", "ts", keyA = "click", keyB = "purchase",
        maxLagDays = 7),
      // lag fan-out over the days-scale B series; q226's exact-moment
      // Pearson tree per lag
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(COUNT(*) AS BIGINT) AS cnt FROM events
        |  WHERE event_type IN ('click', 'purchase') GROUP BY 1, 2),
        |a AS (SELECT day, cnt AS x FROM daily WHERE event_type = 'click'),
        |b AS (SELECT day AS bday, cnt AS y FROM daily WHERE event_type = 'purchase'),
        |lags AS (SELECT CAST(unnest(generate_series(-7, 7)) AS INT) AS lag_days),
        |bl AS (SELECT lag_days, bday - lag_days AS day, y FROM b, lags),
        |p AS (SELECT lag_days, x, y FROM a JOIN bl USING (day)),
        |m AS (SELECT lag_days, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |    CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
        |    CAST(SUM(x * x) AS DOUBLE) AS sxx, CAST(SUM(y * y) AS DOUBLE) AS syy,
        |    CAST(SUM(x * y) AS DOUBLE) AS sxy
        |  FROM p GROUP BY 1)
        |SELECT lag_days, n_pairs,
        |  CASE WHEN (CAST(n_pairs AS DOUBLE) * sxx - sx * sx) > 0.0
        |        AND (CAST(n_pairs AS DOUBLE) * syy - sy * sy) > 0.0
        |    THEN (CAST(n_pairs AS DOUBLE) * sxy - sx * sy)
        |      / (sqrt(CAST(n_pairs AS DOUBLE) * sxx - sx * sx)
        |         * sqrt(CAST(n_pairs AS DOUBLE) * syy - sy * sy)) END AS r
        |FROM m WHERE n_pairs >= 3""".stripMargin),

    // Heaps-law vocabulary growth over 10 acquisition bins — exact
    // integer curve, no doc-scale windows
    Query("q269_vocab_growth", (s, d) =>
      graft.llmdata.TextAnalysis.vocabularyGrowth(t(s, d, "documents"),
        "doc_id", "text", nBins = 10),
      // per-term first doc id -> equal-width id bins -> cumulative curve
      """WITH bounds AS (SELECT MIN(doc_id) AS lo,
        |    MAX(doc_id) - MIN(doc_id) + 1 AS span FROM documents),
        |d AS (SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS nt,
        |    CAST(((doc_id - lo) * 10) // span AS INT) AS bin
        |  FROM documents, bounds),
        |pb AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(nt) AS BIGINT) AS n_tokens FROM d GROUP BY 1),
        |tk AS (SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |  FROM documents),
        |ft AS (SELECT term, MIN(doc_id) AS fid FROM tk
        |  WHERE length(term) > 0 GROUP BY 1),
        |nt AS (SELECT CAST(((fid - lo) * 10) // span AS INT) AS bin,
        |    CAST(COUNT(*) AS BIGINT) AS n_new_terms FROM ft, bounds GROUP BY 1)
        |SELECT pb.bin, n_docs, n_tokens,
        |  COALESCE(n_new_terms, 0) AS n_new_terms,
        |  CAST(SUM(COALESCE(n_new_terms, 0)) OVER (ORDER BY pb.bin
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_vocabulary
        |FROM pb LEFT JOIN nt USING (bin)""".stripMargin),

    // ECDF score recalibration: late-1998 shipments' quantities mapped
    // to their percentile in the pre-1998 reference distribution;
    // output collapsed to the (value, percentile) map + row mass
    Query("q270_percentile_normalize", (s, d) => {
      val li = t(s, d, "lineitem")
      graft.operators.Profile.percentileNormalize(
        li.filter(col("l_shipdate") >= lit("1998-01-01").cast("timestamp_ntz")
            && col("l_quantity").isNotNull)
          .select(col("l_quantity")),
        li.filter(col("l_shipdate") < lit("1998-01-01").cast("timestamp_ntz")),
        "l_quantity", lo = 0.0, width = 5.0, nBins = 10)
        .groupBy(col("l_quantity"), col("percentile"))
        .agg(count(lit(1)).as("n_rows"))
    },
      // ECDF against the aggregated reference: count-weighted <= rollup
      // over the distinct-value grid, one division per value
      """WITH refc AS (SELECT l_quantity AS v, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM lineitem WHERE l_shipdate < TIMESTAMP '1998-01-01'
        |    AND l_quantity IS NOT NULL GROUP BY 1),
        |n AS (SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS n_ref FROM refc),
        |tgt AS (SELECT l_quantity AS v, CAST(COUNT(*) AS BIGINT) AS n_rows
        |  FROM lineitem WHERE l_shipdate >= TIMESTAMP '1998-01-01'
        |    AND l_quantity IS NOT NULL GROUP BY 1),
        |cl AS (SELECT t.v, t.n_rows,
        |    CAST(COALESCE(SUM(CASE WHEN r.v <= t.v THEN r.c END), 0) AS BIGINT) AS cnt_le
        |  FROM tgt t LEFT JOIN refc r ON true GROUP BY 1, 2)
        |SELECT v AS l_quantity,
        |  CASE WHEN n_ref > 0
        |    THEN CAST(cnt_le AS DOUBLE) / CAST(n_ref AS DOUBLE) END AS percentile,
        |  n_rows
        |FROM cl, n""".stripMargin),

    // quasi-experimental effect: even-id users "treated", mid-month
    // cutover; DiD nets the secular trend out of the treated change
    Query("q271_diff_in_diff", (s, d) =>
      graft.operators.Robust.diffInDiff(
        t(s, d, "events")
          .withColumn("treated", col("user_id") % 2 === 0)
          .withColumn("post",
            col("ts") >= lit("2024-01-16").cast("timestamp_ntz")),
        "treated", "post", "value"),
      // four conditional cells in ONE aggregate; decimal sums, means and
      // the DiD as fixed IEEE trees
      """WITH b AS (SELECT (user_id % 2 = 0) AS tr,
        |    (ts >= TIMESTAMP '2024-01-16') AS po, value FROM events),
        |g AS (SELECT
        |  CAST(SUM(CASE WHEN NOT tr AND NOT po AND value IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_c0,
        |  CAST(SUM(CASE WHEN NOT tr AND po AND value IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_c1,
        |  CAST(SUM(CASE WHEN tr AND NOT po AND value IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_t0,
        |  CAST(SUM(CASE WHEN tr AND po AND value IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_t1,
        |  CAST(CAST(SUM(CASE WHEN NOT tr AND NOT po THEN CAST(value AS DECIMAL(20,6)) END) AS DECIMAL(38,6)) AS DOUBLE) AS s_c0,
        |  CAST(CAST(SUM(CASE WHEN NOT tr AND po THEN CAST(value AS DECIMAL(20,6)) END) AS DECIMAL(38,6)) AS DOUBLE) AS s_c1,
        |  CAST(CAST(SUM(CASE WHEN tr AND NOT po THEN CAST(value AS DECIMAL(20,6)) END) AS DECIMAL(38,6)) AS DOUBLE) AS s_t0,
        |  CAST(CAST(SUM(CASE WHEN tr AND po THEN CAST(value AS DECIMAL(20,6)) END) AS DECIMAL(38,6)) AS DOUBLE) AS s_t1
        | FROM b)
        |SELECT n_c0, n_c1, n_t0, n_t1,
        |  s_c0 / CAST(n_c0 AS DOUBLE) AS mean_c0,
        |  s_c1 / CAST(n_c1 AS DOUBLE) AS mean_c1,
        |  s_t0 / CAST(n_t0 AS DOUBLE) AS mean_t0,
        |  s_t1 / CAST(n_t1 AS DOUBLE) AS mean_t1,
        |  (s_t1 / CAST(n_t1 AS DOUBLE) - s_t0 / CAST(n_t0 AS DOUBLE))
        |    - (s_c1 / CAST(n_c1 AS DOUBLE) - s_c0 / CAST(n_c0 AS DOUBLE)) AS did
        |FROM g""".stripMargin),

    // sample-ratio-mismatch screen vs a deliberately wrong 2:1:1:1:1
    // design — exact per-variant chi-square terms
    Query("q272_srm", (s, d) =>
      graft.operators.Robust.sampleRatioMismatch(t(s, d, "events"),
        "event_type", Seq("click" -> 2L, "error" -> 1L, "purchase" -> 1L,
          "signup" -> 1L, "view" -> 1L)),
      // exact integer chi-square term parts per variant; W = 6
      """WITH obs AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_obs
        |  FROM events GROUP BY 1),
        |d AS (SELECT * FROM (VALUES ('click', CAST(2 AS BIGINT)),
        |    ('error', CAST(1 AS BIGINT)), ('purchase', CAST(1 AS BIGINT)),
        |    ('signup', CAST(1 AS BIGINT)), ('view', CAST(1 AS BIGINT)))
        |  t(event_type, weight)),
        |tt AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n_total FROM obs),
        |j AS (SELECT COALESCE(obs.event_type, d.event_type) AS event_type,
        |    COALESCE(n_obs, 0) AS n_obs, weight, n_total
        |  FROM obs FULL OUTER JOIN d ON obs.event_type = d.event_type, tt),
        |k AS (SELECT *,
        |    (CAST(n_obs AS HUGEINT) * 6 - CAST(n_total AS HUGEINT) * weight)
        |      * (CAST(n_obs AS HUGEINT) * 6 - CAST(n_total AS HUGEINT) * weight)
        |      AS tn,
        |    CAST(weight AS HUGEINT) * 6 * n_total AS td
        |  FROM j)
        |SELECT event_type, n_obs, weight, n_total,
        |  CAST(tn AS BIGINT) AS term_num,
        |  CAST(td AS BIGINT) AS term_den,
        |  CASE WHEN td > 0 THEN CAST(tn AS DOUBLE) / CAST(td AS DOUBLE) END
        |    AS srm_term
        |FROM k""".stripMargin),

    // top-3-step session openings with session share — the sequence
    // view the one-hop transition matrix (q135) can't show
    Query("q273_top_paths", (s, d) =>
      graft.operators.Sessionize.topPaths(t(s, d, "events"),
        "user_id", "ts", "event_type", gapSeconds = 1800,
        tieBreakCol = "event_id", depth = 3),
      // q135's session tag, then ordered first-3 list per session
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    CAST(ts AS TIMESTAMP) AS ts FROM events),
        |b AS (SELECT user_id, event_id, event_type, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |      THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
        |sess AS (SELECT user_id, event_id, event_type, ts,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |      ROWS UNBOUNDED PRECEDING) AS session_index
        |  FROM b),
        |p AS (SELECT user_id, session_index,
        |    array_to_string(list(event_type ORDER BY ts ASC, event_id ASC)[1:3], '>')
        |      AS path
        |  FROM sess GROUP BY 1, 2),
        |c AS (SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
        |  FROM p GROUP BY 1),
        |tt AS (SELECT CAST(SUM(n_sessions) AS BIGINT) AS tot FROM c)
        |SELECT path, n_sessions,
        |  CAST(n_sessions AS DOUBLE) / CAST(tot AS DOUBLE) AS share
        |FROM c, tt""".stripMargin),

    // small-file compaction plan over a synthetic per-day listing
    // (path = order day, bytes = 100*rows): next-fit groups via one
    // metadata-scale prefix sum
    Query("q274_compaction_plan", (s, d) =>
      graft.operators.Layout.compactionPlan(
        t(s, d, "orders")
          .groupBy(to_date(col("o_orderdate")).cast("string").as("path"))
          .agg((count(lit(1)) * 100).cast("long").as("bytes")),
        "path", "bytes", targetBytes = 50000L),
      // next-fit grouping = prefix-sum div target over the path order
      """WITH f AS (SELECT CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS path,
        |    CAST(COUNT(*) * 100 AS BIGINT) AS bytes FROM orders GROUP BY 1),
        |a AS (SELECT path, bytes,
        |    CAST((SUM(bytes) OVER (ORDER BY path ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - bytes)
        |      // 50000 AS BIGINT) AS group_id
        |  FROM f),
        |g AS (SELECT group_id, CAST(SUM(bytes) AS BIGINT) AS group_bytes,
        |    CAST(COUNT(*) AS BIGINT) AS n_files FROM a GROUP BY 1)
        |SELECT path, bytes, a.group_id, group_bytes, n_files
        |FROM a JOIN g USING (group_id)""".stripMargin),

    // Z-order locality histogram: morton(part % 1024, supp % 1024) at
    // 10 bits, rolled to 256 z-cells — the data-skipping layout key
    Query("q275_zorder_cells", (s, d) =>
      t(s, d, "lineitem")
        .withColumn("__z", graft.operators.Layout.mortonCode(
          col("l_partkey") % 1024, col("l_suppkey") % 1024, bits = 10))
        .groupBy(expr("__z div 4096L").cast("long").as("z_cell"))
        .agg(count(lit(1)).as("n_rows")), {
      // morton interleave mirrored as div/mod arithmetic (no engine bit
      // intrinsics in the oracle)
      val terms = (0 until 10).flatMap(i => Seq(
        s"((x // ${1L << i}) % 2) * ${1L << (2 * i)}",
        s"((y // ${1L << i}) % 2) * ${2L * (1L << (2 * i))}")).mkString(" + ")
      s"""WITH k AS (SELECT l_partkey % 1024 AS x, l_suppkey % 1024 AS y
         |  FROM lineitem),
         |m AS (SELECT ($terms) AS z FROM k)
         |SELECT CAST(z // 4096 AS BIGINT) AS z_cell,
         |  CAST(COUNT(*) AS BIGINT) AS n_rows
         |FROM m GROUP BY 1""".stripMargin
    }),

    // corpus concentration: Gini of document character mass per
    // language — "does one doc dominate the slice" curation readout
    Query("q289_corpus_gini", (s, d) =>
      graft.operators.RankStats.giniByKey(t(s, d, "documents"),
        "lang", "n_chars"),
      // q263's tie-group identity on the documents table
      """WITH m AS (SELECT lang AS k,
        |    CAST(CAST(n_chars AS DECIMAL(12,2)) * 100 AS BIGINT) * 10000 AS v
        |  FROM documents WHERE n_chars IS NOT NULL),
        |c AS (SELECT k, v, CAST(COUNT(*) AS BIGINT) AS t FROM m GROUP BY 1, 2),
        |w AS (SELECT *, CAST(SUM(t) OVER win AS HUGEINT) AS cum
        |  FROM c WINDOW win AS (PARTITION BY k ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |g AS (SELECT k, CAST(SUM(t) AS BIGINT) AS n,
        |    SUM(CAST(v AS HUGEINT) * t) AS total_micro,
        |    SUM(CAST(v AS HUGEINT) * t * (2 * (cum - t) + t + 1)) AS two_ix
        |  FROM w GROUP BY 1)
        |SELECT k AS lang, n,
        |  CAST(total_micro AS BIGINT) AS total_micro,
        |  CASE WHEN total_micro > 0 THEN
        |    (CAST(two_ix AS DOUBLE) - CAST(n + 1 AS DOUBLE) * CAST(total_micro AS DOUBLE))
        |      / (CAST(n AS DOUBLE) * CAST(total_micro AS DOUBLE))
        |  END AS gini
        |FROM g""".stripMargin),

    // precision/recall at every distinct value threshold of the
    // planted-segment score — the cutoff-picking table
    Query("q288_pr_curve", (s, d) =>
      graft.operators.Eval.prCurve(t(s, d, "events"),
        "value", col("user_id") % 3 === 0),
      // desc cumulative lattice; single-division precision/recall
      """WITH ps AS (SELECT value AS threshold, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN user_id % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS p
        |  FROM events WHERE value IS NOT NULL
        |    AND user_id IS NOT NULL GROUP BY 1),
        |tt AS (SELECT CAST(SUM(p) AS BIGINT) AS totp FROM ps),
        |cw AS (SELECT *,
        |    CAST(SUM(n) OVER wd AS BIGINT) AS n_ge,
        |    CAST(SUM(p) OVER wd AS BIGINT) AS pos_ge
        |  FROM ps WINDOW wd AS (ORDER BY threshold DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT threshold, n_ge, pos_ge,
        |  CAST(pos_ge AS DOUBLE) / CAST(n_ge AS DOUBLE) AS precision,
        |  CASE WHEN totp > 0 THEN CAST(pos_ge AS DOUBLE) / CAST(totp AS DOUBLE) END
        |    AS recall
        |FROM cw, tt""".stripMargin),

    // retrieval eval over the REAL kNN graph: same-label neighbors as
    // relevance, hit@3 + fixed-point MRR (exact integer sums)
    Query("q287_ranking_eval", (s, d) =>
      graft.operators.Eval.rankingReport(knnLabeled(s, d), "node_id", "rank",
        col("__la") === col("__lb")), {
      // the q96 knn SQL + label joins -> per-query best relevant rank ->
      // exact-integer micro-MRR rollup
      def cos(a: String, b: String) =
        s"list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))"
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb, label,
         |    ${bucketSql(8)} AS bucket FROM embeddings),
         |knn AS (SELECT node_id, la, lb, rank FROM (
         |  SELECT a.vec_id AS node_id, a.label AS la, b.label AS lb,
         |    CAST(row_number() OVER (PARTITION BY a.vec_id
         |      ORDER BY ${cos("a.emb", "b.emb")} DESC, b.vec_id ASC) AS INT) AS rank
         |  FROM v a JOIN v b
         |    ON bit_count(xor(a.bucket, b.bucket)) <= 1 AND a.vec_id <> b.vec_id
         |  WHERE NOT isnan(${cos("a.emb", "b.emb")})) WHERE rank <= 3),
         |per AS (SELECT node_id,
         |    CAST(MIN(CASE WHEN la = lb THEN rank END) AS BIGINT) AS best
         |  FROM knn GROUP BY 1),
         |g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
         |    CAST(SUM(CASE WHEN best IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
         |    CAST(SUM(COALESCE(1000000 // best, 0)) AS BIGINT) AS sum_mrr_micro
         |  FROM per)
         |SELECT n_queries, n_hit, sum_mrr_micro,
         |  CAST(n_hit AS DOUBLE) / CAST(n_queries AS DOUBLE) AS hit_rate,
         |  CAST(sum_mrr_micro AS DOUBLE) / CAST(n_queries AS DOUBLE) AS mean_mrr_micro
         |FROM g""".stripMargin
    }),

    // chance-corrected agreement of the REAL langid predictions vs
    // planted labels — exact integer kappa over the q32 composition
    Query("q286_cohen_kappa", (s, d) =>
      graft.operators.Eval.cohenKappa(
        graft.llmdata.TextAnalysis.languageIdByProfile(
          t(s, d, "documents"), "doc_id", "text",
          graft.llmdata.TextAnalysis.profileFrame(s), keep = Seq("lang")),
        "lang", "predicted_lang"), {
      // q32's langid CTEs -> contingency margins -> exact-integer kappa
      val values = TextAnalysis.languageProfiles.toSeq.sortBy(_._1)
        .flatMap { case (l, ts) => ts.map { case (t, w) => s"('$l','$t',$w)" } }
        .mkString(", ")
      s"""WITH prof AS (SELECT * FROM (VALUES $values) t(lang, term, weight)),
         |toks AS (SELECT doc_id,
         |    unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
         |  FROM documents),
         |scored AS (SELECT doc_id, p.lang, CAST(SUM(weight) AS BIGINT) AS score
         |  FROM toks JOIN prof p USING (term) GROUP BY 1, 2),
         |best AS (SELECT doc_id, lang AS predicted_lang FROM (
         |  SELECT doc_id, lang, row_number() OVER (PARTITION BY doc_id
         |    ORDER BY score DESC, lang ASC) AS rn FROM scored) WHERE rn = 1),
         |pred AS (SELECT d.lang AS a, COALESCE(b.predicted_lang, 'und') AS bb
         |  FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id
         |  WHERE d.lang IS NOT NULL),
         |cells AS (SELECT a, bb, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM pred GROUP BY 1, 2),
         |rm AS (SELECT a AS k, CAST(SUM(c) AS BIGINT) AS ra FROM cells GROUP BY 1),
         |cm AS (SELECT bb AS k, CAST(SUM(c) AS BIGINT) AS cb FROM cells GROUP BY 1),
         |rc AS (SELECT CAST(COALESCE(SUM(CAST(COALESCE(ra, 0) AS HUGEINT)
         |    * COALESCE(cb, 0)), 0) AS BIGINT) AS chance_num
         |  FROM rm FULL OUTER JOIN cm USING (k)),
         |tt AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
         |    CAST(SUM(CASE WHEN a = bb THEN c ELSE 0 END) AS BIGINT) AS n_agree
         |  FROM cells)
         |SELECT n, n_agree, chance_num,
         |  CASE WHEN CAST(n AS HUGEINT) * n <> CAST(chance_num AS HUGEINT) THEN
         |    (CAST(n AS DOUBLE) * CAST(n_agree AS DOUBLE)
         |      - CAST(chance_num AS DOUBLE))
         |    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
         |      - CAST(chance_num AS DOUBLE)) END AS kappa
         |FROM tt, rc""".stripMargin
    }),

    // categorical cleanup: truncation-corrupted segments collapse onto
    // their frequent parent (distinct-value lev<=1 argmax)
    Query("q285_canonicalize", (s, d) =>
      graft.operators.Linkage.canonicalizeCategories(
        t(s, d, "customer").select(
          when(col("c_custkey") % 7 === 0,
            expr("substring(c_mktsegment, 1, length(c_mktsegment) - 1)"))
            .otherwise(col("c_mktsegment")).as("seg")),
        "seg", maxDist = 1),
      // distinct-value length-banded lev join; argmax via window rank
      """WITH base AS (SELECT CASE WHEN c_custkey % 7 = 0
        |      THEN substr(c_mktsegment, 1, length(c_mktsegment) - 1)
        |      ELSE c_mktsegment END AS v FROM customer),
        |vals AS (SELECT v AS value, CAST(COUNT(*) AS BIGINT) AS n_value
        |  FROM base WHERE v IS NOT NULL GROUP BY 1),
        |cand AS (SELECT a.value, a.n_value, b.value AS cv, b.n_value AS cn
        |  FROM vals a JOIN vals b
        |  ON abs(length(a.value) - length(b.value)) <= 1
        |    AND levenshtein(a.value, b.value) <= 1),
        |r AS (SELECT *, row_number() OVER (PARTITION BY value
        |    ORDER BY cn DESC, cv ASC) AS rk FROM cand)
        |SELECT value, cv AS canonical, n_value, cn AS n_canonical
        |FROM r WHERE rk = 1""".stripMargin),

    // declarative metric layer: four metrics from JSON config fused
    // into ONE grouped pass, each with its own FILTER scope
    Query("q284_metric_layer", (s, d) =>
      graft.operators.Metrics.fromJson(s, t(s, d, "lineitem"),
        """[{"name":"n_lines","agg":"COUNT(*)","cast":"BIGINT"},
          |{"name":"revenue_cents","agg":"SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT))","cast":"BIGINT"},
          |{"name":"returned_lines","agg":"COUNT(*)","where":"l_returnflag = 'R'","cast":"BIGINT"},
          |{"name":"big_qty_lines","agg":"COUNT(*)","where":"l_quantity >= 40","cast":"BIGINT"}]""".stripMargin,
        groupBy = Seq("l_linestatus")),
      // same four metrics written directly (FILTER clause ≡ CASE-scoped)
      """SELECT l_linestatus,
        |  CAST(COUNT(*) AS BIGINT) AS n_lines,
        |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS revenue_cents,
        |  CAST(COUNT(*) FILTER (WHERE l_returnflag = 'R') AS BIGINT) AS returned_lines,
        |  CAST(COUNT(*) FILTER (WHERE l_quantity >= 40) AS BIGINT) AS big_qty_lines
        |FROM lineitem GROUP BY 1""".stripMargin),

    // seasonal-naive backtest: same-day-last-week forecast per event
    // type, exact integer errors, WAPE/MAE single divisions
    Query("q283_naive_backtest", (s, d) =>
      graft.operators.Timeseries.seasonalNaiveBacktest(t(s, d, "events"),
        "event_type", "ts", periodDays = 7),
      // per-key zero-filled spine, day-shifted self-join, exact errors
      """WITH daily AS (SELECT event_type AS k, CAST(ts AS DATE) AS day,
        |    CAST(COUNT(*) AS BIGINT) AS cnt FROM events GROUP BY 1, 2),
        |b AS (SELECT k, MIN(day) AS lo, MAX(day) AS hi FROM daily GROUP BY 1),
        |sp AS (SELECT k, CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
        |    CAST(hi AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day FROM b),
        |f AS (SELECT sp.k, sp.day, COALESCE(daily.cnt, 0) AS cnt
        |  FROM sp LEFT JOIN daily ON daily.k = sp.k AND daily.day = sp.day),
        |j AS (SELECT a.k, a.cnt, fc.cnt AS fcv
        |  FROM f a JOIN f fc ON a.k = fc.k AND a.day = fc.day + 7),
        |g AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n_days,
        |    CAST(SUM(ABS(cnt - fcv)) AS BIGINT) AS sum_abs_err,
        |    CAST(SUM(cnt) AS BIGINT) AS total_actual
        |  FROM j GROUP BY 1)
        |SELECT k AS event_type, n_days, sum_abs_err, total_actual,
        |  CASE WHEN total_actual > 0 THEN
        |    CAST(sum_abs_err AS DOUBLE) / CAST(total_actual AS DOUBLE) END AS wape,
        |  CAST(sum_abs_err AS DOUBLE) / CAST(n_days AS DOUBLE) AS mae
        |FROM g""".stripMargin),

    // bounded weighted SSSP from the seed decade over the co-purchase
    // graph; integer weights (src+dst)%5+1, exact fixpoint rounds
    Query("q281_shortest_paths", (s, d) => {
      val li = t(s, d, "lineitem").filter(col("l_quantity") >= 48)
        .select(col("l_orderkey"), col("l_partkey"))
      val edges = li.as("a").join(li.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey")
            && col("a.l_partkey") < col("b.l_partkey"))
        .select(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"))
        .distinct()
        .withColumn("w", (col("src") + col("dst")) % 5 + 1)
      val seeds = t(s, d, "part").filter(col("p_partkey") % 10 === 0)
        .select(col("p_partkey"))
      graft.operators.Graph.shortestPaths(edges, "src", "dst", "w",
        seeds, "p_partkey", maxRounds = 6)
    },
      // bounded-depth weighted walk enumeration; MIN(d) per node equals
      // Bellman-Ford after <= 6 rounds (and the exact dists on early
      // convergence)
      """WITH RECURSIVE e0 AS (
        |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        |  FROM lineitem a JOIN lineitem b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  WHERE a.l_quantity >= 48 AND b.l_quantity >= 48),
        |ew AS (SELECT src, dst, (src + dst) % 5 + 1 AS w FROM e0),
        |e AS (SELECT src AS u, dst AS v, w FROM ew
        |  UNION SELECT dst, src, w FROM ew),
        |e2 AS (SELECT u, v, CAST(MIN(w) AS BIGINT) AS w FROM e
        |  WHERE u <> v GROUP BY 1, 2),
        |seeds AS (SELECT p_partkey AS node FROM part WHERE p_partkey % 10 = 0),
        |walk(node, d, depth) AS (
        |  SELECT node, CAST(0 AS BIGINT), 0 FROM seeds
        |  UNION
        |  SELECT e2.v, wk.d + e2.w, wk.depth + 1
        |  FROM walk wk JOIN e2 ON e2.u = wk.node
        |  WHERE wk.depth < 6)
        |SELECT node, CAST(MIN(d) AS BIGINT) AS dist FROM walk GROUP BY 1""".stripMargin),

    // debounce: first event of each (user, type) burst at a 10-minute
    // gap window — retry storms collapse, later re-occurrences survive
    Query("q282_burst_dedup", (s, d) =>
      graft.operators.Dedup.burstFirst(
        t(s, d, "events").select(col("user_id"), col("event_type"),
          col("ts"), col("event_id")),
        Seq("user_id", "event_type"), "ts", "event_id", 600L),
      // same lag-gap window; exact integer microseconds
      """WITH w AS (SELECT user_id, event_type, ts, event_id,
        |    lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
        |      PARTITION BY user_id, event_type
        |      ORDER BY ts ASC, event_id ASC) AS prev_us
        |  FROM events)
        |SELECT user_id, event_type, ts, event_id FROM w
        |WHERE prev_us IS NULL
        |  OR epoch_us(CAST(ts AS TIMESTAMP)) - prev_us > 600000000""".stripMargin),

    // exact ROC-AUC per event type: does value separate the planted
    // user segment — the Mann-Whitney identity, ties exact
    Query("q279_auc", (s, d) =>
      graft.operators.Eval.aucByKey(t(s, d, "events"),
        "event_type", "value", col("user_id") % 3 === 0),
      // the q262 MWU lattice specialized to AUC = U+/(n+ * n-)
      """WITH c AS (SELECT event_type AS k, value AS v,
        |    CAST(SUM(CASE WHEN user_id % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |    CAST(SUM(CASE WHEN user_id % 3 = 0 THEN 0 ELSE 1 END) AS BIGINT) AS cb
        |  FROM events WHERE value IS NOT NULL
        |    AND user_id IS NOT NULL GROUP BY 1, 2),
        |w AS (SELECT *, ca + cb AS t,
        |    CAST(SUM(ca + cb) OVER win AS HUGEINT) AS cum
        |  FROM c WINDOW win AS (PARTITION BY k ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |g AS (SELECT k, CAST(SUM(ca) AS BIGINT) AS n_a,
        |    CAST(SUM(cb) AS BIGINT) AS n_b,
        |    SUM(CAST(ca AS HUGEINT) * (2 * (cum - t) + t + 1)) AS ra_d
        |  FROM w GROUP BY 1)
        |SELECT k AS event_type, n_a AS n_pos, n_b AS n_neg,
        |  CAST(ra_d - CAST(n_a AS HUGEINT) * (n_a + 1) AS DOUBLE)
        |    / (2.0 * CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) AS auc
        |FROM g WHERE n_a > 0 AND n_b > 0""".stripMargin),

    // decile gains/lift of value against the planted segment; whole
    // tie groups stay in one bin (deterministic cut)
    Query("q280_gains_table", (s, d) =>
      graft.operators.Eval.gainsTable(t(s, d, "events"),
        "value", col("user_id") % 3 === 0, nBins = 10),
      // distinct-score desc lattice; tie groups assigned whole to the
      // bin of their first row; bins-scale cumulative rollup
      """WITH ps AS (SELECT value AS s, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN user_id % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS p
        |  FROM events WHERE value IS NOT NULL GROUP BY 1),
        |tt AS (SELECT CAST(SUM(n) AS BIGINT) AS tot,
        |    CAST(SUM(p) AS BIGINT) AS totp FROM ps),
        |cw AS (SELECT *, CAST(SUM(n) OVER (ORDER BY s DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM ps),
        |b AS (SELECT CAST(((cum - n) * 10) // tot AS INT) AS bin,
        |    CAST(SUM(n) AS BIGINT) AS n, CAST(SUM(p) AS BIGINT) AS n_pos,
        |    CAST(MAX(tot) AS BIGINT) AS tot, CAST(MAX(totp) AS BIGINT) AS totp
        |  FROM cw, tt GROUP BY 1)
        |SELECT bin, n, n_pos,
        |  CAST(SUM(n) OVER wb AS BIGINT) AS cum_n,
        |  CAST(SUM(n_pos) OVER wb AS BIGINT) AS cum_pos,
        |  CASE WHEN totp > 0 THEN
        |    CAST(CAST(SUM(n_pos) OVER wb AS BIGINT) AS DOUBLE)
        |      / CAST(totp AS DOUBLE) END AS capture_rate,
        |  CASE WHEN totp > 0 AND CAST(SUM(n) OVER wb AS BIGINT) > 0 THEN
        |    (CAST(CAST(SUM(n_pos) OVER wb AS BIGINT) AS DOUBLE)
        |      / CAST(CAST(SUM(n) OVER wb AS BIGINT) AS DOUBLE))
        |    / (CAST(totp AS DOUBLE) / CAST(tot AS DOUBLE)) END AS cum_lift
        |FROM b WINDOW wb AS (ORDER BY bin ASC
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin),

    // U-shaped positional multi-touch: 40/40 first/last, 20 split over
    // middles — exact integer weights 40(n-2)/20, micro-credit division
    Query("q278_positional_attribution", (s, d) =>
      graft.operators.Attribution.channelCredit(
        graft.operators.Attribution.multiTouchPositional(t(s, d, "events"),
          "user_id", "ts", "event_type", "event_id",
          touchTypes = Seq("view", "click"), conversionType = "purchase",
          lookbackSeconds = 7200L)),
      // positional weights from per-conversion position windows; same
      // micro-credit block as q197
      """WITH conv AS (SELECT user_id AS u, ts AS conv_ts, event_id AS conv_id
        |  FROM events WHERE event_type = 'purchase'),
        |tch AS (SELECT user_id, ts AS touch_ts, event_id AS touch_id,
        |    event_type AS channel FROM events WHERE event_type IN ('view', 'click')),
        |pairs AS (SELECT c.u, c.conv_ts, c.conv_id, t.touch_ts, t.touch_id, t.channel
        |  FROM conv c LEFT JOIN tch t ON c.u = t.user_id AND t.touch_ts <= c.conv_ts
        |    AND epoch_us(CAST(c.conv_ts AS TIMESTAMP)) - epoch_us(CAST(t.touch_ts AS TIMESTAMP)) <= 7200000000),
        |pos AS (SELECT *,
        |    COUNT(touch_id) OVER (PARTITION BY conv_id) AS n,
        |    row_number() OVER (PARTITION BY conv_id
        |      ORDER BY touch_ts ASC, touch_id ASC) AS p
        |  FROM pairs),
        |wtd AS (SELECT u, conv_ts, conv_id, touch_ts, touch_id, channel,
        |    CASE WHEN touch_id IS NULL THEN NULL
        |         WHEN n <= 2 THEN CAST(1 AS BIGINT)
        |         WHEN p = 1 OR p = n THEN CAST(40 * (n - 2) AS BIGINT)
        |         ELSE CAST(20 AS BIGINT) END AS weight
        |  FROM pos),
        |b1 AS (SELECT *, SUM(weight) OVER (PARTITION BY conv_id) AS w_total FROM wtd),
        |b2 AS (SELECT *, (weight * 1000000) // w_total AS base,
        |    row_number() OVER (PARTITION BY conv_id ORDER BY touch_ts DESC, touch_id DESC) AS rn
        |  FROM b1),
        |b3 AS (SELECT *, SUM(base) OVER (PARTITION BY conv_id) AS base_total FROM b2),
        |cr AS (SELECT COALESCE(channel, 'organic') AS channel, touch_id, conv_id,
        |    CASE WHEN touch_id IS NULL THEN 1000000
        |         WHEN rn = 1 THEN base + (1000000 - base_total)
        |         ELSE base END AS credit_micro
        |  FROM b3),
        |agg AS (SELECT channel, CAST(COUNT(touch_id) AS BIGINT) AS n_touches,
        |    CAST(COUNT(DISTINCT conv_id) AS BIGINT) AS n_conversions,
        |    CAST(SUM(credit_micro) AS BIGINT) AS credit_micro
        |  FROM cr GROUP BY 1)
        |SELECT channel, n_touches, n_conversions, credit_micro,
        |  CAST(credit_micro AS DOUBLE) / 1000000.0 AS credit
        |FROM agg""".stripMargin),

    // the q20 suite expressed as DATA: a JSON config parsed by
    // CheckConfig into the same fused-aggregate CheckSuite — proves
    // the declarative path lands on identical results (same oracle)
    Query("q277_config_checks", (s, d) => {
      val json =
        """[{"type":"not_null","column":"l_orderkey"},
          |{"type":"between","column":"l_quantity","lo":1,"hi":50,"mostly":0.99},
          |{"type":"in_set","column":"l_returnflag","values":["A","N","R"]},
          |{"type":"no_rows_where","label":"neg_price","predicate":"l_extendedprice < 0"},
          |{"type":"row_count_between","min":1}]""".stripMargin
      val results = graft.checks.CheckConfig.fromJson(s, json)
        .run(t(s, d, "lineitem"))
      import s.implicits._
      results.map(r => (r.constraint, r.column.orNull, r.passed, r.unexpectedPercent))
        .toDF("constraint_name", "column_name", "passed", "unexpected_percent")
    },
      // config-driven suite: identical semantics, identical oracle (q20)
      """SELECT 'not_null(l_orderkey)' AS constraint_name, 'l_orderkey' AS column_name,
        |  (SELECT COUNT(CASE WHEN l_orderkey IS NULL THEN 1 END) FROM lineitem) = 0 AS passed,
        |  (SELECT CAST(COUNT(CASE WHEN l_orderkey IS NULL THEN 1 END) AS DOUBLE) / COUNT(*) * 100 FROM lineitem) AS unexpected_percent
        |UNION ALL
        |SELECT 'between(l_quantity,1.0,50.0)', 'l_quantity',
        |  (SELECT CAST(COUNT(CASE WHEN l_quantity >= 1 AND l_quantity <= 50 THEN 1 END) AS DOUBLE) >= 0.99 * COUNT(l_quantity) - 1e-9 FROM lineitem),
        |  (SELECT CAST(COUNT(CASE WHEN l_quantity IS NOT NULL AND NOT (l_quantity >= 1 AND l_quantity <= 50) THEN 1 END) AS DOUBLE) / COUNT(l_quantity) * 100 FROM lineitem)
        |UNION ALL
        |SELECT 'in_set(l_returnflag)', 'l_returnflag',
        |  (SELECT COUNT(CASE WHEN l_returnflag IS NOT NULL AND l_returnflag NOT IN ('A','N','R') THEN 1 END) = 0 FROM lineitem),
        |  (SELECT CAST(COUNT(CASE WHEN l_returnflag IS NOT NULL AND l_returnflag NOT IN ('A','N','R') THEN 1 END) AS DOUBLE) / COUNT(l_returnflag) * 100 FROM lineitem)
        |UNION ALL
        |SELECT 'no_rows_where(neg_price)', NULL,
        |  (SELECT COUNT(CASE WHEN l_extendedprice < 0 THEN 1 END) = 0 FROM lineitem),
        |  (SELECT CAST(COUNT(CASE WHEN l_extendedprice < 0 THEN 1 END) AS DOUBLE) / COUNT(*) * 100 FROM lineitem)
        |UNION ALL
        |SELECT 'row_count_between(1,9223372036854775807)', NULL,
        |  (SELECT COUNT(*) >= 1 FROM lineitem), 0.0""".stripMargin),

    // supplier Pareto front (line count vs decimal-exact revenue, both
    // maximized) via the bucket-decomposed skyline. Revenue rides the
    // 2-dp decimal grid internally and is emitted as BIGINT cents
    // (NOTES.md: no DecimalType in compared output); dominance over
    // cents ≡ dominance over the decimal value.
    Query("q276_skyline", (s, d) =>
      graft.operators.Profile.skyline2d(
        t(s, d, "lineitem")
          .groupBy(col("l_suppkey"))
          .agg(count(lit(1)).as("n_items"),
            (sum(col("l_extendedprice").cast("decimal(12,2)")
              .cast("decimal(38,2)")) * 100).cast("long").as("revenue_cents")),
        "n_items", "revenue_cents", lo = 0.0, width = 100.0, nBins = 20),
      // direct NOT EXISTS dominance check over the supplier aggregate
      """WITH s AS (SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS n_items,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) * 100 AS BIGINT)
        |      AS revenue_cents
        |  FROM lineitem GROUP BY 1)
        |SELECT n_items, l_suppkey, revenue_cents FROM s a
        |WHERE NOT EXISTS (SELECT 1 FROM s b
        |  WHERE b.n_items >= a.n_items AND b.revenue_cents >= a.revenue_cents
        |    AND (b.n_items > a.n_items OR b.revenue_cents > a.revenue_cents))""".stripMargin),

    // SCD2 sink replay (q258-q260 pattern): the month's attribute
    // stream folded through scd2Sink's EXACT merge call chain in three
    // batches must equal a one-shot re-sequencing (oracle computes the
    // version chain directly with lag/lead windows)
    Query("q290_scd2_replay", (s, d) => {
      val ev = t(s, d, "events")
        .select(col("user_id"), col("event_type"), col("ts"))
      def slice(lo: String, hi: String) = ev
        .filter(col("ts") >= lit(lo).cast("timestamp_ntz")
          && col("ts") < lit(hi).cast("timestamp_ntz"))
      val b1 = graft.incremental.Scd2.resequence(
        slice("2024-01-01", "2024-01-11"), "user_id", Seq("event_type"), "ts")
      val b2 = graft.incremental.Scd2.merge(b1,
        slice("2024-01-11", "2024-01-21"), "user_id", Seq("event_type"), "ts")
      graft.incremental.Scd2.merge(b2,
        slice("2024-01-21", "2024-02-01"), "user_id", Seq("event_type"), "ts")
    },
      // one-shot SCD2 re-sequencing: change rows via lag over the
      // (ts, attr) total order, valid_to via lead over the changed set
      """WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
        |  FROM events WHERE ts >= TIMESTAMP '2024-01-01'
        |    AND ts < TIMESTAMP '2024-02-01'),
        |w AS (SELECT user_id, event_type, ts,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_type) AS prev
        |  FROM e),
        |ch AS (SELECT user_id, event_type, ts FROM w
        |  WHERE prev IS NULL OR prev <> event_type),
        |v AS (SELECT user_id, event_type, ts AS valid_from,
        |    lead(ts) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_type) AS valid_to
        |  FROM ch)
        |SELECT user_id, event_type, valid_from, valid_to,
        |  valid_to IS NULL AS is_current
        |FROM v""".stripMargin),

    // aggregate-maintenance sink replay: three day-sliced batches
    // folded through aggMergeSink's dailyPartial+merge algebra (nested
    // exactly as the sink folds), finished to the external row shape —
    // must equal the direct one-shot daily aggregate
    Query("q291_aggmerge_replay", (s, d) => {
      val ev = t(s, d, "events")
      def part(lo: String, hi: String) = graft.operators.AggMerge
        .dailyPartial(ev.filter(col("ts") >= lit(lo).cast("timestamp_ntz")
          && col("ts") < lit(hi).cast("timestamp_ntz")), "ts", "value")
      val folded = graft.operators.AggMerge.merge(Seq(
        graft.operators.AggMerge.merge(Seq(
          part("2024-01-01", "2024-01-11"), part("2024-01-11", "2024-01-21"))),
        part("2024-01-21", "2024-02-01")))
      graft.operators.AggMerge.finish(folded)
    },
      // direct one-shot daily aggregate in the partials' exact shapes
      """SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DECIMAL(38,6))
        |    AS DOUBLE) AS sum_value,
        |  MIN(value) AS min_value, MAX(value) AS max_value
        |FROM events WHERE ts >= TIMESTAMP '2024-01-01'
        |  AND ts < TIMESTAMP '2024-02-01'
        |GROUP BY 1""".stripMargin),

    // CDC-maintenance replay: insert the first half, then a second
    // batch inserting the rest AND deleting every fifth first-half row
    // — the retraction algebra must land on the daily aggregate of
    // exactly the surviving facts
    Query("q292_cdc_replay", (s, d) => {
      val ev = t(s, d, "events")
        .select(col("event_id"), col("ts"), col("value"))
      val half1 = ev.filter(col("ts") < lit("2024-01-16").cast("timestamp_ntz"))
      val half2 = ev.filter(col("ts") >= lit("2024-01-16").cast("timestamp_ntz"))
      val b1 = half1.withColumn("op", lit("insert"))
      val b2 = half2.withColumn("op", lit("insert")).unionByName(
        half1.filter(col("event_id") % 5 === 0).withColumn("op", lit("delete")))
      val empty = ev.filter(lit(false))
      val p1 = graft.operators.AggMerge.applyCdc(
        graft.operators.AggMerge.dailyPartial(empty, "ts", "value"),
        empty, b1, "event_id", "ts", "value", "op")
      val p2 = graft.operators.AggMerge.applyCdc(
        p1, half1, b2, "event_id", "ts", "value", "op")
      graft.operators.AggMerge.finish(p2)
    },
      // daily aggregate over exactly the SURVIVING facts (second half
      // fully inserted; first half minus every fifth event)
      """SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DECIMAL(38,6))
        |    AS DOUBLE) AS sum_value,
        |  MIN(value) AS min_value, MAX(value) AS max_value
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-16' OR event_id % 5 <> 0
        |GROUP BY 1""".stripMargin),

    // join-view-maintenance replay: two interleaved insert batches
    // folded through joinMaintSink's delta rule dA><(B u dB) UNION
    // A_old><dB; the accumulated view must equal the direct join
    Query("q293_joinmaint_replay", (s, d) => {
      val c = t(s, d, "customer")
        .select(col("c_custkey").as("k"), col("c_mktsegment").as("a_seg"))
      val o = t(s, d, "orders")
        .select(col("o_custkey").as("k"), col("o_orderkey"),
          col("o_totalprice"))
      val a1 = c.filter(col("k") % 2 === 0)
      val a2 = c.filter(col("k") % 2 =!= 0)
      val b1 = o.filter(col("o_orderkey") % 2 === 0)
      val b2 = o.filter(col("o_orderkey") % 2 =!= 0)
      val v1 = graft.incremental.ViewMaint.joinDelta(
        a1.filter(lit(false)), b1.filter(lit(false)), a1, b1, Seq("k"))
      val v2 = graft.incremental.ViewMaint.joinDelta(a1, b1, a2, b2, Seq("k"))
      v1.unionByName(v2)
    },
      // the maintained join view must equal the direct join
      """SELECT c_custkey AS k, c_mktsegment AS a_seg, o_orderkey, o_totalprice
        |FROM customer JOIN orders ON c_custkey = o_custkey""".stripMargin),

    // q288's PR curve under the quantizeScores contract path: the
    // continuous-score lattice collapsed to a 50-unit grid — proves
    // the floor(s/g)*g chain is engine-identical
    Query("q294_pr_curve_quantized", (s, d) =>
      graft.operators.Eval.prCurve(
        graft.operators.Eval.quantizeScores(
          t(s, d, "events").filter(col("user_id").isNotNull),
          "value", 50.0),
        "value", col("user_id") % 3 === 0),
      // q288's lattice over the quantized grid: floor(v/50)*50 is the
      // identical IEEE chain on both engines
      """WITH ps AS (SELECT floor(value / 50.0) * 50.0 AS threshold,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN user_id % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS p
        |  FROM events WHERE value IS NOT NULL
        |    AND user_id IS NOT NULL GROUP BY 1),
        |tt AS (SELECT CAST(SUM(p) AS BIGINT) AS totp FROM ps),
        |cw AS (SELECT *,
        |    CAST(SUM(n) OVER wd AS BIGINT) AS n_ge,
        |    CAST(SUM(p) OVER wd AS BIGINT) AS pos_ge
        |  FROM ps WINDOW wd AS (ORDER BY threshold DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT threshold, n_ge, pos_ge,
        |  CAST(pos_ge AS DOUBLE) / CAST(n_ge AS DOUBLE) AS precision,
        |  CASE WHEN totp > 0 THEN CAST(pos_ge AS DOUBLE) / CAST(totp AS DOUBLE) END
        |    AS recall
        |FROM cw, tt""".stripMargin),

    // Kruskal-Wallis inputs per (return flag, line status): pooled
    // doubled midranks rolled to exact per-group parts (SRM-style
    // order-free emission; the caller sums the handful for H)
    Query("q295_kruskal_wallis", (s, d) =>
      graft.operators.RankStats.kruskalWallis(t(s, d, "lineitem"),
        "l_returnflag", "l_linestatus", "l_quantity"),
      // pooled doubled-midrank lattice rolled to per-group exact parts
      """WITH c AS (SELECT l_returnflag AS k, l_linestatus AS g,
        |    l_quantity AS v, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM lineitem WHERE l_quantity IS NOT NULL
        |    AND l_linestatus IS NOT NULL GROUP BY 1, 2, 3),
        |p AS (SELECT k, v, CAST(SUM(cnt) AS BIGINT) AS t FROM c GROUP BY 1, 2),
        |w AS (SELECT *, CAST(SUM(t) OVER win AS HUGEINT) AS cum
        |  FROM p WINDOW win AS (PARTITION BY k ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |rd AS (SELECT k, v, 2 * (cum - t) + t + 1 AS rd FROM w),
        |pk AS (SELECT k, CAST(SUM(t) AS BIGINT) AS n,
        |    CAST(SUM(CAST(t AS HUGEINT) * t * t - t) AS BIGINT) AS tie_cubed_sum
        |  FROM p GROUP BY 1),
        |g AS (SELECT c.k, c.g, CAST(SUM(c.cnt) AS BIGINT) AS n_j,
        |    CAST(SUM(CAST(c.cnt AS HUGEINT) * rd.rd) AS BIGINT) AS r_sum_doubled
        |  FROM c JOIN rd ON c.k = rd.k AND c.v = rd.v GROUP BY 1, 2)
        |SELECT g.k AS l_returnflag, g.g AS l_linestatus, n_j, r_sum_doubled,
        |  n, tie_cubed_sum
        |FROM g JOIN pk ON g.k = pk.k""".stripMargin),

    // Kendall tau-b per return flag (quantity vs discount, both
    // gridded): concordant/discordant from the distinct-cell self-join
    Query("q296_kendall_tau", (s, d) =>
      graft.operators.RankStats.kendallTau(t(s, d, "lineitem"),
        "l_returnflag", "l_quantity", "l_discount"),
      // distinct-cell self-join concordance; tie pairs per axis; tau_b
      // as division over sqrt (correctly rounded, portable)
      """WITH cells AS (SELECT l_returnflag AS k, l_quantity AS x,
        |    l_discount AS y, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM lineitem WHERE l_quantity IS NOT NULL
        |    AND l_discount IS NOT NULL GROUP BY 1, 2, 3),
        |pa AS (SELECT a.k,
        |    CAST(COALESCE(SUM(CASE WHEN a.y < b.y
        |      THEN CAST(a.c AS HUGEINT) * b.c END), 0) AS BIGINT) AS concordant,
        |    CAST(COALESCE(SUM(CASE WHEN a.y > b.y
        |      THEN CAST(a.c AS HUGEINT) * b.c END), 0) AS BIGINT) AS discordant
        |  FROM cells a JOIN cells b ON a.k = b.k AND a.x < b.x GROUP BY 1),
        |tx AS (SELECT k, CAST(SUM(CAST(t AS HUGEINT) * (t - 1) // 2) AS BIGINT)
        |    AS tie_pairs_x
        |  FROM (SELECT k, x, CAST(SUM(c) AS BIGINT) AS t FROM cells
        |    GROUP BY 1, 2) GROUP BY 1),
        |ty AS (SELECT k, CAST(SUM(CAST(t AS HUGEINT) * (t - 1) // 2) AS BIGINT)
        |    AS tie_pairs_y
        |  FROM (SELECT k, y, CAST(SUM(c) AS BIGINT) AS t FROM cells
        |    GROUP BY 1, 2) GROUP BY 1),
        |tot AS (SELECT k, CAST(SUM(c) AS BIGINT) AS n FROM cells GROUP BY 1),
        |j AS (SELECT tot.k, n, COALESCE(concordant, 0) AS concordant,
        |    COALESCE(discordant, 0) AS discordant, tie_pairs_x, tie_pairs_y,
        |    CAST(CAST(n AS HUGEINT) * (n - 1) // 2 AS BIGINT) AS n0
        |  FROM tot LEFT JOIN pa ON tot.k = pa.k
        |    JOIN tx ON tot.k = tx.k JOIN ty ON tot.k = ty.k)
        |SELECT k AS l_returnflag, n, concordant, discordant,
        |  tie_pairs_x, tie_pairs_y,
        |  CASE WHEN n0 - tie_pairs_x > 0 AND n0 - tie_pairs_y > 0 THEN
        |    CAST(concordant - discordant AS DOUBLE)
        |      / (sqrt(CAST(n0 - tie_pairs_x AS DOUBLE))
        |        * sqrt(CAST(n0 - tie_pairs_y AS DOUBLE))) END AS tau_b
        |FROM j""".stripMargin),

    // Kaplan-Meier life table per user cohort: activity-span durations
    // in days, churned = silent before Jan 25 (else right-censored)
    Query("q297_kaplan_meier", (s, d) => {
      val ev = t(s, d, "events")
      val units = ev.groupBy(col("user_id"))
        .agg(min(to_date(col("ts"))).as("__first"),
          max(to_date(col("ts"))).as("__last"))
        .select((col("user_id") % 3).as("cohort"),
          datediff(col("__last"), col("__first")).cast("long").as("dur"),
          (col("__last") < lit("2024-01-30").cast("date")).as("churned"))
      graft.operators.Survival.kaplanMeier(units, "cohort", "dur", "churned")
    },
      // distinct-duration lattice: DESC-risk identity, one division/row
      """WITH u AS (SELECT user_id % 3 AS cohort,
        |    CAST(date_diff('day', MIN(CAST(ts AS DATE)),
        |      MAX(CAST(ts AS DATE))) AS BIGINT) AS duration,
        |    MAX(CAST(ts AS DATE)) < DATE '2024-01-30' AS churned
        |  FROM events GROUP BY 1, user_id),
        |cells AS (SELECT cohort, duration,
        |    CAST(SUM(CASE WHEN churned THEN 1 ELSE 0 END) AS BIGINT) AS n_events,
        |    CAST(SUM(CASE WHEN churned THEN 0 ELSE 1 END) AS BIGINT) AS n_censored
        |  FROM u GROUP BY 1, 2),
        |w AS (SELECT *,
        |    CAST(SUM(n_events + n_censored) OVER win AS BIGINT) AS cum,
        |    CAST(SUM(n_events + n_censored) OVER (PARTITION BY cohort)
        |      AS BIGINT) AS n_total
        |  FROM cells WINDOW win AS (PARTITION BY cohort ORDER BY duration
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT cohort, duration,
        |  n_total - (cum - n_events - n_censored) AS n_risk,
        |  n_events, n_censored,
        |  CAST(n_events AS DOUBLE)
        |    / CAST(n_total - (cum - n_events - n_censored) AS DOUBLE) AS hazard
        |FROM w""".stripMargin),

    // Benjamini-Hochberg FDR gate over the per-(type, day) share table
    // (the multiple-testing control on a wall of per-slice screens)
    Query("q298_bh_fdr", (s, d) => {
      val daily = t(s, d, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("__c"))
      val dayTot = daily.groupBy(col("day")).agg(sum(col("__c")).as("__dt"))
      val tests = daily.join(graft.operators.Broadcasts.maybeBroadcast(dayTot), Seq("day"))
        .select(col("event_type"), col("day"),
          (col("__c").cast("double") / col("__dt").cast("double")).as("p"))
      graft.operators.Robust.benjaminiHochberg(tests, "p", 0.1,
        Seq("event_type", "day"))
    },
      // total-order BH: rank by (p, type, day); k* via conditional max
      """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(COUNT(*) AS BIGINT) AS c FROM events GROUP BY 1, 2),
        |dt AS (SELECT day, CAST(SUM(c) AS BIGINT) AS dtot FROM d GROUP BY 1),
        |tests AS (SELECT event_type, d.day,
        |    CAST(c AS DOUBLE) / CAST(dtot AS DOUBLE) AS p_value
        |  FROM d JOIN dt ON d.day = dt.day),
        |r AS (SELECT *, CAST(row_number() OVER (ORDER BY p_value, event_type,
        |      day) AS BIGINT) AS bh_rank,
        |    CAST(COUNT(*) OVER () AS BIGINT) AS m FROM tests),
        |th AS (SELECT *, (CAST(bh_rank AS DOUBLE) * 0.1) / CAST(m AS DOUBLE)
        |    AS bh_threshold FROM r),
        |k AS (SELECT COALESCE(MAX(CASE WHEN p_value <= bh_threshold
        |    THEN bh_rank END), 0) AS kstar FROM th)
        |SELECT event_type, day, p_value, bh_rank, bh_threshold,
        |  bh_rank <= kstar AS rejected
        |FROM th, k""".stripMargin),

    // CUPED variance-reduced effect: pre-period activity count as the
    // covariate, in-period count as the metric, user-parity arms
    Query("q299_cuped", (s, d) => {
      val ev = t(s, d, "events")
      val units = ev.groupBy(col("user_id"))
        .agg(sum(when(col("ts") < lit("2024-01-16").cast("timestamp_ntz"),
          1L).otherwise(0L)).as("x"),
          sum(when(col("ts") >= lit("2024-01-16").cast("timestamp_ntz"),
            1L).otherwise(0L)).as("y"))
        .withColumn("treated", col("user_id") % 2 === 0)
      graft.operators.Robust.cuped(units, "treated", "x", "y")
    },
      // q264-template moments: exact integer sums, fixed double chains
      """WITH u AS (SELECT user_id,
        |    CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS x,
        |    CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS y,
        |    user_id % 2 = 0 AS tr
        |  FROM events GROUP BY 1),
        |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN tr THEN 1 ELSE 0 END) AS BIGINT) AS n_treat,
        |    CAST(SUM(CASE WHEN tr THEN 0 ELSE 1 END) AS BIGINT) AS n_ctrl,
        |    CAST(SUM(CASE WHEN tr THEN x ELSE 0 END) AS BIGINT) AS sum_x_treat,
        |    CAST(SUM(CASE WHEN tr THEN y ELSE 0 END) AS BIGINT) AS sum_y_treat,
        |    CAST(SUM(CASE WHEN NOT tr THEN x ELSE 0 END) AS BIGINT) AS sum_x_ctrl,
        |    CAST(SUM(CASE WHEN NOT tr THEN y ELSE 0 END) AS BIGINT) AS sum_y_ctrl,
        |    SUM(CAST(x AS HUGEINT) * x) AS sxx,
        |    SUM(CAST(x AS HUGEINT) * y) AS sxy
        |  FROM u),
        |f AS (SELECT *,
        |    (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE))
        |      - (CAST(sum_x_treat + sum_x_ctrl AS DOUBLE)
        |        * CAST(sum_x_treat + sum_x_ctrl AS DOUBLE)) AS var_n,
        |    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE))
        |      - (CAST(sum_x_treat + sum_x_ctrl AS DOUBLE)
        |        * CAST(sum_y_treat + sum_y_ctrl AS DOUBLE)) AS cov_n
        |  FROM a)
        |SELECT n, n_treat, n_ctrl, sum_x_treat, sum_y_treat,
        |  sum_x_ctrl, sum_y_ctrl,
        |  CASE WHEN var_n > 0 AND n_treat > 0 AND n_ctrl > 0
        |    THEN cov_n / var_n END AS theta,
        |  CASE WHEN n_treat > 0 AND n_ctrl > 0 THEN
        |    (CAST(sum_y_treat AS DOUBLE) / CAST(n_treat AS DOUBLE))
        |      - (CAST(sum_y_ctrl AS DOUBLE) / CAST(n_ctrl AS DOUBLE)) END
        |    AS raw_effect,
        |  CASE WHEN var_n > 0 AND n_treat > 0 AND n_ctrl > 0 THEN
        |    ((CAST(sum_y_treat AS DOUBLE) / CAST(n_treat AS DOUBLE))
        |      - (CAST(sum_y_ctrl AS DOUBLE) / CAST(n_ctrl AS DOUBLE)))
        |    - (cov_n / var_n)
        |      * ((CAST(sum_x_treat AS DOUBLE) / CAST(n_treat AS DOUBLE))
        |        - (CAST(sum_x_ctrl AS DOUBLE) / CAST(n_ctrl AS DOUBLE))) END
        |    AS adjusted_effect
        |FROM f""".stripMargin),

    // chi-square independence of order priority x order status: exact
    // per-cell residuals and denominators, one division per cell
    Query("q300_chi2_independence", (s, d) =>
      graft.operators.Robust.chiSquareIndependence(t(s, d, "orders"),
        "o_orderpriority", "o_orderstatus"),
      // margins + per-cell residual/denominator; square inside the one
      // exact decimal division only
      """WITH cells AS (SELECT CAST(o_orderpriority AS VARCHAR) AS a,
        |    CAST(o_orderstatus AS VARCHAR) AS b,
        |    CAST(COUNT(*) AS BIGINT) AS n_cell
        |  FROM orders WHERE o_orderpriority IS NOT NULL
        |    AND o_orderstatus IS NOT NULL GROUP BY 1, 2),
        |rm AS (SELECT a, CAST(SUM(n_cell) AS BIGINT) AS row_total
        |  FROM cells GROUP BY 1),
        |cm AS (SELECT b, CAST(SUM(n_cell) AS BIGINT) AS col_total
        |  FROM cells GROUP BY 1),
        |tt AS (SELECT CAST(SUM(n_cell) AS BIGINT) AS n FROM cells),
        |j AS (SELECT cells.a, cells.b, n_cell, row_total, col_total, n,
        |    CAST(n AS HUGEINT) * n_cell
        |      - CAST(row_total AS HUGEINT) * col_total AS d,
        |    CAST(n AS HUGEINT) * row_total * col_total AS td
        |  FROM cells JOIN rm ON cells.a = rm.a JOIN cm ON cells.b = cm.b, tt)
        |SELECT a, b, n_cell, row_total, col_total, n,
        |  CAST(d AS BIGINT) AS delta_num, CAST(td AS BIGINT) AS term_den,
        |  CASE WHEN td > 0 THEN CAST(d * d AS DOUBLE) / CAST(td AS DOUBLE) END
        |    AS chi2_term
        |FROM j""".stripMargin),

    // golden-record survivorship: three deterministic variants of each
    // customer (one name-smudged, one segment-NULLed) collapse back to
    // the clean row by per-attribute mode (ties -> smallest)
    Query("q301_golden_records", (s, d) => {
      val c = t(s, d, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      def variant(i: Int, name: Column, seg: Column) = c.select(
        (col("c_custkey") * 10 + i).as("rec_id"),
        col("c_custkey").as("cluster"), name.as("name"), seg.as("seg"))
      val records = variant(0, col("c_name"), col("c_mktsegment"))
        .unionByName(variant(1,
          when(col("c_custkey") % 3 === 0,
            regexp_replace(col("c_name"), "1", "l")).otherwise(col("c_name")),
          col("c_mktsegment")))
        .unionByName(variant(2, col("c_name"),
          when(col("c_custkey") % 5 === 0, lit(null).cast("string"))
            .otherwise(col("c_mktsegment"))))
      graft.operators.Linkage.goldenRecords(
        records.select(col("rec_id"), col("name"), col("seg")), "rec_id",
        records.select(col("rec_id"), col("cluster")), "cluster",
        Seq("name", "seg"))
    },
      // per-attribute mode survivorship (ties -> smallest), NULLs carry
      // no vote; cluster sizes exact
      """WITH c AS (SELECT c_custkey, c_name, c_mktsegment FROM customer),
        |recs AS (
        |  SELECT c_custkey AS cluster, c_name AS name, c_mktsegment AS seg
        |    FROM c
        |  UNION ALL
        |  SELECT c_custkey,
        |    CASE WHEN c_custkey % 3 = 0 THEN replace(c_name, '1', 'l')
        |      ELSE c_name END, c_mktsegment FROM c
        |  UNION ALL
        |  SELECT c_custkey, c_name,
        |    CASE WHEN c_custkey % 5 = 0 THEN NULL
        |      ELSE c_mktsegment END FROM c),
        |sizes AS (SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_records
        |  FROM recs GROUP BY 1),
        |nb AS (SELECT cluster, name FROM (
        |  SELECT cluster, name, row_number() OVER (PARTITION BY cluster
        |      ORDER BY cnt DESC, name ASC) AS rk
        |  FROM (SELECT cluster, name, CAST(COUNT(*) AS BIGINT) AS cnt
        |    FROM recs WHERE name IS NOT NULL GROUP BY 1, 2)) WHERE rk = 1),
        |sb AS (SELECT cluster, seg FROM (
        |  SELECT cluster, seg, row_number() OVER (PARTITION BY cluster
        |      ORDER BY cnt DESC, seg ASC) AS rk
        |  FROM (SELECT cluster, seg, CAST(COUNT(*) AS BIGINT) AS cnt
        |    FROM recs WHERE seg IS NOT NULL GROUP BY 1, 2)) WHERE rk = 1)
        |SELECT sizes.cluster, n_records, name, seg
        |FROM sizes LEFT JOIN nb USING (cluster) LEFT JOIN sb USING (cluster)""".stripMargin),

    // snapshot column-drift audit: second half renames nothing but
    // retypes user_id, drops value, adds props — plus exact null
    // accounting for the surviving columns
    Query("q302_column_drift", (s, d) => {
      val ev = t(s, d, "events")
      val ref = ev.filter(col("ts") < lit("2024-01-16").cast("timestamp_ntz"))
        .select(col("user_id"), col("event_type"), col("value"))
      val cur = ev.filter(col("ts") >= lit("2024-01-16").cast("timestamp_ntz"))
        .select(col("user_id").cast("string").as("user_id"),
          col("event_type"), col("props"))
      graft.operators.Diff.columnDriftReport(ref, cur)
    },
      // schema membership as literals (the compare is metadata), null
      // accounting as exact fused counts per side
      """WITH r AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS z_uid,
        |    CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS z_et,
        |    CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS z_val
        |  FROM events WHERE ts < TIMESTAMP '2024-01-16'),
        |c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS z_uid,
        |    CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS z_et,
        |    CAST(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS z_props
        |  FROM events WHERE ts >= TIMESTAMP '2024-01-16'),
        |rows_ AS (
        |  SELECT 'user_id' AS column_name, 'type_changed' AS status,
        |    'BIGINT' AS ref_type, 'STRING' AS cur_type,
        |    r.n AS n_ref, r.z_uid AS n_null_ref,
        |    c.n AS n_cur, c.z_uid AS n_null_cur FROM r, c
        |  UNION ALL
        |  SELECT 'event_type', 'kept', 'STRING', 'STRING',
        |    r.n, r.z_et, c.n, c.z_et FROM r, c
        |  UNION ALL
        |  SELECT 'value', 'removed', 'DOUBLE', NULL,
        |    r.n, r.z_val, NULL, NULL FROM r, c
        |  UNION ALL
        |  SELECT 'props', 'added', NULL, 'STRING',
        |    NULL, NULL, c.n, c.z_props FROM r, c)
        |SELECT *,
        |  CASE WHEN n_ref > 0 THEN CAST(n_null_ref AS DOUBLE) / CAST(n_ref AS DOUBLE) END AS null_frac_ref,
        |  CASE WHEN n_cur > 0 THEN CAST(n_null_cur AS DOUBLE) / CAST(n_cur AS DOUBLE) END AS null_frac_cur
        |FROM rows_""".stripMargin),

    // contract-monitor sink replay (q258 pattern): three batches'
    // per-column (n, n_null) partials folded through the sink's merge
    // algebra, judged against the pinned first-half reference profile
    Query("q303_contract_monitor_replay", (s, d) => {
      val ev = t(s, d, "events")
      val cols = Seq("user_id", "event_type", "value", "props")
      def cc(lo: String, hi: String) = graft.streaming.Streaming
        .columnCountsOf(ev.filter(col("ts") >= lit(lo).cast("timestamp_ntz")
          && col("ts") < lit(hi).cast("timestamp_ntz")), cols)
      val folded = graft.streaming.Streaming.mergeColumnCounts(
        graft.streaming.Streaming.mergeColumnCounts(
          cc("2024-01-01", "2024-01-11"), cc("2024-01-11", "2024-01-21")),
        cc("2024-01-21", "2024-02-01"))
      val ref = graft.streaming.Streaming
        .columnCountsOf(
          ev.filter(col("ts") < lit("2024-01-16").cast("timestamp_ntz")), cols)
        .select(col("column_name"), col("n").as("n_ref"),
          col("n_null").as("n_null_ref"))
      folded.join(ref, Seq("column_name"), "left")
        .withColumn("null_frac",
          when(col("n") > 0,
            col("n_null").cast("double") / col("n").cast("double")))
        .withColumn("null_frac_ref",
          when(col("n_ref") > 0, col("n_null_ref").cast("double")
            / col("n_ref").cast("double")))
        .withColumn("null_frac_delta", col("null_frac") - col("null_frac_ref"))
    },
      // one-shot per-column cumulative counts vs the pinned first-half
      // profile — the fold through mergeColumnCounts must equal this
      """WITH f AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS z_uid,
        |    CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS z_et,
        |    CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS z_val,
        |    CAST(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS z_pr
        |  FROM events WHERE ts >= TIMESTAMP '2024-01-01'
        |    AND ts < TIMESTAMP '2024-02-01'),
        |r AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS z_uid,
        |    CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS z_et,
        |    CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS z_val,
        |    CAST(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS z_pr
        |  FROM events WHERE ts < TIMESTAMP '2024-01-16'),
        |rows_ AS (
        |  SELECT 'user_id' AS column_name, f.n, f.z_uid AS n_null,
        |    r.n AS n_ref, r.z_uid AS n_null_ref FROM f, r
        |  UNION ALL SELECT 'event_type', f.n, f.z_et, r.n, r.z_et FROM f, r
        |  UNION ALL SELECT 'value', f.n, f.z_val, r.n, r.z_val FROM f, r
        |  UNION ALL SELECT 'props', f.n, f.z_pr, r.n, r.z_pr FROM f, r)
        |SELECT *,
        |  CASE WHEN n > 0 THEN CAST(n_null AS DOUBLE) / CAST(n AS DOUBLE) END
        |    AS null_frac,
        |  CASE WHEN n_ref > 0 THEN CAST(n_null_ref AS DOUBLE) / CAST(n_ref AS DOUBLE) END
        |    AS null_frac_ref,
        |  (CASE WHEN n > 0 THEN CAST(n_null AS DOUBLE) / CAST(n AS DOUBLE) END)
        |    - (CASE WHEN n_ref > 0 THEN CAST(n_null_ref AS DOUBLE) / CAST(n_ref AS DOUBLE) END)
        |    AS null_frac_delta
        |FROM rows_""".stripMargin),

    // split-conformal calibration quantile per event type: exact
    // rational rank threshold over the distinct-residual lattice
    Query("q304_conformal_quantile", (s, d) =>
      graft.operators.Eval.conformalQuantile(
        t(s, d, "events")
          .filter(col("ts") < lit("2024-01-16").cast("timestamp_ntz"))
          .withColumn("resid", abs(col("value") - 100.0)),
        "event_type", "resid", alphaNum = 1, alphaDen = 10),
      // rational rank threshold k = ceil((n+1)*9/10) over the distinct-
      // residual lattice; qhat = smallest residual with cum >= k
      """WITH c AS (SELECT event_type AS k, abs(value - 100.0) AS v,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM events WHERE ts < TIMESTAMP '2024-01-16'
        |    AND value IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT k, CAST(SUM(cnt) AS BIGINT) AS n,
        |    CAST((((SUM(cnt) + 1) * 9) + 9) // 10 AS BIGINT) AS k_rank
        |  FROM c GROUP BY 1),
        |w AS (SELECT c.k, v, CAST(SUM(cnt) OVER win AS BIGINT) AS cum
        |  FROM c WINDOW win AS (PARTITION BY c.k ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT t.k AS event_type, n, k_rank,
        |  MIN(CASE WHEN cum >= k_rank THEN v END) AS qhat
        |FROM w JOIN t ON w.k = t.k GROUP BY 1, 2, 3""".stripMargin),

    // conformal coverage on the held-out second half: the finite-sample
    // guarantee check (coverage should sit near 0.9)
    Query("q305_conformal_coverage", (s, d) => {
      val ev = t(s, d, "events").withColumn("resid", abs(col("value") - 100.0))
      val qhat = graft.operators.Eval.conformalQuantile(
        ev.filter(col("ts") < lit("2024-01-16").cast("timestamp_ntz")),
        "event_type", "resid", alphaNum = 1, alphaDen = 10)
      graft.operators.Eval.conformalCoverage(
        ev.filter(col("ts") >= lit("2024-01-16").cast("timestamp_ntz")),
        "event_type", "resid", qhat)
    },
      // held-out coverage of the conformal interval, one division/key
      """WITH c AS (SELECT event_type AS k, abs(value - 100.0) AS v,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM events WHERE ts < TIMESTAMP '2024-01-16'
        |    AND value IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT k, CAST(SUM(cnt) AS BIGINT) AS n,
        |    CAST((((SUM(cnt) + 1) * 9) + 9) // 10 AS BIGINT) AS k_rank
        |  FROM c GROUP BY 1),
        |w AS (SELECT c.k, v, CAST(SUM(cnt) OVER win AS BIGINT) AS cum
        |  FROM c WINDOW win AS (PARTITION BY c.k ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |q AS (SELECT t.k, MIN(CASE WHEN cum >= k_rank THEN v END) AS qhat
        |  FROM w JOIN t ON w.k = t.k GROUP BY 1)
        |SELECT q.k AS event_type, CAST(COUNT(*) AS BIGINT) AS n_test,
        |  CAST(SUM(CASE WHEN abs(value - 100.0) <= qhat THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_covered,
        |  CASE WHEN MAX(CASE WHEN qhat IS NULL THEN 1 ELSE 0 END) = 0 THEN
        |    CAST(SUM(CASE WHEN abs(value - 100.0) <= qhat THEN 1 ELSE 0 END)
        |      AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) END AS coverage
        |FROM events JOIN q ON events.event_type = q.k
        |WHERE ts >= TIMESTAMP '2024-01-16' AND value IS NOT NULL
        |GROUP BY 1""".stripMargin),

    // exact midpoint-convention ECE over q242's reliability input:
    // BIGINT numerator, one final division
    Query("q306_ece", (s, d) => {
      val ev = t(s, d, "events").select(
        graft.llmdata.Sampling.hashFraction(col("event_id")).as("score"),
        (col("event_type") === "purchase").as("label"))
      graft.operators.Profile.expectedCalibrationError(
        ev, "score", "label", nBins = 10)
    },
      // q242's binning; ECE numerator |2*nBins*pos - (2b+1)*n| summed as
      // exact BIGINT, one division
      """WITH b AS (SELECT
        |    CAST(CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8) AS BIGINT) AS DOUBLE)
        |      / 4294967296.0 AS score,
        |    event_type = 'purchase' AS label FROM events),
        |b2 AS (SELECT *, CAST(CAST(score AS DECIMAL(20,6)) * 1000000 AS BIGINT) AS sm FROM b),
        |b3 AS (SELECT *, least((sm * 10) // 1000000, 9) AS bin
        |  FROM b2 WHERE sm BETWEEN 0 AND 1000000),
        |g AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS p
        |  FROM b3 GROUP BY 1)
        |SELECT CAST(SUM(n) AS BIGINT) AS n,
        |  CAST(SUM(ABS(20 * p - (2 * bin + 1) * n)) AS BIGINT) AS ece_num,
        |  CASE WHEN SUM(n) > 0 THEN
        |    CAST(SUM(ABS(20 * p - (2 * bin + 1) * n)) AS DOUBLE)
        |      / (20.0 * CAST(SUM(n) AS DOUBLE)) END AS ece
        |FROM g""".stripMargin),

    // the raw-SQL surface: SqlCatalog view names + spark.sql text (the
    // dbt-user interface) — Catalyst still sees one plan end-to-end
    Query("q307_sql_surface", (s, d) => {
      graft.sql.SqlCatalog.registerTables(s, d)
      s.sql("""SELECT o_orderpriority,
        |  date_format(o_orderdate, 'yyyy-MM') AS month,
        |  CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS revenue_cents
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY 1, 2""".stripMargin)
    },
      // the same SQL, DuckDB dialect (strftime for the month key)
      """SELECT o_orderpriority,
        |  strftime(o_orderdate, '%Y-%m') AS month,
        |  CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS revenue_cents
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY 1, 2""".stripMargin),

    // daily OHLC bars per event type: total-order open/close (event_id
    // tiebreak), exact extremes, decimal-path volume
    Query("q308_ohlc_bars", (s, d) =>
      graft.operators.Timeseries.ohlcBars(
        t(s, d, "events").withColumn("day", to_date(col("ts"))),
        "event_type", "day", "ts", "event_id", "value"),
      // open/close via total-order row_number; extremes/volume direct
      """WITH e AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(ts AS TIMESTAMP) AS ts, event_id, value
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
        |    AND event_id IS NOT NULL),
        |w AS (SELECT *,
        |    row_number() OVER (PARTITION BY event_type, day
        |      ORDER BY ts ASC, event_id ASC, value ASC) AS rn_a,
        |    row_number() OVER (PARTITION BY event_type, day
        |      ORDER BY ts DESC, event_id DESC, value DESC) AS rn_d
        |  FROM e)
        |SELECT event_type, day, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS volume,
        |  MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
        |  MAX(value) AS high, MIN(value) AS low,
        |  MAX(CASE WHEN rn_d = 1 THEN value END) AS close
        |FROM w GROUP BY 1, 2""".stripMargin),

    // gaps-and-islands activity streaks per user — islands identity
    // day_number - row_number over the distinct-day frame
    Query("q309_streaks", (s, d) =>
      graft.operators.Retention.streaks(t(s, d, "events"),
        "user_id", "ts"),
      // islands identity day_number - row_number on distinct days;
      // last_streak via the (end, len) argmax
      """WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
        |  FROM events WHERE ts IS NOT NULL),
        |n AS (SELECT user_id,
        |    CAST(day - DATE '1970-01-01' AS BIGINT) AS dn FROM d),
        |i AS (SELECT user_id, dn,
        |    dn - row_number() OVER (PARTITION BY user_id ORDER BY dn) AS island
        |  FROM n),
        |g AS (SELECT user_id, island, CAST(COUNT(*) AS BIGINT) AS len,
        |    CAST(MAX(dn) AS BIGINT) AS e FROM i GROUP BY 1, 2),
        |r AS (SELECT user_id, len, row_number() OVER (PARTITION BY user_id
        |    ORDER BY e DESC, len DESC) AS rk FROM g),
        |a AS (SELECT user_id, CAST(SUM(len) AS BIGINT) AS n_active_days,
        |    CAST(COUNT(*) AS BIGINT) AS n_streaks,
        |    CAST(MAX(len) AS BIGINT) AS longest_streak FROM g GROUP BY 1)
        |SELECT a.user_id, n_active_days, n_streaks, longest_streak,
        |  CAST(r.len AS BIGINT) AS last_streak
        |FROM a JOIN r ON a.user_id = r.user_id AND r.rk = 1""".stripMargin),

    // P90 pinball loss of a flat 100.00 forecast per event type —
    // exact cent-unit integer numerator, one division
    Query("q310_pinball_loss", (s, d) =>
      graft.operators.Eval.pinballLoss(
        t(s, d, "events").withColumn("fc", lit(100.0)),
        "event_type", "value", "fc", qNum = 9, qDen = 10),
      // cent-unit pinball terms GREATEST(9e, -e) summed exact
      """WITH e AS (SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) - 10000 AS ec
        |  FROM events WHERE value IS NOT NULL)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(GREATEST(9 * ec, -1 * ec)) AS BIGINT) AS pinball_num,
        |  CAST(SUM(GREATEST(9 * ec, -1 * ec)) AS DOUBLE)
        |    / (CAST(COUNT(*) AS DOUBLE) * 1000.0) AS mean_pinball
        |FROM e GROUP BY 1""".stripMargin),

    // deterministic Poisson bootstrap (md5 multiplicities from the
    // pinned cumulative table) + rational-rank percentile CI. B=20
    // here (round-14, VERDICT r13 #8: the B=50 form was the suite's
    // bench maximum — honest compute, but the GATE needs the identity,
    // not the statistical width); the rank-selection/CI contract
    // itself is spec-pinned at B=40 with a host-side md5 replica
    // (Round8OpsSpec), and B only scales the replicate fan-out
    Query("q311_bootstrap_ci", (s, d) => {
      val reps = graft.operators.Robust.poissonBootstrap(
        t(s, d, "events"), "event_id", "value", b = 20, salt = "r8")
      graft.operators.Robust.bootstrapCI(reps, 1, 40, 39, 40)
    },
      // md5 multiplicities against the pinned Poisson table; exact
      // per-replicate partials; rational-rank order-stat CI
      """WITH base AS (SELECT event_id,
        |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS c
        |  FROM events WHERE event_id IS NOT NULL AND value IS NOT NULL),
        |reps AS (SELECT unnest(generate_series(0, 19)) AS replicate),
        |x AS (SELECT replicate, c,
        |    CAST(CAST('0x' || substr(md5(CAST(event_id AS VARCHAR) || '#'
        |      || CAST(replicate AS VARCHAR) || '#' || 'r8'), 1, 8) AS BIGINT)
        |      AS DOUBLE) / 4294967296.0 AS h
        |  FROM base, reps),
        |m AS (SELECT replicate, c,
        |    CASE WHEN h < 0.36787944117144233 THEN 0
        |      WHEN h < 0.7357588823428847 THEN 1
        |      WHEN h < 0.9196986029286058 THEN 2
        |      WHEN h < 0.9810118431238462 THEN 3
        |      WHEN h < 0.9963401531726563 THEN 4
        |      WHEN h < 0.9994058151824183 THEN 5
        |      WHEN h < 0.9999167588507119 THEN 6
        |      WHEN h < 0.9999897508033253 THEN 7
        |      WHEN h < 0.9999988747974049 THEN 8
        |      WHEN h < 0.9999998885745216 THEN 9
        |      ELSE 10 END AS mlt
        |  FROM x),
        |g AS (SELECT replicate, CAST(SUM(mlt) AS BIGINT) AS n,
        |    CAST(SUM(mlt * c) AS BIGINT) AS sum_cents FROM m GROUP BY 1),
        |mn AS (SELECT replicate, CASE WHEN n > 0 THEN
        |    CAST(sum_cents AS DOUBLE) / (CAST(n AS DOUBLE) * 100.0) END AS mean
        |  FROM g),
        |r AS (SELECT *, CAST(row_number() OVER (ORDER BY mean, replicate)
        |      AS BIGINT) AS rk,
        |    CAST(COUNT(*) OVER () AS BIGINT) AS b
        |  FROM mn WHERE mean IS NOT NULL)
        |SELECT CAST(MAX(b) AS BIGINT) AS n_replicates,
        |  MIN(CASE WHEN rk * 40 >= b * 1 THEN mean END) AS ci_lo,
        |  MIN(CASE WHEN rk * 40 >= b * 39 THEN mean END) AS ci_hi
        |FROM r""".stripMargin),

    // churn training labels: Jan 1-16 observation features, 10-day
    // outcome horizon — leakage-free by construction
    Query("q312_churn_labels", (s, d) =>
      graft.operators.Retention.churnLabels(t(s, d, "events"),
        "user_id", "ts", "value", "2024-01-01", "2024-01-16",
        horizonDays = 10),
      // observation-window conditional aggregates; label = silent in the
      // 10-day horizon; zero-feature users excluded
      """SELECT user_id,
        |  CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-01'
        |    AND ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_events_obs,
        |  CAST(COUNT(DISTINCT CASE WHEN ts >= TIMESTAMP '2024-01-01'
        |    AND ts < TIMESTAMP '2024-01-16' THEN CAST(ts AS DATE) END)
        |    AS BIGINT) AS n_active_days_obs,
        |  CAST(MAX(CASE WHEN ts >= TIMESTAMP '2024-01-01'
        |      AND ts < TIMESTAMP '2024-01-16' THEN CAST(ts AS DATE) END)
        |    - MIN(CASE WHEN ts >= TIMESTAMP '2024-01-01'
        |      AND ts < TIMESTAMP '2024-01-16' THEN CAST(ts AS DATE) END)
        |    AS BIGINT) AS span_days_obs,
        |  CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-01'
        |    AND ts < TIMESTAMP '2024-01-16'
        |    THEN CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
        |    ELSE 0 END) AS BIGINT) AS value_cents_obs,
        |  SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16'
        |    AND ts < TIMESTAMP '2024-01-26' THEN 1 ELSE 0 END) = 0 AS churned
        |FROM events WHERE ts IS NOT NULL
        |GROUP BY 1
        |HAVING SUM(CASE WHEN ts >= TIMESTAMP '2024-01-01'
        |  AND ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END) > 0""".stripMargin),

    // Qini uplift curve: parity arms, planted outcome, event value as
    // the targeting score (quantized grid)
    Query("q313_qini_curve", (s, d) =>
      graft.operators.Eval.qiniCurve(
        t(s, d, "events").filter(col("user_id").isNotNull),
        "value", col("user_id") % 2 === 0, col("event_type") === "purchase"),
      // desc score lattice; cross-product uplift numerator in HUGEINT
      """WITH ps AS (SELECT value AS threshold,
        |    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS t,
        |    CAST(SUM(CASE WHEN user_id % 2 = 0
        |      AND event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |    CAST(SUM(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS c,
        |    CAST(SUM(CASE WHEN user_id % 2 <> 0
        |      AND event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS cp
        |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
        |    AND event_type IS NOT NULL GROUP BY 1),
        |cw AS (SELECT threshold,
        |    CAST(SUM(t) OVER wd AS BIGINT) AS cum_t,
        |    CAST(SUM(tp) OVER wd AS BIGINT) AS cum_t_pos,
        |    CAST(SUM(c) OVER wd AS BIGINT) AS cum_c,
        |    CAST(SUM(cp) OVER wd AS BIGINT) AS cum_c_pos
        |  FROM ps WINDOW wd AS (ORDER BY threshold DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT threshold, cum_t, cum_t_pos, cum_c, cum_c_pos,
        |  CAST(CAST(cum_t_pos AS HUGEINT) * cum_c
        |    - CAST(cum_c_pos AS HUGEINT) * cum_t AS BIGINT) AS q_num,
        |  CASE WHEN cum_t > 0 AND cum_c > 0 THEN
        |    CAST(CAST(cum_t_pos AS HUGEINT) * cum_c
        |      - CAST(cum_c_pos AS HUGEINT) * cum_t AS DOUBLE)
        |      / (CAST(cum_t AS DOUBLE) * CAST(cum_c AS DOUBLE)) END AS uplift
        |FROM cw""".stripMargin),

    // isotonic (PAV) calibration over the q242 reliability input; the
    // oracle realizes the same fit through the minimax identity
    // cal(b) = max_{i<=b} min_{j>=b} mean(i..j) — rounding is
    // monotone, so double min/max equals the rounded exact minimax,
    // which equals the PAV block rational. num/den dropped (witness
    // representation differs; the VALUE is the contract).
    Query("q314_isotonic", (s, d) => {
      val ev = t(s, d, "events").select(
        graft.llmdata.Sampling.hashFraction(col("event_id")).as("score"),
        (col("event_type") === "purchase").as("label"))
      graft.operators.Profile.isotonicCalibration(ev, "score", "label", 10)
        .drop("cal_num", "cal_den")
    },
      // PAV via the minimax identity over prefix sums (nBins=10 -> the
      // i<=b<=j triple join is 10^3-scale metadata)
      """WITH b AS (SELECT
        |    CAST(CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8) AS BIGINT) AS DOUBLE)
        |      / 4294967296.0 AS score,
        |    event_type = 'purchase' AS label FROM events),
        |b2 AS (SELECT *, CAST(CAST(score AS DECIMAL(20,6)) * 1000000 AS BIGINT) AS sm FROM b),
        |b3 AS (SELECT *, least((sm * 10) // 1000000, 9) AS bin
        |  FROM b2 WHERE sm BETWEEN 0 AND 1000000),
        |g AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS p
        |  FROM b3 GROUP BY 1),
        |pre AS (SELECT bin, n, p,
        |    CAST(SUM(n) OVER w AS BIGINT) AS cn,
        |    CAST(SUM(p) OVER w AS BIGINT) AS cp
        |  FROM g WINDOW w AS (ORDER BY bin
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |pairs AS (SELECT i.bin AS i, j.bin AS j,
        |    CAST(j.cp - (i.cp - i.p) AS DOUBLE)
        |      / CAST(j.cn - (i.cn - i.n) AS DOUBLE) AS mean_ij
        |  FROM pre i JOIN pre j ON i.bin <= j.bin),
        |inner_ AS (SELECT g.bin AS b, pairs.i,
        |    MIN(mean_ij) AS inner_min
        |  FROM g JOIN pairs ON pairs.i <= g.bin AND pairs.j >= g.bin
        |  GROUP BY 1, 2)
        |SELECT g.bin, g.n, g.p AS n_pos, MAX(inner_min) AS calibrated
        |FROM g JOIN inner_ ON inner_.b = g.bin
        |GROUP BY 1, 2, 3""".stripMargin),

    // exact Brier score of the q242 reliability input per event type
    Query("q315_brier", (s, d) =>
      graft.operators.Eval.brierScore(
        t(s, d, "events").withColumn("score",
          graft.llmdata.Sampling.hashFraction(col("event_id"))),
        "event_type", "score", col("event_type") === "purchase"),
      // micro-grid squared residuals summed in HUGEINT, BIGINT out
      """WITH b AS (SELECT event_type,
        |    CAST(CAST(CAST(CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8) AS BIGINT) AS DOUBLE)
        |      / 4294967296.0 AS DECIMAL(20,6)) * 1000000 AS BIGINT) AS sm,
        |    CASE WHEN event_type = 'purchase' THEN 1000000 ELSE 0 END AS y
        |  FROM events),
        |f AS (SELECT event_type, y - sm AS d FROM b
        |  WHERE sm BETWEEN 0 AND 1000000)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(d AS HUGEINT) * d) AS BIGINT) AS brier_num,
        |  CAST(SUM(CAST(d AS HUGEINT) * d) AS DOUBLE)
        |    / (CAST(COUNT(*) AS DOUBLE) * 1e12) AS brier
        |FROM f GROUP BY 1""".stripMargin),

    // Bayesian-average purchase rate per customer segment proxy:
    // exact cross-multiplied smoothing toward the global rate
    Query("q316_bayesian_average", (s, d) =>
      graft.operators.Encode.bayesianAverage(
        t(s, d, "events").withColumn("seg", col("user_id") % 20),
        "seg", col("event_type") === "purchase", strength = 50L),
      // cross-multiplied additive smoothing toward the global rate
      """WITH c AS (SELECT user_id % 20 AS seg, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_pos
        |  FROM events WHERE user_id IS NOT NULL
        |    AND event_type IS NOT NULL GROUP BY 1),
        |g AS (SELECT CAST(SUM(n) AS BIGINT) AS gn,
        |    CAST(SUM(n_pos) AS BIGINT) AS gp FROM c)
        |SELECT seg, n, n_pos,
        |  CAST(CAST(n_pos AS HUGEINT) * gn + 50 * CAST(gp AS HUGEINT)
        |    AS BIGINT) AS smooth_num,
        |  CAST(CAST(gn AS HUGEINT) * (n + 50) AS BIGINT) AS smooth_den,
        |  CAST(CAST(n_pos AS HUGEINT) * gn + 50 * CAST(gp AS HUGEINT)
        |      AS DOUBLE)
        |    / CAST(CAST(gn AS HUGEINT) * (n + 50) AS DOUBLE) AS smoothed
        |FROM c, g""".stripMargin),

    // McNemar paired test: per user, "purchased in first half" vs
    // "purchased in second half" — the paired before/after design
    Query("q317_mcnemar", (s, d) => {
      val ev = t(s, d, "events")
      val pairs = ev.groupBy(col("user_id"))
        .agg(
          (sum(when(col("event_type") === "purchase"
            && col("ts") < lit("2024-01-16").cast("timestamp_ntz"), 1L)
            .otherwise(0L)) > 0).as("before"),
          (sum(when(col("event_type") === "purchase"
            && col("ts") >= lit("2024-01-16").cast("timestamp_ntz"), 1L)
            .otherwise(0L)) > 0).as("after"))
        .withColumn("cohort", col("user_id") % 3)
      graft.operators.Robust.mcnemar(pairs, "cohort",
        col("before"), col("after"))
    },
      // discordant-cell counts per cohort; chi2 = delta^2/(n01+n10)
      """WITH p AS (SELECT user_id,
        |    SUM(CASE WHEN event_type = 'purchase'
        |      AND ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END) > 0 AS bf,
        |    SUM(CASE WHEN event_type = 'purchase'
        |      AND ts >= TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END) > 0 AS af
        |  FROM events GROUP BY 1),
        |g AS (SELECT user_id % 3 AS cohort, bf, af FROM p)
        |SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |  CAST(SUM(CASE WHEN bf AND af THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
        |  CAST(SUM(CASE WHEN NOT bf AND NOT af THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_neither,
        |  CAST(SUM(CASE WHEN bf AND NOT af THEN 1 ELSE 0 END) AS BIGINT) AS n01,
        |  CAST(SUM(CASE WHEN NOT bf AND af THEN 1 ELSE 0 END) AS BIGINT) AS n10,
        |  CAST(SUM(CASE WHEN bf AND NOT af THEN 1 ELSE 0 END)
        |    - SUM(CASE WHEN NOT bf AND af THEN 1 ELSE 0 END) AS BIGINT) AS delta,
        |  CASE WHEN SUM(CASE WHEN bf AND NOT af THEN 1 ELSE 0 END)
        |      + SUM(CASE WHEN NOT bf AND af THEN 1 ELSE 0 END) > 0 THEN
        |    CAST((SUM(CASE WHEN bf AND NOT af THEN 1 ELSE 0 END)
        |        - SUM(CASE WHEN NOT bf AND af THEN 1 ELSE 0 END))
        |      * (SUM(CASE WHEN bf AND NOT af THEN 1 ELSE 0 END)
        |        - SUM(CASE WHEN NOT bf AND af THEN 1 ELSE 0 END)) AS DOUBLE)
        |      / CAST(SUM(CASE WHEN bf AND NOT af THEN 1 ELSE 0 END)
        |        + SUM(CASE WHEN NOT bf AND af THEN 1 ELSE 0 END) AS DOUBLE)
        |  END AS chi2
        |FROM g GROUP BY 1""".stripMargin),

    // Lorenz curve of order totals per priority — the inequality curve
    // behind the q263 gini scalar
    Query("q318_lorenz_curve", (s, d) =>
      graft.operators.RankStats.lorenzCurve(t(s, d, "orders"),
        "o_orderpriority", "o_totalprice"),
      // distinct-value cumulations on the micro grid, two share divisions
      """WITH m AS (SELECT o_orderpriority AS k,
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) * 10000
        |      AS value_micro
        |  FROM orders WHERE o_totalprice IS NOT NULL),
        |c AS (SELECT k, value_micro, CAST(COUNT(*) AS BIGINT) AS n_at_value
        |  FROM m GROUP BY 1, 2),
        |w AS (SELECT *,
        |    CAST(SUM(n_at_value) OVER win AS BIGINT) AS cum_n,
        |    CAST(SUM(CAST(value_micro AS HUGEINT) * n_at_value) OVER win
        |      AS BIGINT) AS cum_micro
        |  FROM c WINDOW win AS (PARTITION BY k ORDER BY value_micro
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |t AS (SELECT k, CAST(SUM(n_at_value) AS BIGINT) AS n,
        |    CAST(SUM(CAST(value_micro AS HUGEINT) * n_at_value) AS BIGINT)
        |      AS total_micro
        |  FROM c GROUP BY 1)
        |SELECT w.k AS o_orderpriority, value_micro, n_at_value, cum_n,
        |  cum_micro, n, total_micro,
        |  CAST(cum_n AS DOUBLE) / CAST(n AS DOUBLE) AS pop_share,
        |  CASE WHEN total_micro > 0 THEN
        |    CAST(cum_micro AS DOUBLE) / CAST(total_micro AS DOUBLE) END
        |    AS mass_share
        |FROM w JOIN t ON w.k = t.k""".stripMargin),

    // Fleiss kappa: each user's first three event types as three
    // "ratings" of the user — the multi-rater annotation-QA statistic
    Query("q319_fleiss_kappa", (s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val first3 = t(s, d, "events")
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= 3)
      val eligible = first3.groupBy(col("user_id"))
        .agg(count(lit(1)).as("__c")).filter(col("__c") === 3)
        .select("user_id")
      graft.operators.Eval.fleissKappa(
        first3.join(eligible, Seq("user_id")), "user_id", "event_type")
    },
      // first-3-ratings construction, then the exact Fleiss integers
      """WITH r3 AS (SELECT user_id, event_type FROM (
        |  SELECT user_id, event_type, row_number() OVER (
        |    PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS rn
        |  FROM events) WHERE rn <= 3),
        |el AS (SELECT user_id FROM r3 GROUP BY 1 HAVING COUNT(*) = 3),
        |f AS (SELECT r3.user_id, event_type FROM r3 JOIN el USING (user_id)),
        |cells AS (SELECT user_id, event_type AS c, CAST(COUNT(*) AS BIGINT) AS k
        |  FROM f GROUP BY 1, 2),
        |pi AS (SELECT user_id, CAST(SUM(k) AS BIGINT) AS n,
        |    CAST(SUM(CAST(k AS HUGEINT) * (k - 1)) AS BIGINT) AS agree
        |  FROM cells GROUP BY 1),
        |tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
        |    CAST(MAX(n) AS BIGINT) AS n_ratings,
        |    CAST(SUM(agree) AS BIGINT) AS po_num FROM pi),
        |pc AS (SELECT CAST(SUM(CAST(m AS HUGEINT) * m) AS BIGINT) AS pe_num
        |  FROM (SELECT c, CAST(SUM(k) AS BIGINT) AS m FROM cells GROUP BY 1))
        |SELECT n_items, n_ratings, po_num, pe_num,
        |  CASE WHEN n_ratings > 1 AND CAST(pe_num AS DOUBLE)
        |      / (CAST(n_items AS DOUBLE) * CAST(n_ratings AS DOUBLE)
        |        * CAST(n_items AS DOUBLE) * CAST(n_ratings AS DOUBLE)) < 1.0
        |  THEN (CAST(po_num AS DOUBLE)
        |      / (CAST(n_items AS DOUBLE) * CAST(n_ratings AS DOUBLE)
        |        * CAST(n_ratings - 1 AS DOUBLE))
        |    - CAST(pe_num AS DOUBLE)
        |      / (CAST(n_items AS DOUBLE) * CAST(n_ratings AS DOUBLE)
        |        * CAST(n_items AS DOUBLE) * CAST(n_ratings AS DOUBLE)))
        |    / (1.0 - CAST(pe_num AS DOUBLE)
        |      / (CAST(n_items AS DOUBLE) * CAST(n_ratings AS DOUBLE)
        |        * CAST(n_items AS DOUBLE) * CAST(n_ratings AS DOUBLE)))
        |  END AS kappa
        |FROM tt, pc""".stripMargin),

    // effect size next to the q300 significance: purchase odds/risk by
    // user parity per cohort
    Query("q320_odds_ratio", (s, d) =>
      graft.operators.Robust.oddsRatio(
        t(s, d, "events").withColumn("cohort", col("user_id") % 3),
        "cohort", col("user_id") % 2 === 0,
        col("event_type") === "purchase"),
      // 2x2 cells + cross products; OR/RR single divisions
      """WITH g AS (SELECT user_id % 3 AS cohort,
        |    user_id % 2 = 0 AS ex, event_type = 'purchase' AS oc
        |  FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
        |c AS (SELECT cohort,
        |    CAST(SUM(CASE WHEN ex AND oc THEN 1 ELSE 0 END) AS BIGINT) AS a,
        |    CAST(SUM(CASE WHEN ex AND NOT oc THEN 1 ELSE 0 END) AS BIGINT) AS b,
        |    CAST(SUM(CASE WHEN NOT ex AND oc THEN 1 ELSE 0 END) AS BIGINT) AS c,
        |    CAST(SUM(CASE WHEN NOT ex AND NOT oc THEN 1 ELSE 0 END) AS BIGINT) AS d
        |  FROM g GROUP BY 1)
        |SELECT cohort, a, b, c, d,
        |  CAST(CAST(a AS HUGEINT) * d AS BIGINT) AS or_num,
        |  CAST(CAST(b AS HUGEINT) * c AS BIGINT) AS or_den,
        |  CASE WHEN b * c > 0 THEN CAST(CAST(a AS HUGEINT) * d AS DOUBLE)
        |    / CAST(CAST(b AS HUGEINT) * c AS DOUBLE) END AS odds_ratio,
        |  CASE WHEN a + b > 0 AND c + d > 0 AND c > 0 THEN
        |    (CAST(a AS DOUBLE) / CAST(a + b AS DOUBLE))
        |      / (CAST(c AS DOUBLE) / CAST(c + d AS DOUBLE)) END AS risk_ratio
        |FROM c""".stripMargin),

    // Flesch reading-ease features per document — exact word/sentence/
    // vowel-group integers, literal-constant score chain
    Query("q321_readability", (s, d) =>
      graft.llmdata.TextAnalysis.readability(
        t(s, d, "documents"), "doc_id", "text"),
      // whitespace-run words, [.!?]+ sentence runs floored at 1,
      // vowel-group syllables; the literal Flesch chain
      """WITH f AS (SELECT doc_id,
        |    CASE WHEN length(lower(trim(text))) = 0 THEN 0
        |      ELSE CAST(len(regexp_split_to_array(lower(trim(text)), '\s+'))
        |        AS BIGINT) END AS n_words,
        |    GREATEST(CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT),
        |      1) AS n_sentences,
        |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
        |      AS n_syllables
        |  FROM documents)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |  CASE WHEN n_words > 0 THEN
        |    206.835
        |      - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
        |      - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
        |  END AS flesch
        |FROM f""".stripMargin),

    // burstiness check: variance-to-mean ratio of per-(user, day)
    // event counts, keyed by event type
    Query("q322_dispersion", (s, d) => {
      val daily = t(s, d, "events")
        .groupBy(col("event_type"), col("user_id"), to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("cnt"))
      graft.operators.Profile.dispersionCheck(daily, "event_type", "cnt")
    },
      // q264-template exact moments; one fixed VMR chain
      """WITH daily AS (SELECT event_type, user_id, CAST(ts AS DATE) AS d,
        |    CAST(COUNT(*) AS BIGINT) AS cnt FROM events GROUP BY 1, 2, 3)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(cnt) AS BIGINT) AS sum_x,
        |  CAST(SUM(CAST(cnt AS HUGEINT) * cnt) AS BIGINT) AS sum_x2,
        |  CASE WHEN SUM(cnt) > 0 THEN
        |    ((CAST(COUNT(*) AS DOUBLE) * CAST(SUM(CAST(cnt AS HUGEINT) * cnt) AS DOUBLE))
        |      - (CAST(SUM(cnt) AS DOUBLE) * CAST(SUM(cnt) AS DOUBLE)))
        |    / (CAST(COUNT(*) AS DOUBLE) * CAST(SUM(cnt) AS DOUBLE)) END AS vmr
        |FROM daily GROUP BY 1""".stripMargin),

    // log-rank parts: do the parity arms' churn curves differ —
    // per-event-time exact observed/expected integers
    Query("q323_log_rank", (s, d) => {
      val units = t(s, d, "events").groupBy(col("user_id"))
        .agg(min(to_date(col("ts"))).as("__first"),
          max(to_date(col("ts"))).as("__last"))
        .select(col("user_id"),
          datediff(col("__last"), col("__first")).cast("long").as("dur"),
          (col("__last") < lit("2024-01-30").cast("date")).as("churned"))
      graft.operators.Survival.logRankParts(units,
        col("user_id") % 2 === 0, "dur", "churned")
    },
      // per-event-time at-risk identity and expected-events parts
      """WITH u AS (SELECT user_id,
        |    CAST(MAX(CAST(ts AS DATE)) - MIN(CAST(ts AS DATE)) AS BIGINT)
        |      AS dur,
        |    MAX(CAST(ts AS DATE)) < DATE '2024-01-30' AS churned,
        |    user_id % 2 = 0 AS arm_a
        |  FROM events GROUP BY 1),
        |cells AS (SELECT dur AS duration,
        |    CAST(SUM(CASE WHEN arm_a THEN 1 ELSE 0 END) AS BIGINT) AS xa,
        |    CAST(SUM(CASE WHEN NOT arm_a THEN 1 ELSE 0 END) AS BIGINT) AS xb,
        |    CAST(SUM(CASE WHEN arm_a AND churned THEN 1 ELSE 0 END) AS BIGINT)
        |      AS d_a,
        |    CAST(SUM(CASE WHEN NOT arm_a AND churned THEN 1 ELSE 0 END)
        |      AS BIGINT) AS d_b
        |  FROM u GROUP BY 1),
        |t AS (SELECT CAST(SUM(xa) AS BIGINT) AS na,
        |    CAST(SUM(xb) AS BIGINT) AS nb FROM cells),
        |w AS (SELECT *,
        |    CAST(SUM(xa) OVER win AS BIGINT) AS cuma,
        |    CAST(SUM(xb) OVER win AS BIGINT) AS cumb
        |  FROM cells WINDOW win AS (ORDER BY duration
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |f AS (SELECT duration,
        |    na - (cuma - xa) AS n_risk_a, nb - (cumb - xb) AS n_risk_b,
        |    d_a, d_b, d_a + d_b AS dd,
        |    (na - (cuma - xa)) + (nb - (cumb - xb)) AS nt
        |  FROM w, t WHERE d_a + d_b > 0)
        |SELECT duration, n_risk_a, n_risk_b, d_a, d_b,
        |  CAST(CAST(dd AS HUGEINT) * n_risk_a AS BIGINT) AS e_num,
        |  nt AS e_den,
        |  CAST(CAST(dd AS HUGEINT) * n_risk_a AS DOUBLE)
        |    / CAST(nt AS DOUBLE) AS expected_a,
        |  CAST(CAST(dd AS HUGEINT) * (nt - dd) * n_risk_a * n_risk_b
        |    AS BIGINT) AS v_num,
        |  CAST(CAST(nt AS HUGEINT) * nt * (nt - 1) AS BIGINT) AS v_den,
        |  CASE WHEN nt > 1 THEN
        |    CAST(CAST(dd AS HUGEINT) * (nt - dd) * n_risk_a * n_risk_b
        |      AS DOUBLE)
        |    / CAST(CAST(nt AS HUGEINT) * nt * (nt - 1) AS DOUBLE) END
        |    AS variance
        |FROM f""".stripMargin),

    // NDCG@3 over the REAL kNN graph (q287's construction): pinned
    // micro log2 discounts, exact dcg/idcg sums, micro-averaged ratio
    Query("q324_ndcg", (s, d) =>
      graft.operators.Eval.ndcgAtK(knnLabeled(s, d), "node_id", "rank",
        col("__la") === col("__lb"), k = 3),
      // q287's knn CTE -> pinned-discount dcg/idcg integer sums
      s"""WITH $knnLabelCte,
         |$ndcgPerQueryCte
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
         |  CAST(SUM(dcg) AS BIGINT) AS sum_dcg_micro,
         |  CAST(SUM(idcg) AS BIGINT) AS sum_idcg_micro,
         |  CASE WHEN SUM(idcg) > 0 THEN
         |    CAST(SUM(dcg) AS DOUBLE) / CAST(SUM(idcg) AS DOUBLE) END
         |    AS micro_avg_ndcg
         |FROM per2""".stripMargin),

    // macro-averaged NDCG@3 on the same graph: per-query floored micro
    // ratios sum to an exact BIGINT; zero-relevant queries excluded
    Query("q325_ndcg_macro", (s, d) =>
      graft.operators.Eval.ndcgMacroAtK(knnLabeled(s, d), "node_id", "rank",
        col("__la") === col("__lb"), k = 3),
      // per-query floored micro ratios -> exact macro sum; idcg=0
      // queries counted but excluded from the mean
      s"""WITH $knnLabelCte,
         |$ndcgPerQueryCte
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
         |  CAST(SUM(CASE WHEN idcg = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_zero_rel,
         |  CAST(SUM(CASE WHEN idcg > 0 THEN (1000000 * dcg) // idcg
         |    ELSE 0 END) AS BIGINT) AS sum_ndcg_micro,
         |  CASE WHEN COUNT(*) > SUM(CASE WHEN idcg = 0 THEN 1 ELSE 0 END)
         |    THEN CAST(SUM(CASE WHEN idcg > 0 THEN (1000000 * dcg) // idcg
         |        ELSE 0 END) AS DOUBLE)
         |      / (CAST(COUNT(*) - SUM(CASE WHEN idcg = 0 THEN 1 ELSE 0 END)
         |          AS DOUBLE) * 1000000.0) END AS macro_avg_ndcg
         |FROM per2""".stripMargin),

    // DeLong variance parts for the q279 AUC: doubled placements from
    // the same distinct-value lattice, pinned double variance chain
    Query("q326_delong", (s, d) =>
      graft.operators.Eval.deLongVariance(t(s, d, "events"),
        "event_type", "value", col("user_id") % 3 === 0),
      // q279's lattice -> doubled placements p/q, exact part sums,
      // pinned double variance chain (same operation order as Spark)
      """WITH c AS (SELECT event_type AS k, value AS v,
        |    CAST(SUM(CASE WHEN user_id % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |    CAST(SUM(CASE WHEN user_id % 3 = 0 THEN 0 ELSE 1 END) AS BIGINT) AS cb
        |  FROM events WHERE value IS NOT NULL
        |    AND user_id IS NOT NULL GROUP BY 1, 2),
        |w AS (SELECT *,
        |    CAST(SUM(ca) OVER win AS HUGEINT) AS cuma,
        |    CAST(SUM(cb) OVER win AS HUGEINT) AS cumb
        |  FROM c WINDOW win AS (PARTITION BY k ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |t AS (SELECT k, CAST(SUM(ca) AS BIGINT) AS n_pos,
        |    CAST(SUM(cb) AS BIGINT) AS n_neg FROM c GROUP BY 1),
        |p AS (SELECT w.k, ca, cb,
        |    2 * (cumb - cb) + cb AS pd,
        |    2 * (n_pos - cuma) + ca AS qd
        |  FROM w JOIN t ON w.k = t.k
        |  WHERE n_pos > 0 AND n_neg > 0),
        |g AS (SELECT k,
        |    CAST(SUM(CAST(ca AS HUGEINT) * pd) AS BIGINT) AS sum_v10_doubled,
        |    CAST(SUM(CAST(ca AS HUGEINT) * pd * pd) AS BIGINT) AS sum_v10_sq,
        |    CAST(SUM(CAST(cb AS HUGEINT) * qd) AS BIGINT) AS sum_v01_doubled,
        |    CAST(SUM(CAST(cb AS HUGEINT) * qd * qd) AS BIGINT) AS sum_v01_sq
        |  FROM p GROUP BY 1)
        |SELECT k AS event_type, n_pos, n_neg,
        |  sum_v10_doubled, sum_v10_sq, sum_v01_doubled, sum_v01_sq,
        |  CAST(sum_v10_doubled AS DOUBLE)
        |    / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)) AS auc,
        |  CASE WHEN n_pos > 1 AND n_neg > 1 THEN
        |    (CAST(n_pos AS DOUBLE) * CAST(sum_v10_sq AS DOUBLE)
        |        - CAST(sum_v10_doubled AS DOUBLE) * CAST(sum_v10_doubled AS DOUBLE))
        |      / (CAST(n_pos AS DOUBLE) * (CAST(n_pos AS DOUBLE) - 1.0))
        |      / (4.0 * CAST(n_neg AS DOUBLE) * CAST(n_neg AS DOUBLE))
        |      / CAST(n_pos AS DOUBLE)
        |    + (CAST(n_neg AS DOUBLE) * CAST(sum_v01_sq AS DOUBLE)
        |        - CAST(sum_v01_doubled AS DOUBLE) * CAST(sum_v01_doubled AS DOUBLE))
        |      / (CAST(n_neg AS DOUBLE) * (CAST(n_neg AS DOUBLE) - 1.0))
        |      / (4.0 * CAST(n_pos AS DOUBLE) * CAST(n_pos AS DOUBLE))
        |      / CAST(n_neg AS DOUBLE)
        |  END AS var_auc
        |FROM g JOIN t USING (k)""".stripMargin),

    // MAP@3 on the knn graph: lcm(1..10)-scaled exact AP numerators,
    // floored micro grid, zero-hit queries count as zero
    Query("q327_map", (s, d) =>
      graft.operators.Eval.mapAtK(knnLabeled(s, d), "node_id", "rank",
        col("__la") === col("__lb"), k = 3),
      // lcm(1..10)=2520-scaled exact AP terms; floored micro macro sum
      s"""WITH $knnLabelCte,
         |h AS (SELECT node_id, la, lb, rank,
         |    SUM(CASE WHEN la = lb THEN 1 ELSE 0 END) OVER (
         |      PARTITION BY node_id ORDER BY rank
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hits
         |  FROM knn),
         |ap AS (SELECT node_id, CAST(COUNT(*) AS BIGINT) AS n_eval,
         |    CAST(SUM(CASE WHEN la = lb THEN 1 ELSE 0 END) AS BIGINT) AS r_k,
         |    CAST(SUM(CASE WHEN la = lb THEN (2520 * hits) // rank
         |      ELSE 0 END) AS BIGINT) AS ap_scaled
         |  FROM h GROUP BY 1)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
         |  CAST(SUM(CASE WHEN r_k > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_with_hits,
         |  CAST(SUM(CASE WHEN r_k > 0
         |    THEN (1000000 * ap_scaled) // (2520 * r_k) ELSE 0 END) AS BIGINT)
         |    AS sum_ap_micro,
         |  CASE WHEN COUNT(*) > 0 THEN
         |    CAST(SUM(CASE WHEN r_k > 0
         |      THEN (1000000 * ap_scaled) // (2520 * r_k) ELSE 0 END) AS DOUBLE)
         |    / (CAST(COUNT(*) AS DOUBLE) * 1000000.0) END AS macro_map
         |FROM ap""".stripMargin),

    // calibration-monitor replay: fold q306's bin partials over three
    // arrival windows through the sink's exact merge, finish once —
    // streamed state ≡ the one-shot ECE (the q290-q293 sink pattern)
    Query("q328_ece_monitor_replay", (s, d) => {
      val ev = t(s, d, "events").select(col("ts"),
        graft.llmdata.Sampling.hashFraction(col("event_id")).as("score"),
        (col("event_type") === "purchase").as("label"))
      def bins(lo: String, hi: String) = graft.operators.Profile
        .calibrationBins(ev.filter(col("ts") >= lit(lo).cast("timestamp_ntz")
          && col("ts") < lit(hi).cast("timestamp_ntz")),
          "score", "label", nBins = 10)
      val folded = graft.streaming.Streaming.mergeBinCounts(
        graft.streaming.Streaming.mergeBinCounts(
          bins("2024-01-01", "2024-01-11"), bins("2024-01-11", "2024-01-21")),
        bins("2024-01-21", "2024-02-01"))
      graft.operators.Profile.eceFromBins(folded, nBins = 10)
    },
      // one-shot over the full stream ≡ the sink's three-batch fold
      """WITH b AS (SELECT
        |    CAST(CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8) AS BIGINT) AS DOUBLE)
        |      / 4294967296.0 AS score,
        |    event_type = 'purchase' AS label FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01'),
        |b2 AS (SELECT *, CAST(CAST(score AS DECIMAL(20,6)) * 1000000 AS BIGINT) AS sm FROM b),
        |b3 AS (SELECT *, least((sm * 10) // 1000000, 9) AS bin
        |  FROM b2 WHERE sm BETWEEN 0 AND 1000000),
        |g AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS p
        |  FROM b3 GROUP BY 1)
        |SELECT CAST(SUM(n) AS BIGINT) AS n,
        |  CAST(SUM(ABS(20 * p - (2 * bin + 1) * n)) AS BIGINT) AS ece_num,
        |  CASE WHEN SUM(n) > 0 THEN
        |    CAST(SUM(ABS(20 * p - (2 * bin + 1) * n)) AS DOUBLE)
        |      / (20.0 * CAST(SUM(n) AS DOUBLE)) END AS ece
        |FROM g""".stripMargin),

    // conformal-monitor replay: fold the distinct-residual counts over
    // three arrival windows, finish the rational-rank quantile once
    Query("q329_conformal_monitor_replay", (s, d) => {
      val ev = t(s, d, "events").filter(col("value").isNotNull)
        .select(col("ts"), abs(col("value") - 100.0).as("residual"))
      def cnts(lo: String, hi: String) = ev
        .filter(col("ts") >= lit(lo).cast("timestamp_ntz")
          && col("ts") < lit(hi).cast("timestamp_ntz"))
        .groupBy(col("residual")).agg(count(lit(1)).as("cnt"))
      val folded = graft.streaming.Streaming.mergeResidualCounts(
        graft.streaming.Streaming.mergeResidualCounts(
          cnts("2024-01-01", "2024-01-11"), cnts("2024-01-11", "2024-01-21")),
        cnts("2024-01-21", "2024-02-01"))
      graft.operators.Eval.conformalQuantileFromCounts(folded,
        alphaNum = 1, alphaDen = 10)
    },
      // q304's rational-rank quantile, global, one-shot over the stream
      """WITH c AS (SELECT abs(value - 100.0) AS v,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM events WHERE value IS NOT NULL
        |    AND ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01'
        |  GROUP BY 1),
        |t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n,
        |    CAST((((SUM(cnt) + 1) * 9) + 9) // 10 AS BIGINT) AS k_rank
        |  FROM c),
        |w AS (SELECT v, CAST(SUM(cnt) OVER win AS BIGINT) AS cum
        |  FROM c WINDOW win AS (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT n, k_rank,
        |  MIN(CASE WHEN cum >= k_rank THEN v END) AS qhat
        |FROM w, t GROUP BY 1, 2""".stripMargin),

    // Zone-map pruned read (VERDICT r8 #1): lineitem is rewritten
    // range-partitioned on l_orderkey (16 tight-range files), then the
    // box probe goes through Tables.readPruned — footer-only stats →
    // candidateFiles → a scan over ONLY the surviving files. The probe
    // keeps ≲1/8 of the key range, so >half the files are skipped
    // (the spec asserts the opened-file count; prunedFraction below
    // RAISES in-query if the skip regresses), and the oracle computes
    // the same filter+aggregate over the ORIGINAL table — pruned-read
    // ≡ full-scan, the zone-map false-negative-freedom proof.
    Query("q330_pruned_read", (s, d) => {
      val dir = LakeFixtures.orderkeySorted16(s, d)
      val li = t(s, d, "lineitem")
      // scale-free box: the bottom 1/8th of the actual key range (one
      // scalar collect — metadata scale; the oracle mirrors it as a
      // scalar subquery), so the prune ratio is SF-invariant
      val hi = li.agg(max(col("l_orderkey"))).head().getLong(0) / 8L
      val pruned = graft.sources.Tables.readPruned(s, dir,
        Seq(("l_orderkey", 1L, hi)))
      val total = 16
      require(pruned.inputFiles.length * 2 < total,
        s"zone-map prune regressed: opened ${pruned.inputFiles.length}" +
          s" of $total files for a 1/8th-range box probe")
      pruned.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum((col("l_quantity").cast("decimal(12,2)") * 100).cast("long"))
            .cast("long").as("qty_cents"),
          sum((col("l_extendedprice").cast("decimal(12,2)") * 100)
            .cast("long")).cast("long").as("price_cents"),
          min(col("l_orderkey")).as("min_ok"),
          max(col("l_orderkey")).as("max_ok"))
        .orderBy(col("l_returnflag"))
    },
      // the oracle reads the ORIGINAL table with the same box predicate:
      // equality proves the pruned scan dropped no qualifying row
      """SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS qty_cents,
        |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
        |    AS BIGINT)) AS BIGINT) AS price_cents,
        |  MIN(l_orderkey) AS min_ok, MAX(l_orderkey) AS max_ok
        |FROM lineitem WHERE l_orderkey BETWEEN 1 AND
        |  (SELECT MAX(l_orderkey) // 8 FROM lineitem)
        |GROUP BY 1 ORDER BY 1""".stripMargin),
  )

  /** Per-query exact dcg/idcg micro CTEs over [[knnLabelCte]]'s `knn`
    * (k = 3, pinned discounts) — shared by q324/q325. */
  private lazy val ndcgPerQueryCte: String =
    """per AS (SELECT node_id,
      |    CAST(SUM(CASE WHEN la = lb THEN
      |      CASE rank WHEN 1 THEN 1000000 WHEN 2 THEN 630930
      |        WHEN 3 THEN 500000 END ELSE 0 END) AS BIGINT) AS dcg,
      |    CAST(SUM(CASE WHEN la = lb THEN 1 ELSE 0 END) AS BIGINT) AS nrel
      |  FROM knn GROUP BY 1),
      |per2 AS (SELECT node_id, dcg,
      |    CASE nrel WHEN 0 THEN 0 WHEN 1 THEN 1000000
      |      WHEN 2 THEN 1630930 ELSE 2130930 END AS idcg
      |  FROM per)""".stripMargin
}
