package graft
package registry

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.ScalarFns._
import graft.operators.{Dedup, Layers}
import graft.llmdata.{DedupOps, Multimodal, Similarity, TextAnalysis}

/** Frame builders and oracle-SQL fragments shared by more than one query
  * family (helpers used by one family live in that family's object).
  * [[tripLakeFrame]], [[dailyCountSeries]] and [[mergedDailyValueCounts]]
  * also serve [[graft.LakeFixtures]] and [[graft.CrossChecks]]. */
private[graft] object QuerySupport {

  def t(s: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.Tables.read(s, dir, name)

  /** The REAL kNN graph (q96's construction) with both endpoints'
    * labels — the shared retrieval-eval input of q287/q324/q325/q327
    * (columns: node_id, neighbor_id, rank, __la, __lb). */
  def knnLabeled(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    val labels = emb.select(col("vec_id"), col("label"))
    graft.llmdata.Similarity
      .knnGraph(emb, "vec_id", "embedding", k = 3, bits = 8)
      .join(labels.select(col("vec_id").as("node_id"),
        col("label").as("__la")), "node_id")
      .join(labels.select(col("vec_id").as("neighbor_id"),
        col("label").as("__lb")), "neighbor_id")
  }

  /** The silver-layer transform family (F1-F8, P7, W1) instantiated on the
    * lineitem stand-in (FIXTURES.md §5 mapping). */
  def silverClean(li: DataFrame): DataFrame = {
    val enriched = li
      .withColumn("clean_price", absCoalesce0(col("l_extendedprice")))
      .withColumn("clean_discount", absCoalesce0(col("l_discount")))
      .withColumn("clean_tax", absCoalesce0(col("l_tax")))
      .withColumn("flag_desc",
        when(col("l_returnflag") === "R", "Refunded")
          .when(col("l_returnflag") === "A", "Accepted")
          .when(col("l_returnflag") === "N", "None")
          .otherwise("Unknown"))
      // raw IEEE product — bit-identical in any engine; rounding a double
      // product is NOT portable (Spark rounds the shortest decimal repr,
      // DuckDB the binary value)
      .withColumn("revenue", col("clean_price") * (lit(1.0) - col("clean_discount")))
      .filter(col("l_linenumber").isin(1, 2, 3, 4, 5, 6))
      .withColumn("line_id", surrogateKey(Seq(
        col("l_orderkey") -> "-1", col("l_partkey") -> "-1",
        col("l_suppkey") -> "-1", col("l_linenumber") -> "-1")))
    Dedup.firstRowPerKey(enriched, Seq(col("line_id")), Seq(col("l_shipdate")))
  }

  /** Deterministic lineitem → 19-column trip-schema mapping, so the REAL
    * [[graft.operators.Layers]] silver/gold code runs inside the oracle
    * gate (not only on fixtures). The mapping keeps the silver surrogate
    * key collision-free ((l_orderkey, l_linenumber) is the lineitem PK and
    * both survive into key fields), keeps trip_distance integral (so the
    * "%.2f" rendering has no rounding edges), and keeps timestamps
    * whole-second (portable string rendering). */
  def tripFromLineitem(li: DataFrame): DataFrame = li.select(
    (col("l_suppkey") % 10).cast("int").as("vendorid"),
    col("l_shipdate").as("tpep_pickup_datetime"),
    expr("timestampadd(MINUTE, l_linenumber, l_shipdate)").as("tpep_dropoff_datetime"),
    col("l_linenumber").cast("int").as("passenger_count"),
    col("l_quantity").as("trip_distance"),
    (col("l_partkey") % 7).cast("int").as("ratecodeid"),
    col("l_returnflag").as("store_and_fwd_flag"),
    (col("l_partkey") % 100).cast("int").as("pulocationid"),
    col("l_orderkey").cast("int").as("dolocationid"),
    (col("l_orderkey") % 8).cast("int").as("payment_type"),
    col("l_extendedprice").as("fare_amount"),
    col("l_tax").as("extra"),
    lit(0.5).as("mta_tax"),
    (col("l_discount") * 100).as("tip_amount"),
    lit(0.0).as("tolls_amount"),
    lit(0.3).as("improvement_surcharge"),
    col("l_tax").as("airport_fee"),
    lit(2.5).as("congestion_surcharge"))

  def sqlSum(c: String) = s"CAST(SUM(CAST($c AS DECIMAL(20,6))) AS DOUBLE)"

  def sqlAvg(c: String) = s"CAST(SUM(CAST($c AS DECIMAL(20,6))) AS DOUBLE) / COUNT($c)"

  /** Shared q45/q487 oracle: mirrors Similarity.fitCentroids (seed =
    * lowest-id vectors, 2 Lloyd rounds with decimal-exact element
    * means) + nprobe=2 flat search over the 16-cell assignment. q487
    * (IVF-PQ, unrestricted candidate budget) reranks every probed
    * vector exactly, so its output equals this flat result. */
  lazy val ivfFlatOracleSql: String = {
    val cos = (a: String, b: String) =>
      s"list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))"
    def assignCte(centTbl: String, outTbl: String) =
      s"""$outTbl AS (
         |  SELECT vec_id, emb, cell FROM (
         |    SELECT v.vec_id, v.emb, c.cell_id AS cell,
         |      row_number() OVER (PARTITION BY v.vec_id
         |        ORDER BY ${cos("v.emb", "c.centroid")} DESC, c.cell_id ASC) AS rn
         |    FROM v CROSS JOIN $centTbl c) WHERE rn = 1)""".stripMargin
    // zipped unnests (DuckDB SELECT-list unnest semantics) stand in for
    // WITH ORDINALITY: (element, 1-based index) rows per vector
    def meanCte(assignTbl: String, outTbl: String) =
      s"""$outTbl AS (
         |  SELECT cell AS cell_id, list(m ORDER BY i) AS centroid FROM (
         |    SELECT cell, i,
         |      CAST(SUM(CAST(x AS DECIMAL(30,15))) AS DOUBLE) / COUNT(*) AS m
         |    FROM (SELECT cell, unnest(emb) AS x,
         |            unnest(generate_series(1, len(emb))) AS i
         |          FROM $assignTbl)
         |    GROUP BY cell, i)
         |  GROUP BY cell)""".stripMargin
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       |cent0 AS (SELECT vec_id AS cell_id, emb AS centroid FROM v ORDER BY vec_id LIMIT 16),
       |${assignCte("cent0", "asg0")},
       |${meanCte("asg0", "cent1")},
       |${assignCte("cent1", "asg1")},
       |${meanCte("asg1", "cent2")},
       |${assignCte("cent2", "assigned")},
       |qprobe AS (
       |  SELECT vec_id AS query_id, emb AS qemb, cell FROM (
       |    SELECT q.vec_id, q.emb, c.cell_id AS cell,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${cos("q.emb", "c.centroid")} DESC, c.cell_id ASC) AS rn
       |    FROM (SELECT * FROM v WHERE vec_id < 16) q CROSS JOIN cent2 c) WHERE rn <= 2)
       |SELECT query_id, neighbor_id, rank, ROUND(cosine, 6) AS cosine FROM (
       |  SELECT q.query_id, c.vec_id AS neighbor_id,
       |    ${cos("q.qemb", "c.emb")} AS cosine,
       |    CAST(row_number() OVER (PARTITION BY q.query_id
       |      ORDER BY ${cos("q.qemb", "c.emb")} DESC, c.vec_id ASC) AS INT) AS rank
       |  FROM qprobe q JOIN assigned c ON q.cell = c.cell AND q.query_id <> c.vec_id
       |) WHERE rank <= 3""".stripMargin
  }

  /** q426's production arm: the three-slice fold of mergeable daily
    * value-count partials (shared with [[CrossChecks
    * .aggMergeFoldEqualsOneShot]], which proves it ≡ the one-shot
    * partial). */
  def mergedDailyValueCounts(s: SparkSession, d: String): DataFrame = {
    import graft.operators.AggMerge
    val li = t(s, d, "lineitem")
    val dom = dayofmonth(col("l_shipdate"))
    def slice(p: org.apache.spark.sql.Column) =
      AggMerge.dailyValuePartial(li.filter(p), "l_shipdate",
        "l_extendedprice")
    AggMerge.mergeValueCounts(Seq(
      AggMerge.mergeValueCounts(Seq(slice(dom <= 10),
        slice(dom > 10 && dom <= 20))),
      slice(dom > 20)))
  }

  /** The trip lake frame [[graft.LakeFixtures]]'s medallion fixtures
    * build from (round-13: the heavy lake builders moved out of the
    * bench's timed region; the fixture builders need the same frame
    * the queries derived inline before). */
  def tripLakeFrame(s: SparkSession, d: String): DataFrame =
    tripWithTotal(t(s, d, "lineitem"))

  /** [[tripFromLineitem]] plus the raw `total_amount` column the full
    * 19-column trip schema carries (bronze's explicit projection needs
    * it; silver then RECOMPUTES it additively — F7 — so the raw value
    * is never oracle-compared). */
  def tripWithTotal(li: DataFrame): DataFrame =
    tripFromLineitem(li).withColumn("total_amount",
      col("fare_amount") + col("extra") + col("mta_tax") + col("tip_amount")
        + col("tolls_amount") + col("improvement_surcharge")
        + col("congestion_surcharge") + col("airport_fee"))

  /** Per-type daily-count series (x = epoch day, y = count) shared by
    * q366/q367 — the pre-aggregated unique-x series the DW/runs
    * contract requires. */
  def dailyCountSeries(s: SparkSession, d: String): DataFrame =
    t(s, d, "events").filter(col("ts").isNotNull)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("y"))
      .withColumn("x",
        datediff(col("day"), lit("1970-01-01").cast("date")).cast("long"))

  /** Oracle mirror of [[Similarity.signLshBucket]] at `bits` hyperplanes. */
  def bucketSql(bits: Int): String =
    "CAST(" + (0 until bits).map(j =>
      s"(CASE WHEN embedding[${2 * j + 1}] >= embedding[${2 * j + 2}] THEN ${1L << j} ELSE 0 END)")
      .mkString(" + ") + " AS BIGINT)"

  /** Shared oracle CTEs for the labeled kNN graph ([[knnLabeled]]):
    * `v` + `knn(node_id, la, lb, rank ≤ 3)`. */
  lazy val knnLabelCte: String = {
    def cos(a: String, b: String) =
      s"list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))"
    s"""v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb, label,
       |    ${bucketSql(8)} AS bucket FROM embeddings),
       |knn AS (SELECT node_id, la, lb, rank FROM (
       |  SELECT a.vec_id AS node_id, a.label AS la, b.label AS lb,
       |    CAST(row_number() OVER (PARTITION BY a.vec_id
       |      ORDER BY ${cos("a.emb", "b.emb")} DESC, b.vec_id ASC) AS INT) AS rank
       |  FROM v a JOIN v b
       |    ON bit_count(xor(a.bucket, b.bucket)) <= 1 AND a.vec_id <> b.vec_id
       |  WHERE NOT isnan(${cos("a.emb", "b.emb")})) WHERE rank <= 3)""".stripMargin
  }

  lazy val stopwordSql: String =
    Seq(" the ", " and ", " a ", " of ", " to ", " in ")
      .map(w => s"CAST((length(padded) - length(replace(padded, '$w', ''))) / ${w.length} AS INT)")
      .mkString(" + ")

  /** Oracle mirror of [[TextAnalysis.qualityScore]] — (doc_id,
    * quality_score). Shared by q33 (direct) and q92 (curriculum input). */
  lazy val qualityScoreSql: String = {
    val nTok = "CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(regexp_split_to_array(trim(text), '\\s+')) END"
    s"""SELECT doc_id, ROUND(CASE WHEN n_tokens < 5 THEN 0.0 ELSE
       |    least(CAST(n_tokens AS DOUBLE) / 50.0, 1.0) * 0.5
       |    + least(stopword_ratio * 10.0, 1.0) * 0.3
       |    + CASE WHEN punct_ratio > 0 THEN 0.2 ELSE 0.0 END END, 6) AS quality_score
       |FROM (
       |  SELECT doc_id, n_tokens,
       |    ROUND(CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE)
       |      / greatest(length(text), 1), 6) AS punct_ratio,
       |    ROUND(CAST($stopwordSql AS DOUBLE) / greatest(n_tokens, 1), 6) AS stopword_ratio
       |  FROM (SELECT doc_id, text, ' ' || lower(text) || ' ' AS padded,
       |          $nTok AS n_tokens
       |        FROM documents))""".stripMargin
  }

  /** Oracle mirror of [[tripFromLineitem]] + Layers.silver, shared by the
    * q46/q47 oracles. Addition order and every cast mirror the Scala code
    * exactly — IEEE arithmetic is order-sensitive. */
  lazy val tripSilverSql: String =
    """WITH trips AS (
      |  SELECT CAST(l_suppkey % 10 AS INT) AS vendorid,
      |    l_shipdate AS pickup,
      |    l_shipdate + to_minutes(CAST(l_linenumber AS BIGINT)) AS dropoff,
      |    l_quantity AS trip_distance,
      |    CAST(l_partkey % 7 AS INT) AS ratecodeid,
      |    CAST(l_partkey % 100 AS INT) AS pulocationid,
      |    CAST(l_orderkey AS INT) AS dolocationid,
      |    CAST(l_orderkey % 8 AS INT) AS payment_type,
      |    CAST(l_linenumber AS INT) AS passenger_count,
      |    ABS(COALESCE(l_extendedprice, 0)) AS fare_amount,
      |    ABS(COALESCE(l_tax, 0)) AS extra,
      |    CAST(0.5 AS DOUBLE) AS mta_tax,
      |    ABS(COALESCE(l_discount * 100, 0)) AS tip_amount,
      |    CAST(0.0 AS DOUBLE) AS tolls_amount,
      |    CAST(0.3 AS DOUBLE) AS improvement_surcharge,
      |    CAST(2.5 AS DOUBLE) AS congestion_surcharge,
      |    ABS(COALESCE(l_tax, 0)) AS airport_fee
      |  FROM lineitem),
      |silver AS (
      |  SELECT
      |    md5(COALESCE(CAST(vendorid AS VARCHAR), '-1')
      |      || COALESCE(CAST(pickup AS VARCHAR), '1900-01-01')
      |      || COALESCE(CAST(dropoff AS VARCHAR), '1900-01-01')
      |      || COALESCE(CAST(pulocationid AS VARCHAR), '-1')
      |      || COALESCE(CAST(dolocationid AS VARCHAR), '-1')
      |      || COALESCE(CAST(passenger_count AS VARCHAR), '0')
      |      || COALESCE(
      |           CASE WHEN CAST(FLOOR(trip_distance * 100 + 0.5) AS BIGINT) < 0
      |             THEN '-' ELSE '' END
      |           || CAST(CAST(FLOOR(abs(CAST(FLOOR(trip_distance * 100 + 0.5) AS BIGINT)) / 100.0) AS BIGINT) AS VARCHAR)
      |           || '.'
      |           || lpad(CAST(abs(CAST(FLOOR(trip_distance * 100 + 0.5) AS BIGINT)) % 100 AS VARCHAR), 2, '0'),
      |           '0')) AS unique_trip_id,
      |    CASE vendorid WHEN 1 THEN 'Creative Mobile Technologies, LLC'
      |      WHEN 2 THEN 'Curb Mobility, LLC' WHEN 6 THEN 'Myle Technologies Inc'
      |      WHEN 7 THEN 'Helix' ELSE 'Unknown' END AS vendor_name,
      |    CASE ratecodeid WHEN 1 THEN 'Standard rate' WHEN 2 THEN 'JFK'
      |      WHEN 3 THEN 'Newark' WHEN 4 THEN 'Nassau or Westchester'
      |      WHEN 5 THEN 'Negotiated fare' WHEN 6 THEN 'Group ride'
      |      ELSE 'Null/unknown' END AS rate_description,
      |    CASE payment_type WHEN 1 THEN 'Credit card' WHEN 2 THEN 'Cash'
      |      WHEN 3 THEN 'No charge' WHEN 4 THEN 'Dispute' WHEN 5 THEN 'Unknown'
      |      WHEN 6 THEN 'Voided trip' ELSE 'Unknown' END AS payment_description,
      |    ROUND((epoch(dropoff) - epoch(pickup)) / 60.0, 2) AS trip_duration_minutes,
      |    fare_amount, tip_amount, pickup, trip_distance, pulocationid,
      |    CAST(passenger_count AS INT) AS passenger_count,
      |    fare_amount + extra + mta_tax + tip_amount + tolls_amount
      |      + improvement_surcharge + congestion_surcharge + airport_fee AS total_amount
      |  FROM trips WHERE payment_type IN (1, 2, 3, 4, 5, 6))""".stripMargin

  /** Shared CTEs mirroring DedupOps.minhashLsh(shingleSize=3, thr=0.4) at
    * the measured operating point (SweepLsh at sf0.1: bands=4/rows=4
    * verifies the same 256 pairs as rows=2 at ~2.7× lower cost — the
    * rows=4 S-curve admits far fewer false candidates);
    * `mh_pairs` is the verified near-dup pair set. */
  val mhBands = 4
  val mhRows = 4

  /** Shared minhash CTE machinery parameterized by the `shingled` CTE
    * body (doc_id, sh) — [[minhashPairsCtesWhere]] supplies the
    * documents' shingle lists. Its 16-hex string minima pick the same
    * candidates as the engine's 60-bit BIGINT minima (the min of the
    * 15-hex prefixes is the prefix of the 16-hex min; they differ only
    * on a 60-bit tie). q245's set-path oracle builds its own BIGINT
    * chain instead (Round6Queries). */
  def minhashPairsCtesFrom(shingledCte: String, thr: String): String = {
    val sig = (0 until mhBands * mhRows).map(i =>
      s"list_aggregate(list_transform(sh, s -> substr(md5(s || '#$i'), 1, 16)), 'min')")
    val bandRows = (0 until mhBands).map { b =>
      val bandSig = (0 until mhRows).map(r => sig(b * mhRows + r)).mkString(" || '|' || ")
      s"SELECT doc_id, sh, $b AS band, md5($bandSig) AS band_hash FROM shingled"
    }
    s"""shingled AS ($shingledCte),
       |banded AS (${bandRows.mkString(" UNION ALL ")}),
       |mh_pairs AS (
       |  SELECT id_a, id_b, MAX(jaccard) AS jaccard FROM (
       |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |      CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |        / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
       |    FROM (SELECT * FROM banded WHERE len(sh) > 0) a
       |    JOIN (SELECT * FROM banded WHERE len(sh) > 0) b
       |      ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id)
       |  GROUP BY 1, 2 HAVING MAX(jaccard) >= $thr)""".stripMargin
  }

  /** The q34-family MinHash CTE chain, with an optional WHERE on the
    * document source — q85 excludes tombstoned corpus docs. */
  def minhashPairsCtesWhere(where: String, thr: String = "0.4"): String = {
    val toks = "regexp_split_to_array(trim(lower(text)), '\\s+')"
    val sh = s"list_sort(list_distinct(list_transform(generate_series(1, len($toks) - 2), " +
      s"i -> $toks[i] || ' ' || $toks[i+1] || ' ' || $toks[i+2])))"
    minhashPairsCtesFrom(s"SELECT doc_id, $sh AS sh FROM documents $where", thr)
  }

  lazy val minhashPairsCtes: String = minhashPairsCtesWhere("")
}
