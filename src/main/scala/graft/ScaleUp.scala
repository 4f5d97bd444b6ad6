package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev tool (round-15, VERDICT r14 #7): synthesize a 10×-scale ("sf1")
  * dataset from the driver's sf0.1 tables so the bench top-10 gets one
  * order-of-magnitude scale datapoint — every 100 TB claim in this
  * repo is otherwise argued from plan shape alone, and candidate-pair
  * growth in the blocked near-dup family is exactly the class a 10×
  * run catches. NOT part of the library surface; writes under
  * `target/` (gitignored).
  *
  * Construction (deterministic, no rand()):
  *  - FACT tables replicate `reps` times with KEY-DOMAIN shifts
  *    (offset = replica × (1 + max key), applied consistently to both
  *    sides of every FK — custkey in customer AND orders, orderkey in
  *    orders AND lineitem, …) so per-replica referential integrity is
  *    exact and join fan-outs scale linearly.
  *  - DIMS (region, nation) stay single-copy: group-by cardinalities
  *    and broadcast sizes stay realistic.
  *  - `documents.text` token-shuffles per replica (tokens sorted by
  *    md5(token ‖ replica)): within a replica, near-dup pairs keep
  *    high token overlap (same hash order on shared tokens), while
  *    ACROSS replicas the orderings differ, so shingle-level Jaccard
  *    collapses and the corpus does NOT mint 9 exact twins per doc —
  *    near-dup cluster count scales ~linearly, the honest shape.
  *    Replica 0 keeps the original text verbatim.
  *  - `embeddings.embedding` replicates verbatim (documented: ANN
  *    timing is row-count-driven; duplicate vectors only add ties).
  *  - low-cardinality attributes (event_type, lang, status, dates)
  *    replicate verbatim — distinct counts stay realistic. */
object ScaleUp {

  private val keyDomain: Map[String, String] = Map(
    "c_custkey" -> "custkey", "o_custkey" -> "custkey",
    "o_orderkey" -> "orderkey", "l_orderkey" -> "orderkey",
    "p_partkey" -> "partkey", "l_partkey" -> "partkey",
    "s_suppkey" -> "suppkey", "l_suppkey" -> "suppkey",
    "event_id" -> "event_id", "user_id" -> "user_id",
    "doc_id" -> "doc_id", "vec_id" -> "vec_id")

  // the table that OWNS each domain's key range
  private val domainOwner: Map[String, (String, String)] = Map(
    "custkey" -> (("customer", "c_custkey")),
    "orderkey" -> (("orders", "o_orderkey")),
    "partkey" -> (("part", "p_partkey")),
    "suppkey" -> (("supplier", "s_suppkey")),
    "event_id" -> (("events", "event_id")),
    "user_id" -> (("events", "user_id")),
    "doc_id" -> (("documents", "doc_id")),
    "vec_id" -> (("embeddings", "vec_id")))

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = if (args.length > 1) args(1) else "target/sf1"
    val reps = sys.env.getOrElse("SPARK_GRAFT_SCALE_REPS", "10").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    val offsets: Map[String, Long] = domainOwner.map {
      case (dom, (tbl, c)) =>
        dom -> (graft.sources.Tables.read(spark, src, tbl)
          .agg(max(col(c))).head().getLong(0) + 1L)
    }
    def replica(tbl: String, df: DataFrame, i: Int): DataFrame = {
      val shifted = df.columns.foldLeft(df) { (d, c) =>
        keyDomain.get(c) match {
          case Some(dom) =>
            d.withColumn(c, col(c) + lit(i.toLong * offsets(dom)))
          case None => d
        }
      }
      if (tbl == "documents" && i > 0)
        shifted.withColumn("text", expr(
          s"""array_join(transform(array_sort(transform(
             |  split(text, ' '),
             |  t -> struct(md5(concat(t, '$i')) AS k, t AS v))),
             |  s -> s.v), ' ')""".stripMargin))
      else shifted
    }
    val facts = Seq("customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")
    Seq("region", "nation").foreach { tbl =>
      graft.sources.Tables.read(spark, src, tbl)
        .write.mode("overwrite").parquet(s"$dst/$tbl.parquet")
      println(s"[scaleup] $tbl: single-copy dim")
    }
    facts.foreach { tbl =>
      val base = graft.sources.Tables.read(spark, src, tbl)
      val out = (0 until reps).map(replica(tbl, base, _))
        .reduce(_ unionByName _)
      out.repartition(32)
        .write.mode("overwrite").parquet(s"$dst/$tbl.parquet")
      println(s"[scaleup] $tbl: ${reps}x replicated")
    }
    spark.stop()
  }
}
