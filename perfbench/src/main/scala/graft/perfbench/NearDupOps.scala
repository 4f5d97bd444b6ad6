package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.SparkEntry

/** Four `llmdata` near-dup queries of `SparkEntry.queries` over fixed
  * generated tables (documents, embeddings, lineitem): MinHash-LSH over
  * item sets (q245) and over text with transitive clusters (q60),
  * containment pairs (q78) and prefix-filtered Jaccard (q127). Every
  * result must match the fingerprint `make_fingerprints.py` recorded after
  * the DuckDB oracle passed on the same tables. */
final class NearDupOps(ctx: Ctx) extends OpSet {
  import NearDupOps._
  import ctx._

  private val fingerprints = loadFingerprints(s"$benchDir/neardup_fingerprints.json")
  require(queries.forall(fingerprints.contains),
    s"fingerprints missing for ${queries.filterNot(fingerprints.contains)}")
  private val dir = ctx.cached("neardup_tables")(d => writeTables(spark, d))
  Seq("documents", "embeddings", "lineitem").foreach(t => graft.sources.Tables.read(spark, dir, t).count())
  private val fns = queries.map(query)

  val names: IndexedSeq[String] = queries.toIndexedSeq
  def expected(i: Int): String = fingerprints(queries(i))

  def run(i: Int): String = {
    val rows = fns(i)(spark, dir).collect()
    spark.catalog.clearCache()
    RowPrint.of(rows)
  }

  private val resultRows = mutable.Map[Long, Long]()

  def runTraced(i: Int): Span = {
    val n = tracer.span(s"llmdata.${queries(i)}")(fns(i)(spark, dir).collect()).length
    spark.catalog.clearCache()
    val span = tracer.spans.filter(_.name == s"llmdata.${queries(i)}").maxBy(_.startNs)
    resultRows(span.id) = n.toLong
    span
  }

  def layers(view: TraceView, jobs: Seq[JobRun], traced: Seq[Span]): Map[String, Double] = {
    val n = math.max(1, traced.size).toDouble
    val perQuery = queries.map { q =>
      val ss = traced.filter(_.name == s"llmdata.$q")
      s"llmdata.${q}_s" -> (if (ss.isEmpty) 0.0 else ss.map(_.durNs).sum / 1e9 / ss.size)
    }
    // widest join output over result rows, per query run, averaged
    val candidates = traced.map { s =>
      val joinRows = SqlMetrics.values(spark, SqlMetrics.jobsUnder(view, jobs, s),
        _.contains("Join"), "number of output rows")
      if (joinRows.isEmpty) 0.0 else joinRows.max.toDouble / math.max(1L, resultRows(s.id))
    }
    val work = new SparkWork
    traced.foreach(s => work.add(view.workUnder(s)))
    Map(
      "llmdata.candidates_per_result" ->
        (if (candidates.isEmpty) 0.0 else candidates.sum / candidates.size),
      "llmdata.shuffle_bytes" -> work.shuffleWrite / n,
      "llmdata.spill_bytes" -> work.spill / n) ++ perQuery
  }
}

object NearDupOps {
  val queries: Seq[String] = LayerUnits.neardupQueries

  /** Table sizes; the recorded fingerprints hold for exactly these. */
  val Docs = 600
  val Vectors = 500
  val Orders = 10000
  private val TableSeed = 20240101L

  private val Vocab = ("a the row key agg scan slow fast table value part hash merge batch " +
    "spark line sort window data column join small customer query order group stream filter " +
    "big vector").split(" ").toIndexedSeq
  private val Langs = IndexedSeq("en", "en", "en", "fr", "es", "zh", "de")

  /** Write the three input tables as `<dir>/<table>.parquet`. */
  def writeTables(spark: SparkSession, dir: String): Unit = {
    val r = new SplittableRandom(TableSeed)
    val texts = mutable.ArrayBuffer[String]()
    val docs = (0 until Docs).map { i =>
      val text =
        if (i > 10 && r.nextDouble() < 0.12) {
          // near-duplicate of an earlier document: a few words replaced
          texts(r.nextInt(texts.size)).split(" ")
            .map(w => if (r.nextDouble() < 0.06) Vocab(r.nextInt(Vocab.size)) else w).mkString(" ")
        } else Seq.fill(8 + r.nextInt(85))(Vocab(r.nextInt(Vocab.size))).mkString(" ")
      texts += text
      Row(Long.box(i.toLong), text, Langs(r.nextInt(Langs.size)),
        Seq("web", "books", "code")(r.nextInt(3)), Long.box(text.length.toLong))
    }
    val docSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val centers = IndexedSeq.fill(10)(IndexedSeq.fill(64)(r.nextGaussian() * 0.15))
    val vecs = (0 until Vectors).map { i =>
      val label = r.nextInt(10)
      Row(Long.box(i.toLong),
        centers(label).map(c => (c + r.nextGaussian() * 0.08).toFloat).toArray.toSeq,
        Int.box(label))
    }
    val vecSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType)))
    val baskets = mutable.ArrayBuffer[IndexedSeq[Long]]()
    val lines = (1 to Orders).flatMap { o =>
      val parts =
        if (baskets.nonEmpty && r.nextDouble() < 0.08) {
          val b = baskets(r.nextInt(baskets.size))
          b.map(p => if (r.nextDouble() < 0.15) 1L + r.nextInt(20000) else p)
        } else IndexedSeq.fill(1 + r.nextInt(7))(1L + r.nextInt(20000))
      baskets += parts
      parts.zipWithIndex.map { case (p, n) =>
        Row(Long.box(o.toLong), Long.box(p), Long.box(1L + r.nextInt(1000)), Int.box(n + 1))
      }
    }
    val lineSchema = StructType(Seq(StructField("l_orderkey", LongType),
      StructField("l_partkey", LongType), StructField("l_suppkey", LongType),
      StructField("l_linenumber", IntegerType)))
    def write(rows: Seq[Row], schema: StructType, table: String): Unit =
      singleFile(spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema),
        s"$dir/$table.parquet")
    write(docs, docSchema, "documents")
    write(vecs, vecSchema, "embeddings")
    write(lines, lineSchema, "lineitem")
  }

  /** Write `df` as ONE parquet file at `path`, the layout of the engine's
    * source tables (and what DuckDB's `read_parquet` expects). */
  private def singleFile(df: DataFrame, path: String): Unit = {
    val tmp = s"${path}_tmp"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
    Files.move(part.toPath, new File(path).toPath, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    Lake.delete(tmp)
  }

  private def query(q: String): (SparkSession, String) => DataFrame = SparkEntry.queries(q)

  def loadFingerprints(path: String): Map[String, String] = {
    val text = new String(Files.readAllBytes(new File(path).toPath), StandardCharsets.UTF_8)
    "\"(q\\w+)\"\\s*:\\s*\"([^\"]+)\"".r.findAllMatchIn(text).map(m => m.group(1) -> m.group(2)).toMap
  }

  def prepare(ctx: Ctx): Unit = ctx.cached("neardup_tables")(d => writeTables(ctx.spark, d))

  /** Inputs, results and fingerprints for the oracle check: the tables
    * under `<dir>/tables` (with empty stand-ins for the source tables these
    * queries do not read), each result as parquet under `<dir>/verify/<q>`
    * with the matching `oracle_sql.json`, and `<dir>/fingerprints.json`. */
  def writeReference(spark: SparkSession, dir: String): Unit = {
    val tables = s"$dir/tables"
    writeTables(spark, tables)
    graft.sql.SqlCatalog.tableNames.filterNot(Set("documents", "embeddings", "lineitem"))
      .foreach { t =>
        singleFile(spark.range(0).toDF("unused"), s"$tables/$t.parquet")
      }
    val prints = queries.map { q =>
      val df = query(q)(spark, tables)
      val rows = df.collect()
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/verify/$q")
      spark.catalog.clearCache()
      q -> RowPrint.of(rows)
    }
    val oracle = queries.map(q => Json.str(q) + ": " + Json.str(SparkEntry.oracleSql(q)))
    Files.write(new File(s"$dir/verify/oracle_sql.json").toPath,
      oracle.mkString("{", ",\n", "}\n").getBytes(StandardCharsets.UTF_8))
    Files.write(new File(s"$dir/fingerprints.json").toPath,
      prints.map { case (q, p) => s"  ${Json.str(q)}: ${Json.str(p)}" }
        .mkString("{\n", ",\n", "\n}\n").getBytes(StandardCharsets.UTF_8))
  }
}
