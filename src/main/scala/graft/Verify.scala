package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    new java.io.File(outDir).mkdirs()
    // dev convenience: SPARK_GRAFT_ONLY=q80_x,q81_y runs a subset (the
    // driver never sets it, so the gate always sees every query)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    var decimalViolations = List.empty[String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // schema lint (r7 postmortem): the driver's typed-hash compare
        // diverges on the DECIMAL output CLASS — decimal arithmetic is
        // fine INTERNALLY, but no DecimalType column may reach the
        // compared output. Fail loudly here, not 12 minutes later in
        // the DuckDB gate.
        lintDecimalOutput(name, df.schema) match {
          case Some(msg) =>
            // fail THIS query (driver records one red row), never the
            // whole run — the write is skipped so the red is loud
            decimalViolations ::= msg
            System.err.println(s"[verify] $name failed: LINT $msg")
          case None =>
            df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        }
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // operators persist shared sub-frames (minhash/simhash); drop them so
      // 40+ queries in one session don't accumulate cached blocks
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (decimalViolations.nonEmpty)
      System.err.println("[verify] decimal-output lint failed for: " +
        decimalViolations.reverse.mkString("; "))
  }

  /** Some(message) when any column in an oracle-compared output schema
    * is DecimalType (including nested in array/map/struct) — the r7
    * driver-red class. Shared by the gate above and the spec that pins
    * every SparkEntry query green. */
  def lintDecimalOutput(name: String,
                        schema: org.apache.spark.sql.types.StructType): Option[String] = {
    import org.apache.spark.sql.types._
    def hasDec(dt: DataType): Boolean = dt match {
      case _: DecimalType => true
      case a: ArrayType => hasDec(a.elementType)
      case m: MapType => hasDec(m.keyType) || hasDec(m.valueType)
      case s: StructType => s.fields.exists(f => hasDec(f.dataType))
      case _ => false
    }
    val bad = schema.fields.filter(f => hasDec(f.dataType)).map(_.name)
    if (bad.isEmpty) None
    else Some(s"$name emits DecimalType column(s) ${bad.mkString(",")} — " +
      "cast to BIGINT (micro-units) or double before the compared output")
  }
}
