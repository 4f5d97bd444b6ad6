package graft

/** Driver-contract smoke: entry() returns rows; the registry holds one
  * uniquely named record per query, and every query builds and runs.
  * The two whole-registry cases read [[QuerySweep]]'s single pass. */
class EntrySpec extends SparkSpec {

  test("entry() flagship query returns rows at sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  // the record type pairs every build with its oracle; what a Map
  // literal could hide is a duplicate name silently dropping a query
  test("oracleSql keys ⊆ queries keys; names are aligned") {
    val names = graft.registry.Query.all.map(_.name)
    val dups = names.groupBy(identity).collect { case (n, ns) if ns.size > 1 => n }
    assert(dups.isEmpty, s"duplicate query names: ${dups.toSeq.sorted}")
    val bad = names.filterNot(_.matches("q\\d+_\\w+"))
    assert(bad.isEmpty, s"malformed query names: $bad")
    assert(SparkEntry.queries.size == names.size)
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet)
  }

  test("a record's build is readable without evaluating its oracle SQL") {
    val q = graft.registry.Query("q0_probe", (s, d) => SparkEntry.entry(s),
      throw new AssertionError("oracle evaluated"))
    assert(q.build != null && q.name == "q0_probe")
    intercept[AssertionError](q.oracle)
  }

  test("every query executes at sf0.001 (schema + plan sanity)") {
    assert(QuerySweep.outcomes.map(_.name) == SparkEntry.queries.keys.toSeq.sorted)
    val failed = QuerySweep.outcomes.flatMap(o => o.failure.map(f => s"${o.name}: $f"))
    assert(failed.isEmpty, failed.mkString("\n"))
  }

  test("no query emits a DecimalType compared column (r7 driver-red class)") {
    // analysis only — no execution; the lint itself is proven on a
    // deliberately-decimal fixture below
    val bad = QuerySweep.outcomes.flatMap(_.lint)
    assert(bad.isEmpty, bad.mkString("; "))
  }

  test("the decimal lint catches top-level and nested decimal columns") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dec = Seq(1.5).toDF("v").select(col("v").cast("decimal(12,2)").as("d"))
    assert(Verify.lintDecimalOutput("fx", dec.schema).exists(_.contains("d")))
    val nested = dec.select(struct(col("d")).as("s"), array(col("d")).as("a"))
    assert(Verify.lintDecimalOutput("fx", nested.schema).isDefined)
    val clean = Seq((1L, 2.0)).toDF("a", "b")
    assert(Verify.lintDecimalOutput("fx", clean.schema).isEmpty)
  }
}
