package graft

import graft.llmdata.DedupOps

/** The shared MinHash-LSH core of [[DedupOps]]: the text operator and the
  * item-set operator are one signature → band → verify path, and every
  * entry point into that path releases what it caches. */
class MinhashCoreSpec extends SparkSpec {
  import spark.implicits._

  private def shingles(text: String): Set[String] =
    text.trim.toLowerCase.split("\\s+").toSeq
      .sliding(3).filter(_.size == 3).map(_.mkString(" ")).toSet

  /** 12 identical docs (a clump well below the 256 star cap), a subset /
    * superset chain, near-dups, docs shorter than the shingle size and
    * 40 seeded docs over a small vocabulary for partial overlaps. */
  private val corpus: Seq[(Long, String)] = {
    val rng = new scala.util.Random(7)
    val vocab = Seq("red", "green", "blue", "cyan", "gold", "gray", "pink", "teal")
    (1L to 12L).map(_ -> "the quick brown fox jumps over the lazy dog again") ++
      Seq(20L -> "alpha beta gamma delta epsilon zeta eta theta",
        21L -> "alpha beta gamma delta epsilon zeta",
        22L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        30L -> "one small step for a man one giant leap for mankind",
        31L -> "one small step for a man one giant leap for womankind",
        40L -> "two words", 41L -> "", 42L -> "solo") ++
      (100L until 140L).map(i =>
        i -> Seq.fill(4 + rng.nextInt(6))(vocab(rng.nextInt(vocab.size))).mkString(" "))
  }

  private def pairs(df: org.apache.spark.sql.DataFrame): Map[(Long, Long), Long] =
    df.collect().map(r => (r.getLong(0), r.getLong(1)) ->
      java.lang.Double.doubleToLongBits(r.getDouble(2))).toMap

  test("minhashLsh equals minhashLshSets over the docs' distinct 3-shingle " +
      "memberships, pair for pair and bit for bit in jaccard") {
    val docs = corpus.toDF("doc_id", "text")
    val memberships = corpus.flatMap { case (id, t) => shingles(t).toSeq.map(id -> _) }
      .toDF("set_id", "item")
    for ((bands, rows, t) <- Seq((4, 4, 0.7), (8, 2, 0.3))) {
      val text = pairs(DedupOps.minhashLsh(docs, "doc_id", "text",
        bands = bands, rows = rows, jaccardThreshold = t))
      val sets = pairs(DedupOps.minhashLshSets(memberships, "set_id", "item",
        bands = bands, rows = rows, jaccardThreshold = t))
      assert(text == sets, s"text and set paths diverged at ($bands, $rows, $t)")
      val clump = for (a <- 1L to 12L; b <- (a + 1) to 12L) yield (a, b)
      assert(clump.forall(p => text.get(p).contains(java.lang.Double.doubleToLongBits(1.0))),
        "every identical pair is emitted at jaccard 1.0")
      assert(!text.keys.exists(p => Set(40L, 41L, 42L)(p._1) || Set(40L, 41L, 42L)(p._2)),
        "docs shorter than the shingle size never pair")
    }
    // the subset pair (4 of 6 shingles: jaccard 4/6) is found at t = 0.3
    assert(pairs(DedupOps.minhashLsh(docs, "doc_id", "text", bands = 8, rows = 2,
      jaccardThreshold = 0.3)).contains((20L, 21L)), "subset pair present")
  }

  test("every core entry point leaves the cache manager as it found it") {
    val cm = spark.sharedState.cacheManager
    val docs = corpus.toDF("doc_id", "text")
    val memberships = corpus.flatMap { case (id, t) => shingles(t).toSeq.map(id -> _) }
      .toDF("set_id", "item")
    val entryPoints: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "minhashLsh" -> (() => DedupOps.minhashLsh(docs, "doc_id", "text")),
      "minhashLshSets" -> (() => DedupOps.minhashLshSets(memberships, "set_id", "item")),
      "containmentPairs" -> (() => DedupOps.containmentPairs(docs, "doc_id", "text")),
      "prefixJaccardPairs" -> (() => DedupOps.prefixJaccardPairs(docs, "doc_id", "text")),
      "incrementalDedup" -> (() => DedupOps.incrementalDedup(
        docs.filter($"doc_id" < 30), docs.filter($"doc_id" >= 30), "doc_id", "text")))
    spark.catalog.clearCache()
    for ((name, run) <- entryPoints) {
      run().count()
      assert(cm.isEmpty, s"$name left cached entries behind")
    }
  }
}
