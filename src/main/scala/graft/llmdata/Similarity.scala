package graft.llmdata

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding similarity search (EXT surface): brute-force cosine top-k as
  * the exact baseline, and a sign-LSH bucketed variant as the scale path.
  *
  * All vector math is double-precision built-in expressions — no UDFs, no
  * driver loops. Hot paths use the codegen'd [[graft.functions.DotProduct]]
  * and [[graft.functions.CosineSim]] expressions; the HOF forms remain for
  * casual use.
  * At 100 TB the query set is broadcast (it is small by construction); the
  * corpus is never shuffled in the brute-force path and shuffled once by
  * bucket in the LSH path.
  */
object Similarity {

  /** Σ aᵢ·bᵢ in double precision (higher-order-function form; interpreted —
    * fine for casual use, hot paths use [[graft.functions.DotProduct]]). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  /** Σ aᵢ·bᵢ expanded to `dim` plain expressions — array HOF lambdas
    * evaluate interpreted (~100μs/row at dim 64), while this unrolled sum
    * stays inside whole-stage codegen. Addition order matches [[dot]]'s
    * left fold, so results are bit-identical. No engine path calls it;
    * DotProductSpec keeps it as the unrolled reference the native
    * expression must match. */
  def dotFixed(a: Column, b: Column, dim: Int): Column =
    (1 to dim).map(i =>
      element_at(a, i).cast("double") * element_at(b, i).cast("double")).reduce(_ + _)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** Hot-path cosine: the fused codegen'd
    * [[graft.functions.CosineSim]] expression — dot product and both
    * norms in ONE array pass (the previous three-[[graft.functions.DotProduct]]
    * composition walked each array three times). Bit-identical to that
    * composition — each accumulator is still an independent sequential
    * left-to-right double fold, and the same `/(sqrt·sqrt)` tree runs on
    * the sums — so every cosine oracle hash is unchanged
    * (CosineSimSpec asserts the equivalence bit-for-bit). */
  def cosineNative(a: Column, b: Column): Column =
    graft.functions.CosineSim.cosine_sim(a, b)

  /** Exact top-k neighbors for each query vector, by cosine, ties broken
    * by neighbor id. `queries` must be small (it is broadcast to every
    * executor; the corpus-side scan stays partition-parallel). */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val scored = c.join(q, col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosineNative(col("qv"), col("cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** Matryoshka (prefix-dimension) two-stage retrieval — the MRL
    * serving pattern (Kusupati et al. 2022): embeddings trained so
    * every PREFIX is itself a valid embedding let stage 1 score all
    * candidates on the first `prefixDims` dims (prefixDims/dim of the
    * arithmetic) and stage 2 re-score only the top `m` survivors at
    * full dimension. Exact given the two-stage contract: the output
    * is THE top-k by full cosine among stage-1 survivors (ties broken
    * by neighbor id at both stages — fully deterministic; recall vs
    * brute force is governed by m, the caller's dial).
    *
    * Scale posture matches [[bruteForceTopK]] (small broadcast query
    * side, partition-parallel corpus scan) — the prefix trick cuts
    * per-pair compute, and composes with [[ivfTopK]]'s cell pruning
    * when the corpus side also needs cutting. Returns (query_id,
    * neighbor_id, pre_rank, cosine, rank ≤ k). */
  def matryoshkaTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, prefixDims: Int, m: Int,
                     k: Int): DataFrame = {
    require(prefixDims >= 1, s"prefixDims must be >= 1, got $prefixDims")
    require(m >= k && k >= 1, s"need m >= k >= 1, got m=$m k=$k")
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val pre = c.join(q, col("query_id") =!= col("neighbor_id"))
      .withColumn("pre_cosine", cosineNative(
        slice(col("qv"), 1, prefixDims), slice(col("cv"), 1, prefixDims)))
    val w1 = Window.partitionBy(col("query_id"))
      .orderBy(col("pre_cosine").desc, col("neighbor_id").asc)
    val cand = pre.withColumn("pre_rank", row_number().over(w1))
      .filter(col("pre_rank") <= m)
    val w2 = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    cand.withColumn("cosine", cosineNative(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(w2).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"),
        col("pre_rank").cast("long").as("pre_rank"), col("cosine"),
        col("rank"))
  }

  /** Sign-bit (1-bit) BINARY quantization of an embedding column —
    * the 32× compression tier below [[quantizeInt8]] (4×) and
    * [[pqAssign]] (codebook): dim d packs into bit (d mod 64) of word
    * (d div 64), bit set iff v_d > 0. Each word ORs `1L << b` masks
    * (bit 63 wraps into the sign bit — bitwise, so no ANSI overflow). The
    * packed `Array[Long]` IS the stored index at scale:
    * Hamming distance between packed vectors is a handful of XOR +
    * popcount word ops ([[binaryHammingTopK]]), and sign agreement is
    * a well-behaved cosine proxy for high-dim embeddings (Charikar
    * 2002 — P[signs agree] = 1 − θ/π). */
  def binarySign(vec: Column, dims: Int): Column = {
    require(dims >= 1, s"dims must be >= 1, got $dims")
    val nWords = (dims + 63) / 64
    // HOF fold, NOT a statically-unrolled when-tree (round-16, §1
    // measure first): the r15 unrolled form (64 OR-reduced literal
    // bit tests per word) was PAIRED-MEASURED 3-4x SLOWER on the real
    // q553 stage (noop sink, interleaved: 0.25-0.38 s HOF vs
    // 0.9-1.1 s unrolled; swapping ONLY the sign op reproduces the
    // whole delta) — the giant generated when-tree costs more in
    // codegen than the interpreted lambda costs to run at the 2k-row
    // pack stage this tier operates on. Bitwise ops stay wrap-exact
    // under ANSI (the top bit lands in the sign bit by design). The
    // word list is Scala-static and each word's bit range stops at the
    // last real dim, so no element_at ever indexes past `dims`.
    array((0 until nWords).map { w =>
      aggregate(sequence(lit(0), lit(math.min(63, dims - 1 - w * 64))),
        lit(0L), (acc, b) =>
          when(element_at(vec, b + (w * 64 + 1)).cast("double") > 0d,
            acc.bitwiseOR(call_function("shiftleft", lit(1L), b)))
            .otherwise(acc))
    }: _*)
  }

  /** Hamming distance between two [[binarySign]]-packed vectors:
    * Σ popcount(xor) over the word arrays — statically unrolled over
    * `nWords` literal indices so the PER-PAIR candidate stage (the
    * whole point of the 1-bit tier) stays inside whole-stage codegen
    * instead of an interpreted zip_with/aggregate lambda. */
  def binaryHamming(a: Column, b: Column, nWords: Int): Column = {
    require(nWords >= 1, s"nWords must be >= 1, got $nWords")
    (0 until nWords).map { i =>
      bit_count(element_at(a, i + 1).bitwiseXOR(element_at(b, i + 1)))
        .cast("long")
    }.reduce(_ + _)
  }

  /** BINARY-QUANTIZED two-stage retrieval — the modern vector-DB
    * serving pattern (1-bit index + rerank): stage 1 scores ALL
    * candidates by Hamming distance over [[binarySign]] words (d/64
    * word ops per pair on a 32×-smaller index) and keeps the `m`
    * closest per query (ties by neighbor id — fully deterministic);
    * stage 2 re-scores only the survivors with exact full-precision
    * cosine. Exact given the two-stage contract: the output is THE
    * top-k by cosine among stage-1 survivors; recall vs brute force
    * is governed by m, the caller's dial. Scale posture matches
    * [[bruteForceTopK]]: small broadcast query side, one
    * partition-parallel corpus scan, per-query bounded candidate
    * frame. Returns (query_id, neighbor_id, hamming, cosine,
    * rank ≤ k). */
  def binaryHammingTopK(corpus: DataFrame, queries: DataFrame,
                        idCol: String, vecCol: String, dims: Int,
                        m: Int, k: Int): DataFrame = {
    require(m >= k && k >= 1, s"need m >= k >= 1, got m=$m k=$k")
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("qv"),
      binarySign(col(vecCol), dims).as("qb")))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("cv"),
      binarySign(col(vecCol), dims).as("cb"))
    val scored = c.join(q, col("query_id") =!= col("neighbor_id"))
      .withColumn("hamming",
        binaryHamming(col("qb"), col("cb"), (dims + 63) / 64))
    val w1 = Window.partitionBy(col("query_id"))
      .orderBy(col("hamming").asc, col("neighbor_id").asc)
    val cand = scored.withColumn("hrank", row_number().over(w1))
      .filter(col("hrank") <= m)
    val w2 = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    cand.withColumn("cosine", cosineNative(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(w2).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("hamming"),
        col("cosine"), col("rank"))
  }

  /** Sign-LSH bucket id: bit j is the sign of the fixed hyperplane
    * (e_{2j} − e_{2j+1})·v — deterministic, engine-portable, no randomness
    * needed (a fixed orthogonal family is a valid cosine-LSH). */
  def signLshBucket(vec: Column, bits: Int): Column =
    (0 until bits).map { j =>
      when(element_at(vec, 2 * j + 1).cast("double") >=
           element_at(vec, 2 * j + 2).cast("double"), lit(1L << j)).otherwise(0L)
    }.reduce(_ + _)

  /** Multi-probe bucket set for a query: its own bucket plus every bucket
    * at Hamming distance 1 (one hyperplane sign flipped) — `bits + 1`
    * probes. A vector near a hyperplane lands on either side with near-
    * equal probability; probing the flip recovers those neighbors, so
    * `bits` can grow with N (keeping buckets small, ~N/2^bits) without
    * the recall collapse of exact-bucket LSH (Lv et al., VLDB'07). */
  def probeBuckets(vec: Column, bits: Int): Column = {
    val b = signLshBucket(vec, bits)
    array(b +: (0 until bits).map(j => b.bitwiseXOR(lit(1L << j))): _*)
  }

  /** Approximate top-k: candidates restricted to the query's probe set —
    * the corpus is shuffled ONCE on its exact bucket id; only the (small)
    * query side fans out ×(bits+1). Each corpus vector lives in exactly
    * one bucket, so a (query, neighbor) pair matches at most one probe
    * and needs no dedup. Recall/cost dial: `bits` up → smaller buckets,
    * cheaper; multi-probe keeps recall from collapsing. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, bits: Int = 8): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      explode(probeBuckets(col(vecCol), bits)).as("bucket")))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("cv"), signLshBucket(col(vecCol), bits).as("bucket"))
    val scored = c.join(q, "bucket")
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosineNative(col("qv"), col("cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** K-means-lite centroid fit for [[ivfTopK]]: seed with the `nCells`
    * lowest-id vectors (deterministic), then run `iters` Lloyd rounds —
    * assign every vector to its nearest centroid by cosine, recompute
    * each centroid as the elementwise mean of its members. Entirely
    * map work + aggregations: assignment is the literal-inline map stage
    * of [[assignCorpusCells]] (zero exchanges);
    * the mean is explode → (cell, dim) aggregate → re-assembled array.
    * Element means go through the decimal-sum path so the fitted
    * centroids are bit-identical at any partitioning/engine (the same
    * determinism contract as [[graft.functions.ScalarFns.exactSum]]).
    * Returns (cell_id, centroid: array<double>); empty cells drop out. */
  def fitCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                   nCells: Int, iters: Int): DataFrame = {
    var centroids = corpus.orderBy(col(idCol).asc).limit(nCells)
      .select(col(idCol).as("cell_id"),
        transform(col(vecCol), x => x.cast("double")).as("centroid"))
    for (_ <- 0 until iters) {
      // map-stage assignment: each Lloyd round is ONE corpus pass with
      // zero exchanges before the (cell, dim) mean aggregation — and the
      // per-round driver collect resets lineage, so round N's plan does
      // not nest round N-1's (the lazy-DataFrame form re-scanned the
      // corpus once per nesting level)
      val assigned = assignCorpusCells(corpus, idCol, vecCol, centroids)
      val dims = assigned.select(col("cell"), posexplode(col("__v")))
      centroids = dims.groupBy(col("cell"), col("pos"))
        .agg((sum(col("col").cast("decimal(30,15)")).cast("double") /
          count(col("col"))).as("m"))
        .groupBy(col("cell")).agg(
          transform(array_sort(collect_list(struct(col("pos"), col("m")))),
            x => x.getField("m")).as("centroid"))
        .withColumnRenamed("cell", "cell_id")
    }
    centroids
  }

  /** Top-`n` nearest-centroid ranking for the QUERY side (query batches
    * are small by construction): broadcast cross-join + window rank.
    * Returns (idCol, __v, cell), one row per (vector, probed cell).
    * `centroids` must be broadcastable. The corpus path must use
    * [[assignCorpusCells]] instead — this form shuffles the
    * nCells-times-expanded input on a unique key. */
  private def assignCells(df: DataFrame, idCol: String, vecCol: String,
                          centroids: DataFrame, n: Int = 1): DataFrame = {
    val scored = df.select(col(idCol), col(vecCol).as("__v"))
      .crossJoin(centroids)
      .withColumn("sim", cosineNative(col("__v"), col("centroid")))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("sim").desc, col("cell_id").asc)
    scored.withColumn("__rn", row_number().over(w)).filter(col("__rn") <= n)
      .select(col(idCol), col("__v"), col("cell_id").as("cell"))
  }

  /** Nearest-cell assignment as a PURE MAP STAGE — the corpus path.
    *
    * The centroid table is metadata-scale (≤ nCells rows), so it is
    * collected to the driver (the shape of MLlib's own k-means loop) and
    * inlined as literal expressions: one projection scores every centroid
    * and takes the argmax via `array_max` over (sim, -cell_id) structs.
    * ZERO exchanges. The alternative — crossJoin + row_number ranking
    * ([[assignCells]]) — shuffles the nCells-times-expanded corpus on a
    * unique key (no partial-agg reduction possible), which at 100 TB
    * means shuffling ~16× the lake per assignment pass.
    *
    * Scoring and tie-break are bit-identical to [[assignCells]] and the
    * q45 oracle mirror: sim = dot(v,c)/(|v|·|c|) with sequential
    * left-fold double sums (centroid norms pre-folded on the driver with
    * the same left fold — IEEE-identical to sqrt(dot(c,c)) in-engine),
    * ties broken toward the LOWEST cell_id (struct max on -cell_id), and
    * NaN sims (zero vectors) ranking above everything in both forms
    * (Spark's double ordering treats NaN as largest in window sort and
    * struct comparison alike). */
  def assignCorpusCells(df: DataFrame, idCol: String, vecCol: String,
                        centroids: DataFrame, keep: Seq[String] = Nil): DataFrame = {
    import graft.functions.DotProduct.dot_product
    val cents = centroids
      .select(col("cell_id").cast("long"), col("centroid"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    require(cents.nonEmpty, "assignCorpusCells: empty centroid table")
    val nv = sqrt(dot_product(col("__v"), col("__v")))
    val scored = array(cents.map { case (cid, cvec) =>
      var s = 0.0; var i = 0
      while (i < cvec.length) { s += cvec(i) * cvec(i); i += 1 }
      struct(
        (dot_product(col("__v"), typedlit(cvec.toSeq)) / (nv * lit(math.sqrt(s))))
          .as("sim"),
        lit(-cid).as("neg_cell"))
    }: _*)
    df.select(col(idCol) +: col(vecCol).as("__v") +: keep.map(col): _*)
      .withColumn("cell", -array_max(scored).getField("neg_cell"))
  }

  /** Shared top-k ranking of probed (query, neighbor) candidates —
    * ONE definition for every IVF search path so rank semantics cannot
    * drift: cosine desc, neighbor id asc, self-pairs excluded. */
  private def rankTopK(c: DataFrame, q: DataFrame, k: Int): DataFrame = {
    val scored = c.join(q, "cell")
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosineNative(col("qv"), col("cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** IVF ANN with trained centroids and multi-cell probing: fit `nCells`
    * centroids with `lloydIters` k-means rounds, assign the corpus once,
    * then search each query's `nprobe` nearest cells.
    *
    * Scale shape: centroid fit and assignment are broadcast-join map
    * stages over the corpus (centroids are tiny by construction); the
    * per-cell search shuffles the corpus once on cell id. The assignment
    * is reusable — at 100 TB it is written once as a `cell` column and
    * every subsequent query batch skips the fit+assignment scans.
    * nprobe > 1 recovers neighbors that fall just across a Voronoi
    * boundary — the standard IVF recall dial. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, nCells: Int = 16,
              lloydIters: Int = 2, nprobe: Int = 2): DataFrame = {
    val centroids = broadcast(
      fitCentroids(corpus, idCol, vecCol, nCells, lloydIters).localCheckpoint(true))

    val c = assignCorpusCells(corpus, idCol, vecCol, centroids)
      .select(col(idCol).as("neighbor_id"), col("__v").as("cv"), col("cell"))
    // query side: top-nprobe cells each (corpus vectors live in ONE cell,
    // so a (query, neighbor) pair matches at most one probe — no dedup)
    val q = broadcast(assignCells(queries, idCol, vecCol, centroids, n = nprobe)
      .select(col(idCol).as("query_id"), col("__v").as("qv"), col("cell")))
    rankTopK(c, q, k)
  }

  /** Materialize an IVF index on disk — the 100 TB operating mode the
    * per-query [[ivfTopK]] only simulates: fit centroids once, assign
    * the corpus once, write both; every later query batch reads the
    * (tiny) centroid table and probes only its cells' PARTITION
    * directories of the assignment table, never rescanning or refitting
    * the corpus. Layout: `path/centroids` (nCells rows),
    * `path/assigned` partitioned by `cell`. */
  def ivfIndexWrite(corpus: DataFrame, idCol: String, vecCol: String,
                    path: String, nCells: Int = 16, lloydIters: Int = 2): Unit = {
    val centroids = broadcast(
      fitCentroids(corpus, idCol, vecCol, nCells, lloydIters).localCheckpoint(true))
    centroids.write.mode("overwrite").parquet(s"$path/centroids")
    assignCorpusCells(corpus, idCol, vecCol, centroids)
      .select(col(idCol), col("__v").as(vecCol), col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/assigned")
  }

  /** Append a batch of new vectors to a materialized IVF index
    * ([[ivfIndexWrite]]) WITHOUT refitting or rescanning the corpus:
    * assign the batch to the EXISTING stored centroids (one broadcast
    * map stage over the batch) and append to the affected cell
    * partitions of the assignment table. Per-batch cost is
    * batch-sized — independent of the indexed corpus, the same
    * growing-corpus shape as [[DedupOps.signatureAppend]] on the LSH
    * side.
    *
    * STALENESS CONTRACT: the centroids stay those fitted at
    * [[ivfIndexWrite]] time. Appends do not move them, so search remains
    * EXACTLY equivalent to an index whose corpus is the union but whose
    * centroids came from the original fit (the spec's equivalence) — and
    * as the appended fraction grows and the vector distribution drifts,
    * cell balance and recall decay. Rebuild with [[ivfIndexWrite]] once
    * appends dominate (a common rule of thumb: refit when appended rows
    * exceed ~30-50% of the fitted corpus, or on a recall probe's alarm).
    * Appends are plain parquet file-adds: atomic per file, safe for the
    * single-writer curation loop, readers never see partial rows. */
  def ivfIndexAppend(spark: org.apache.spark.sql.SparkSession, path: String,
                     batch: DataFrame, idCol: String, vecCol: String): Unit = {
    val centroids = broadcast(spark.read.parquet(s"$path/centroids"))
    assignCorpusCells(batch, idCol, vecCol, centroids)
      .select(col(idCol), col("__v").as(vecCol), col("cell"))
      .write.mode("append").partitionBy("cell").parquet(s"$path/assigned")
  }

  /** Search a materialized IVF index ([[ivfIndexWrite]]): score queries
    * against the stored centroids, then join their `nprobe` cells
    * against the cell-partitioned assignment table — the broadcast query
    * side lets dynamic partition pruning skip every unprobed cell's
    * files. Same ranking semantics as [[ivfTopK]]. */
  def ivfTopKIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
                     queries: DataFrame, idCol: String, vecCol: String,
                     k: Int, nprobe: Int = 2): DataFrame = {
    val centroids = broadcast(spark.read.parquet(s"$path/centroids"))
    val q = broadcast(assignCells(queries, idCol, vecCol, centroids, n = nprobe)
      .select(col(idCol).as("query_id"), col("__v").as("qv"), col("cell")))
    val c = spark.read.parquet(s"$path/assigned")
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"), col("cell"))
    rankTopK(c, q, k)
  }

  /** IVF index STALENESS TELEMETRY (round-14, VERDICT r13 #4): the
    * stored centroids never move on [[ivfIndexAppend]] (the documented
    * contract), so a 100 TB curation loop needs a MEASURE of how far
    * the appended population has drifted from the fitted one to know
    * when a rebuild is due — this scores it per cell, from the index's
    * own metric. `appended` marks the appended ids (the caller's
    * append batches — the assignment table itself does not record
    * provenance); every other indexed row counts as fitted corpus.
    *
    * Output per cell: exact BIGINT counts and MICRO-GRID cosine sums
    * (`floor(1e6·cos(vec, centroid))` — the house exact-aggregate
    * discipline: a raw double Σ is partition-order-dependent), plus
    * `mean_sim_orig`/`mean_sim_new` (ONE division each off the exact
    * integers) and `drift` = mean_sim_orig − mean_sim_new: positive
    * drift means appended members sit farther from their centroids
    * than fitted members — cell balance and recall are decaying, and
    * a sustained/widening positive score is the rebuild alarm
    * ([[ivfIndexWrite]]'s refit rule of thumb, now measured instead
    * of guessed). NULL means/drift where a side is empty.
    *
    * Scale shape: one broadcast-centroid map pass over the assignment
    * table + one cell-count aggregate; the appended-id mark is a
    * size-gated join ([[graft.operators.Broadcasts]]). Never rescans
    * the un-indexed corpus. */
  def ivfDriftStats(spark: org.apache.spark.sql.SparkSession, path: String,
                    appended: DataFrame, idCol: String,
                    vecCol: String): DataFrame = {
    val centroids = broadcast(spark.read.parquet(s"$path/centroids"))
    val asg = spark.read.parquet(s"$path/assigned")
    val app = graft.operators.Broadcasts.maybeBroadcast(
      appended.select(col(idCol)).distinct()
        .withColumn("__new", lit(1L)))
    val marked = asg.join(app, Seq(idCol), "left")
      .withColumn("__new", coalesce(col("__new"), lit(0L)))
    val scored = marked
      .join(centroids, marked("cell") === centroids("cell_id"))
      .withColumn("__sim_micro",
        floor(lit(1000000.0) * cosineNative(col(vecCol), col("centroid")))
          .cast("long"))
    def meanOf(micro: Column, n: Column): Column =
      when(n > 0, micro.cast("double") /
        (lit(1000000L) * n).cast("double"))
    scored.groupBy(col("cell").cast("long").as("cell"))
      .agg(
        sum(when(col("__new") === 0L, 1L).otherwise(0L)).as("n_orig"),
        sum(when(col("__new") === 1L, 1L).otherwise(0L)).as("n_new"),
        sum(when(col("__new") === 0L, col("__sim_micro")).otherwise(0L))
          .cast("long").as("sim_micro_orig"),
        sum(when(col("__new") === 1L, col("__sim_micro")).otherwise(0L))
          .cast("long").as("sim_micro_new"))
      .withColumn("mean_sim_orig",
        meanOf(col("sim_micro_orig"), col("n_orig")))
      .withColumn("mean_sim_new",
        meanOf(col("sim_micro_new"), col("n_new")))
      .withColumn("drift", col("mean_sim_orig") - col("mean_sim_new"))
      .select("cell", "n_orig", "n_new", "sim_micro_orig",
        "sim_micro_new", "mean_sim_orig", "mean_sim_new", "drift")
  }

  /** Quantized materialized IVF index: [[ivfIndexWrite]] with the corpus
    * stored as int8 ([[quantizeInt8]]) — the assignment table shrinks ~4×
    * (the dominant index cost at 100 TB), and search dequantizes on read.
    * Centroids are fitted on the DEQUANTIZED vectors so the index is
    * self-consistent: the vectors being ranked at query time are exactly
    * the vectors the cells were trained on. Queries stay full-precision
    * (standard asymmetric search). Layout: `path/centroids` +
    * `path/assigned` (idCol, qvec, scale) partitioned by `cell`. */
  def ivfIndexWriteQuantized(corpus: DataFrame, idCol: String, vecCol: String,
                             path: String, nCells: Int = 16,
                             lloydIters: Int = 2): Unit = {
    // eager: quantize+dequantize are interpreted HOF lambdas over the
    // whole corpus — checkpoint so the fit's per-round passes and the
    // final assignment write all read materialized rows (one quantize
    // pass total, per the quantizeInt8 once-per-corpus contract)
    val deq = quantizeInt8(corpus, idCol, vecCol)
      .withColumn(vecCol, dequantize(col("qvec"), col("scale")))
      .localCheckpoint(true)
    val centroids = broadcast(
      fitCentroids(deq, idCol, vecCol, nCells, lloydIters).localCheckpoint(true))
    centroids.write.mode("overwrite").parquet(s"$path/centroids")
    assignCorpusCells(deq, idCol, vecCol, centroids, keep = Seq("qvec", "scale"))
      .select(col(idCol), col("qvec"), col("scale"), col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/assigned")
  }

  /** Search a quantized index ([[ivfIndexWriteQuantized]]): probe with
    * full-precision queries, dequantize stored corpus vectors on read,
    * rank with the shared [[rankTopK]] semantics. */
  def ivfTopKIndexedQuantized(spark: org.apache.spark.sql.SparkSession,
                              path: String, queries: DataFrame, idCol: String,
                              vecCol: String, k: Int, nprobe: Int = 2): DataFrame = {
    val centroids = broadcast(spark.read.parquet(s"$path/centroids"))
    val q = broadcast(assignCells(queries, idCol, vecCol, centroids, n = nprobe)
      .select(col(idCol).as("query_id"), col("__v").as("qv"), col("cell")))
    val c = spark.read.parquet(s"$path/assigned")
      .select(col(idCol).as("neighbor_id"),
        dequantize(col("qvec"), col("scale")).as("cv"), col("cell"))
    rankTopK(c, q, k)
  }

  /** Symmetric int8 quantization of an embedding column — the 4× (vs
    * float32) / 8× (vs float64) storage cut that makes a 100 TB vector
    * corpus scan-able: per-vector scale = max|x|/127, each element
    * `floor(x/scale + 0.5)` (round-half-up via floor — IEEE-exact and
    * engine-portable, unlike `round()` whose half-way rule differs
    * across engines). A zero vector quantizes to zeros with scale 0.
    * Map-only; the HOF lambdas evaluate interpreted, which is acceptable
    * for a once-per-corpus storage pass (bandwidth-bound at scale).
    * Returns (idCol, scale: double, qvec: array<int>). */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val v = transform(col(vecCol), x => x.cast("double"))
    val mx = array_max(transform(v, x => abs(x)))
    val scale = when(mx === 0.0, 0.0).otherwise(mx / 127.0)
    df.select(col(idCol), scale.as("scale"),
      when(mx === 0.0, transform(v, _ => lit(0)))
        .otherwise(transform(v, x => floor(x / (mx / 127.0) + 0.5).cast("int")))
        .as("qvec"))
  }

  /** Dequantize an int8-quantized vector back to doubles (q * scale).
    * Reconstruction error per element is bounded by scale/2. */
  def dequantize(qvec: Column, scale: Column): Column =
    transform(qvec, q => q.cast("double") * scale)

  /** SemDeDup-style semantic dedup (Abbas et al. 2023 shape): drop every
    * document whose EMBEDDING near-duplicates a smaller-id survivor —
    * textual dedup's blind spot is paraphrases and translations, which
    * land nearby in embedding space while sharing few n-grams.
    *
    * Pipeline: LSH-bucketed cosine pairs ([[cosineNearDupPairs]] — never
    * all-pairs) → transitive components ([[DedupOps.nearDupClusters]] —
    * a keeper per CLUSTER, not per pair, or A~B, B~C keeps both A and C)
    * → broadcast-anti-join the loser set against the corpus scan. The
    * loser set is the near-dup slice, small by construction; the corpus
    * is scanned once. Pairs are eagerly checkpointed before the cluster
    * loop forks them per iteration ([[DedupOps.nearDupClusters]]'s input
    * contract). Returns the surviving rows of `df` unchanged. */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    threshold: Double, bits: Int = 8): DataFrame = {
    val pairs = cosineNearDupPairs(df, idCol, vecCol, threshold, bits)
      .localCheckpoint(true)
    val clusters = DedupOps.nearDupClusters(pairs)
    val losers = clusters.filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as(idCol))
    df.join(graft.operators.Broadcasts.maybeBroadcast(losers), Seq(idCol), "left_anti")
  }

  /** Embedding-space decontamination: flag corpus vectors whose cosine to
    * ANY benchmark vector reaches `threshold` — the semantic complement
    * of [[DedupOps.contamination]]'s n-gram sweep (a paraphrased or
    * translated test item shares no shingles but lands next to the
    * benchmark in embedding space).
    *
    * The benchmark side is small by construction and fans out to its
    * multi-probe bucket set ([[probeBuckets]]) as a broadcast; the corpus
    * stays at its exact bucket — one map-stage bucket computation, one
    * broadcast join, one per-doc aggregate. A (corpus, benchmark) pair
    * matches at most one probe (corpus vectors live in exactly one
    * bucket), so hit counts are exact without dedup.
    *
    * Returns (doc_id, n_benchmark_hits, max_cosine) for flagged docs. */
  def semanticDecontaminate(corpus: DataFrame, benchmark: DataFrame,
                            idCol: String, vecCol: String, threshold: Double,
                            bits: Int = 8): DataFrame = {
    val b = benchmark.select(col(idCol).as("bench_id"), col(vecCol).as("bv"),
      explode(probeBuckets(col(vecCol), bits)).as("bucket"))
    val c = corpus.select(col(idCol).as("doc_id"), col(vecCol).as("cv"),
      signLshBucket(col(vecCol), bits).as("bucket"))
    c.join(graft.operators.Broadcasts.maybeBroadcast(b), Seq("bucket"))
      .withColumn("cosine", cosineNative(col("bv"), col("cv")))
      .filter(col("cosine") >= threshold)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_benchmark_hits"), max(col("cosine")).as("max_cosine"))
  }

  /** Embedding-cosine near-duplicate pairs above `threshold`, restricted
    * to probe-set collisions (buckets within Hamming distance 1 — the
    * near-dup variant of [[lshTopK]]'s multi-probe). Side A fans out to
    * its probe set, side B stays at its exact bucket; each unordered pair
    * within Hamming ≤ 1 matches exactly once after the `id_a < id_b`
    * filter (the reversed ordering fails it), so no distinct is needed. */
  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                         threshold: Double, bits: Int = 8): DataFrame = {
    val withB = df.select(col(idCol).as("id"), col(vecCol).as("v"),
      signLshBucket(col(vecCol), bits).as("bucket"))
    val a = df.select(col(idCol).as("id_a"), col(vecCol).as("v_a"),
      explode(probeBuckets(col(vecCol), bits)).as("bucket"))
    val b = withB.select(col("bucket"), col("id").as("id_b"), col("v").as("v_b"))
    a.join(b, Seq("bucket")).filter(col("id_a") < col("id_b"))
      .withColumn("cosine", cosineNative(col("v_a"), col("v_b")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** K-nearest-neighbor GRAPH over the whole corpus: for EVERY vector,
    * its `k` most-cosine-similar neighbors among multi-probe LSH bucket
    * collisions — the all-nodes generalization of [[lshTopK]] (whose
    * query side is a small batch) and the candidate structure semantic
    * clustering / diversity sampling / graph-based ANN start from.
    *
    * Never all-pairs: side A fans out to its probe set (bucket plus every
    * Hamming-1 flip, ×(bits+1) rows), side B stays at its exact bucket,
    * and the equi-join on bucket bounds candidates to probe collisions.
    * Each (a, b) pair matches at most once (B-side vectors live in
    * exactly one bucket), so no dedup precedes the per-node top-k window.
    * `bits` is the cost dial: buckets hold ~N/2^bits vectors, so the
    * join stays near-linear as N grows when bits tracks log2(N) — at
    * 100 TB the probe fan-out is a map stage and the ONLY corpus-scale
    * shuffles are the bucket equi-join and the per-node window.
    *
    * Returns (node_id, neighbor_id, cosine, rank) — nodes whose probe
    * set collides with nothing drop out (no padded rows). */
  def knnGraph(df: DataFrame, idCol: String, vecCol: String, k: Int,
               bits: Int = 8): DataFrame = {
    val a = df.select(col(idCol).as("node_id"), col(vecCol).as("va"),
      explode(probeBuckets(col(vecCol), bits)).as("bucket"))
    val b = df.select(col(idCol).as("neighbor_id"), col(vecCol).as("vb"),
      signLshBucket(col(vecCol), bits).as("bucket"))
    val w = Window.partitionBy(col("node_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    a.join(b, Seq("bucket"))
      .filter(col("node_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosineNative(col("va"), col("vb")))
      // a zero-norm vector (failed embed) yields NaN cosine for every
      // pair it touches, and NaN orders ABOVE all reals in the desc
      // sort — it would displace a true neighbor from every top-k it
      // collides with. Drop NaN-scored candidates before ranking.
      .filter(!isnan(col("cosine")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("node_id", "neighbor_id", "cosine", "rank")
  }

  /** Hard-negative mining for contrastive training: for every anchor
    * vector, the `k` most-similar vectors with a DIFFERENT label — the
    * near-misses that make the best negatives (Karpukhin et al. 2020
    * family). Identical candidate structure to [[knnGraph]] (multi-probe
    * fan-out × exact-bucket equi-join, never all-pairs); the label
    * inequality prunes before ranking, so positives never occupy
    * candidate slots. Returns (anchor_id, negative_id, anchor_label,
    * negative_label, cosine, rank). */
  def hardNegatives(df: DataFrame, idCol: String, vecCol: String,
                    labelCol: String, k: Int, bits: Int = 8): DataFrame = {
    val a = df.select(col(idCol).as("anchor_id"), col(vecCol).as("va"),
      col(labelCol).as("anchor_label"),
      explode(probeBuckets(col(vecCol), bits)).as("bucket"))
    val b = df.select(col(idCol).as("negative_id"), col(vecCol).as("vb"),
      col(labelCol).as("negative_label"),
      signLshBucket(col(vecCol), bits).as("bucket"))
    val w = Window.partitionBy(col("anchor_id"))
      .orderBy(col("cosine").desc, col("negative_id").asc)
    a.join(b, Seq("bucket"))
      .filter(col("anchor_label") =!= col("negative_label"))
      .withColumn("cosine", cosineNative(col("va"), col("vb")))
      // same NaN guard as [[knnGraph]]: a zero-norm vector must not
      // surface as every anchor's "hardest negative"
      .filter(!isnan(col("cosine")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("anchor_id", "negative_id", "anchor_label", "negative_label",
        "cosine", "rank")
  }

  /** Embedding outliers: the `k` vectors farthest (squared Euclidean)
    * from the corpus centroid — the standard embedding-space health
    * check (mis-embedded rows, encoder drift, garbage inputs all land
    * far from the mass).
    *
    * Determinism: the centroid is the decimal-exact per-dim mean (the
    * [[labelCentroids]] machinery with one global label), collected —
    * it is dim-scale, the same metadata-scale collect as
    * [[assignCorpusCells]] — and inlined as literals; the distance is
    * dim unrolled codegen'd terms added in left-fold order, so the
    * doubles are bit-identical in any engine (float→double exact,
    * products exact-operand IEEE, same fold order as the oracle's
    * list_dot_product over the diff list). The top-k is a TakeOrdered —
    * no global sort; everything before it is ONE map stage. */
  def centroidOutliers(df: DataFrame, idCol: String, vecCol: String,
                       k: Int): DataFrame = {
    val cent = df.select(posexplode(col(vecCol)))
      .groupBy(col("pos"))
      .agg((graft.functions.ScalarFns.exactSum(col("col").cast("double"))
        / count(lit(1))).as("m"))
      .orderBy(col("pos")).collect().map(_.getDouble(1))
    require(cent.nonEmpty, "centroidOutliers: empty corpus")
    val dist2 = cent.indices.map { i =>
      val d = element_at(col(vecCol), i + 1).cast("double") - lit(cent(i))
      d * d
    }.reduce(_ + _)
    df.select(col(idCol), dist2.as("dist2"))
      .orderBy(col("dist2").desc, col(idCol).asc)
      .limit(k)
  }

  /** Per-label embedding centroids: mean vector per class, one (label,
    * dim, n_vecs, centroid) row per dimension — the class-prototype table
    * a labeled-data pipeline derives (nearest-centroid classification,
    * per-class drift monitoring, seed centroids for clustering).
    *
    * Shape at 100 TB: one posexplode (codegen'd generator — rows × dim)
    * into ONE hash aggregate keyed (label, dim) with map-side combine;
    * output is |labels|×dim rows — metadata-scale. Sums go through the
    * decimal-exact path ([[graft.functions.ScalarFns.exactSum]]): float →
    * double is exact, and the decimal(20,6) sum is integer arithmetic —
    * the centroid is bit-identical at any partitioning and in the oracle.
    * The final mean divides in double space (IEEE-exact). */
  def labelCentroids(df: DataFrame, idCol: String, vecCol: String,
                     labelCol: String): DataFrame =
    df.select(col(labelCol).as("label"), posexplode(col(vecCol)))
      .select(col("label"), col("pos").as("dim"), col("col").cast("double").as("x"))
      .groupBy(col("label"), col("dim"))
      .agg(count(lit(1)).as("n_vecs"),
        (graft.functions.ScalarFns.exactSum(col("x")) / count(lit(1))).as("centroid"))

  /** Reciprocal-rank fusion of two retriever rankings — the standard
    * hybrid-retrieval combiner (lexical BM25 list ⊕ embedding ANN list):
    * rrf(d) = Σ 1/(kRrf + rank_i(d)) over the lists containing d. With
    * exactly two lists the score is a fixed-order two-term IEEE sum of
    * exact integer reciprocals — bit-identical on any engine (no
    * accumulation-order ambiguity, the constraint that rules out a
    * variadic fold). Ties break by id.
    *
    * Input frames carry (idCol, rank). Both are top-k lists — metadata-
    * scale by construction — so the full-outer join and the final global
    * ordering window run on at most |a|+|b| rows; the single-partition
    * window is deliberate and safe HERE (never on a corpus: see
    * `Sampling.globalNtile` for the corpus-scale ranking pattern). */
  def rrfFuse(a: DataFrame, b: DataFrame, idCol: String,
              kRrf: Int = 60, topN: Int = 10): DataFrame = {
    require(kRrf >= 1 && topN >= 1, s"bad rrf params ($kRrf, $topN)")
    val ra = a.select(col(idCol).as("id"), col("rank").cast("long").as("rank_lex"))
    val rb = b.select(col(idCol).as("id"), col("rank").cast("long").as("rank_sem"))
    val fused = ra.join(rb, Seq("id"), "full_outer")
      .withColumn("rrf_score",
        coalesce(lit(1.0) / (lit(kRrf.toLong) + col("rank_lex")).cast("double"), lit(0.0))
          + coalesce(lit(1.0) / (lit(kRrf.toLong) + col("rank_sem")).cast("double"), lit(0.0)))
    val w = Window.orderBy(col("rrf_score").desc, col("id").asc)
    fused.withColumn("fused_rank", row_number().over(w).cast("int"))
      .filter(col("fused_rank") <= topN)
      .select(col("id").as(idCol), col("rank_lex"), col("rank_sem"),
        col("rrf_score"), col("fused_rank"))
  }

  /** Coarse-to-fine ANN via dimension truncation (the Matryoshka-
    * representation pattern): stage 1 ranks by cosine over only the first
    * `dPrefix` dimensions and keeps `k * overfetch` candidates per query;
    * stage 2 reranks those candidates with the exact full-dimension
    * cosine and emits the top k. Both stages are deterministic (ties by
    * neighbor id), so the result is oracle-exact — recall vs. a pure
    * full-dim scan is a measured property (spec), not a promise.
    *
    * Why it scales: the coarse stage is where the corpus-wide work
    * happens, and it touches dPrefix/dim of the vector bytes — at 100 TB
    * the corpus side materializes a separate prefix-vector column (or
    * table) so the stage-1 scan reads 8/64ths of the lake, and only the
    * k × overfetch × |queries| candidate rows ever load full vectors.
    * Queries ride broadcast in both stages; the rerank is a candidate-
    * sized join, never a second corpus pass. */
  def truncatedRerank(corpus: DataFrame, queries: DataFrame, idCol: String,
                      vecCol: String, dPrefix: Int, overfetch: Int,
                      k: Int): DataFrame = {
    require(dPrefix >= 1 && overfetch >= 1 && k >= 1,
      s"bad params ($dPrefix, $overfetch, $k)")
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val coarse = c.join(q, col("query_id") =!= col("neighbor_id"))
      .withColumn("coarse", cosineNative(
        slice(col("qv"), 1, dPrefix), slice(col("cv"), 1, dPrefix)))
    val wc = Window.partitionBy(col("query_id"))
      .orderBy(col("coarse").desc, col("neighbor_id").asc)
    val cand = coarse.withColumn("crank", row_number().over(wc))
      .filter(col("crank") <= k * overfetch)
    val wf = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    cand.withColumn("cosine", cosineNative(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(wf).cast("int"))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** Vector-column hygiene gate: ONE row of exact defect counts for an
    * embedding column — NULL vectors, wrong dimensionality, non-finite
    * elements (NaN/±Inf), and all-zero vectors — plus `n_clean` and a
    * `clean_rate` (two exact BIGINTs divided once). The vector-side
    * analogue of the reference's expectation suites (cf. the
    * NotNull/Between `mostly` checks in graft.checks): zero-norm vectors
    * break cosine, NaN poisons k-means fits, and a silent dim drift
    * corrupts every dot product downstream — gate BEFORE indexing.
    *
    * Shape at 100 TB: pure map-stage predicates (equality/size checks
    * on array elements — no float arithmetic, so engine-portable) into
    * one global count aggregate; nothing shuffles but partial counters. */
  def vectorHygiene(df: DataFrame, vecCol: String, expectedDim: Int): DataFrame = {
    require(expectedDim >= 1, s"expectedDim must be >= 1, got $expectedDim")
    val v = col(vecCol)
    val isNull = v.isNull
    val wrongDim = v.isNotNull && size(v) =!= expectedDim
    val nonFinite = v.isNotNull && exists(v, e => isnan(e) ||
      e === lit(Float.PositiveInfinity) || e === lit(Float.NegativeInfinity))
    val allZero = v.isNotNull && size(v) > 0 && forall(v, _ === lit(0.0f))
    val clean = !(isNull || wrongDim || nonFinite || allZero)
    df.agg(
      count(lit(1)).as("n_vectors"),
      count(when(isNull, lit(1))).as("n_null"),
      count(when(wrongDim, lit(1))).as("n_wrong_dim"),
      count(when(nonFinite, lit(1))).as("n_nonfinite"),
      count(when(allZero, lit(1))).as("n_all_zero"),
      count(when(clean, lit(1))).as("n_clean"))
      .withColumn("clean_rate",
        when(col("n_vectors") > 0,
          col("n_clean").cast("double") / col("n_vectors").cast("double"))
          .otherwise(lit(0.0)))
  }

  /** Embedding covariance matrix (upper triangle): population covariance
    * of every dimension pair — the input to PCA-style drift diagnostics
    * (anisotropy, collapsed dimensions, batch-over-batch rotation). One
    * (i, j, n, sij, cov) row per pair with i ≤ j.
    *
    * Exactness: float→double is exact, a product of two floats is exact
    * in double (24-bit mantissas), and both the per-dim sums and the
    * per-pair product sums go through the decimal-exact path
    * ([[graft.functions.ScalarFns.exactSum]]) — deterministic at any
    * partitioning. The final `cov = sij/n − (si/n)(sj/n)` is a fixed
    * IEEE expression tree mirrored by the oracle.
    *
    * Shape at 100 TB: two chained codegen generators fan each vector
    * into its d(d+1)/2 upper-triangle pairs, then ONE hash aggregate
    * keyed (i, j) with map-side combine — each partition collapses to
    * ≤ d(d+1)/2 partials before the (tiny) shuffle; the d-row dim-sum
    * frame and 1-row count broadcast back onto the d²-row result.
    * The fan-out is inherent to covariance (every pair needs every
    * row's product); nothing is quadratic in ROWS. */
  def covarianceMatrix(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val x = df.select(col(idCol), col(vecCol).as("__v"),
        posexplode(col(vecCol)))
      .select(col(idCol), col("__v"), col("pos").as("i"),
        col("col").cast("double").as("xi"))
    val pairs = x.select(col("i"), col("xi"), posexplode(col("__v")))
      .filter(col("pos") >= col("i"))
      .select(col("i"), col("xi"), col("pos").as("j"),
        col("col").cast("double").as("xj"))
    val sij = pairs.groupBy(col("i"), col("j"))
      .agg(graft.functions.ScalarFns.exactSum(col("xi") * col("xj")).as("sij"))
    val si = x.groupBy(col("i"))
      .agg(graft.functions.ScalarFns.exactSum(col("xi")).as("si"))
    val n = df.agg(count(lit(1)).cast("long").as("n"))
    val nD = col("n").cast("double")
    sij.crossJoin(broadcast(n))
      .join(graft.operators.Broadcasts.maybeBroadcast(
        si.select(col("i").as("__ia"), col("si").as("__sa"))), col("i") === col("__ia"))
      .join(graft.operators.Broadcasts.maybeBroadcast(
        si.select(col("i").as("__ib"), col("si").as("__sb"))), col("j") === col("__ib"))
      .select(col("i"), col("j"), col("n"), col("sij"),
        ((col("sij") / nD) - ((col("__sa") / nD) * (col("__sb") / nD))).as("cov"))
  }

  /** Johnson–Lindenstrauss random projection to `kOut` dimensions with
    * a DETERMINISTIC Rademacher matrix: σ(i,j) = ±1 from the parity of
    * the first hex nibble of md5("seed:i:j") — reproducible on any
    * engine with md5, no RNG state, no projection-matrix table to ship
    * (the matrix is a pure function of the seed). y_j = Σ_i x_i·σ_ij /
    * √kOut preserves pairwise distances within (1±ε) for kOut =
    * O(log n / ε²) — the cheap front-end for distance sketches,
    * LSH-style bucketing, or shipping d-dim vectors at kOut/d the
    * bytes.
    *
    * Exactness: each product is cast to decimal(20,6) and summed per
    * (row, j) — decimal addition is associative, so an oracle summing
    * the same products in any order is bit-equal; √kOut and the final
    * division are correctly-rounded IEEE ops.
    *
    * Shape: posexplode the vector (codegen generator), broadcast-join
    * the d·kOut-row sign table, hash-aggregate on (id, j). An unrolled
    * per-row expression tree would avoid the aggregate entirely, but
    * d·kOut-term decimal trees blow janino's method limit and drop the
    * whole projection to INTERPRETED execution (measured 5.1 s vs
    * 0.6 s at sf0.1) — the join+agg form stays inside whole-stage
    * codegen end to end, and map-side combine collapses each row's
    * fan-out before the exchange, so the shuffle is exactly the
    * OUTPUT's n·kOut rows. Output long form: (idCol, j, y). */
  def randomProjection(df: DataFrame, idCol: String, vecCol: String,
                       dim: Int, kOut: Int, seed: Int): DataFrame = {
    require(dim > 0 && kOut > 0, s"dim/kOut must be positive: $dim, $kOut")
    def sign(i: Int, j: Int): Double = {
      val digest = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$seed:$i:$j".getBytes("UTF-8"))
      // first hex nibble = high nibble of byte 0
      if (((digest(0) >> 4) & 1) == 0) 1.0 else -1.0
    }
    val spark = df.sparkSession
    import spark.implicits._
    val signFrame = (for { i <- 0 until dim; j <- 0 until kOut }
      yield (i, j, sign(i, j))).toDF("i", "j", "sgn")
    df.select(col(idCol), posexplode(col(vecCol)))
      .select(col(idCol), col("pos").as("i"), col("col").cast("double").as("xi"))
      .join(broadcast(signFrame), Seq("i"))
      .groupBy(col(idCol), col("j"))
      .agg(sum((col("xi") * col("sgn")).cast("decimal(20,6)"))
        .cast("double").as("__s"))
      .select(col(idCol), col("j"),
        (col("__s") / lit(math.sqrt(kOut.toDouble))).as("y"))
  }

  /** Dominant principal component by power iteration over
    * [[covarianceMatrix]]: the covariance matrix is METADATA-scale
    * (d(d+1)/2 entries — 2,080 doubles at d=64), so it is collected and
    * iterated on the driver; the corpus itself is touched exactly once
    * (by covarianceMatrix). Fixed iteration count and a deterministic
    * uniform start vector — no randomness, same loadings every run.
    * Returns (loadings normalized to unit L2 with a sign convention —
    * largest-|loading| dim made positive — and the Rayleigh-quotient
    * eigenvalue estimate). */
  def topPrincipalComponent(df: DataFrame, idCol: String, vecCol: String,
                            iterations: Int = 50): (Array[Double], Double) = {
    require(iterations > 0)
    val entries = covarianceMatrix(df, idCol, vecCol)
      .select(col("i"), col("j"), col("cov")).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
    require(entries.nonEmpty, "topPrincipalComponent: empty corpus")
    val d = entries.iterator.map(_._2).max + 1
    val m = Array.ofDim[Double](d, d)
    entries.foreach { case (i, j, c) => m(i)(j) = c; m(j)(i) = c }
    var v = Array.fill(d)(1.0 / math.sqrt(d.toDouble))
    var lambda = 0.0
    (1 to iterations).foreach { _ =>
      val w = Array.tabulate(d)(i => (0 until d).map(k => m(i)(k) * v(k)).sum)
      val norm = math.sqrt(w.map(x => x * x).sum)
      if (norm > 0) {
        v = w.map(_ / norm)
        lambda = norm
      }
    }
    val signDim = v.indices.maxBy(i => math.abs(v(i)))
    val signed = if (v(signDim) < 0) v.map(-_) else v
    (signed, lambda)
  }

  // ---- Product quantization (PQ) ANN -------------------------------------

  /** Train a product-quantization codebook: split each `dim`-dim vector
    * into `m` contiguous subvectors and fit `k` centroids per subspace
    * (the [[fitCentroids]] Lloyd loop, reused verbatim per subspace).
    * Returns (sub_id, cell_id, centroid) — m*k rows, metadata-scale.
    *
    * PQ is the memory-scale path past [[quantizeInt8]]: int8 keeps
    * dim bytes/vector (64 here), PQ keeps m bytes (8) — at 1e11
    * vectors that is the difference between a 6.4 TB and an 0.8 TB
    * resident index, which decides whether ADC scans stay in memory.
    * The trade is reconstruction error, bounded by the per-subspace
    * quantizer; [[pqTopK]] repairs ranking error with exact rerank. */
  def pqTrain(corpus: DataFrame, idCol: String, vecCol: String,
              dim: Int, m: Int, k: Int, iters: Int = 3): DataFrame = {
    require(m >= 1 && dim % m == 0, s"m must divide dim ($m, $dim)")
    val sub = dim / m
    (0 until m).map { s =>
      val subFrame = corpus.select(col(idCol),
        slice(col(vecCol), s * sub + 1, sub).as("__sv"))
      fitCentroids(subFrame, idCol, "__sv", nCells = k, iters = iters)
        .select(lit(s).as("sub_id"), col("cell_id"), col("centroid"))
    }.reduce(_ unionByName _)
  }

  /** Encode the corpus against a trained codebook: per subspace, the
    * cell minimizing reconstruction distance `|c|^2 - 2*dot(x_sub, c)`
    * (the `|x_sub|^2` term is constant per row, so argmin over cells is
    * the true L2 argmin without computing it) — ties to the LOWEST
    * cell id. One codes column of m small ints per vector.
    *
    * Map-stage by the [[assignCorpusCells]] argument: the codebook is
    * metadata-scale (m*k rows), collected and inlined as literal
    * expressions — ZERO exchanges; a crossJoin+rank form would shuffle
    * the m-times-exploded corpus on a unique key. */
  def pqEncode(corpus: DataFrame, idCol: String, vecCol: String,
               codebook: DataFrame, dim: Int, m: Int,
               keep: Seq[String] = Nil): DataFrame = {
    import graft.functions.DotProduct.dot_product
    require(m >= 1 && dim % m == 0, s"m must divide dim ($m, $dim)")
    val sub = dim / m
    val cents = codebook
      .select(col("sub_id").cast("int"), col("cell_id").cast("long"),
        col("centroid"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2).toArray))
      .groupBy(_._1)
    require(cents.nonEmpty, "pqEncode: empty codebook")
    val codeCols = (0 until m).map { s =>
      val cells = cents(s).sortBy(_._2)
      val sv = slice(col(vecCol), s * sub + 1, sub)
      val scored = array(cells.map { case (_, cid, cvec) =>
        var n2 = 0.0; var i = 0
        while (i < cvec.length) { n2 += cvec(i) * cvec(i); i += 1 }
        struct(
          (lit(n2) - lit(2.0) * dot_product(sv, typedlit(cvec.toSeq)))
            .as("d2"),
          lit(cid).as("cell"))
      }: _*)
      array_min(scored).getField("cell").cast("int")
    }
    corpus.select(col(idCol) +: array(codeCols: _*).as("codes")
      +: keep.map(col): _*)
  }

  /** PQ ANN search with asymmetric distance computation (ADC) + exact
    * rerank: per query, the inner-product contribution of every
    * (subspace, cell) pair forms a small distance table (|Q|*m*k rows —
    * broadcast); the approximate dot of a corpus vector is the SUM of
    * its codes' contributions — one broadcast join on the exploded
    * codes and a map-side-combined hash aggregate, never a
    * vector-length scan of the corpus. The top `k*overfetch` approx
    * candidates per query then rerank by EXACT cosine against the full
    * vectors (candidate-sized join), top-k final. Output matches the
    * engine's ANN surface: (query_id, neighbor_id, cosine, rank).
    *
    * At 100 TB: the ADC scan touches m bytes per corpus vector — the
    * point of PQ — and the only full-width vector reads are the
    * candidate rows. `overfetch` is the recall dial (the IVF nprobe
    * analog). */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, codebook: DataFrame, codes: DataFrame,
             dim: Int, m: Int, k: Int, overfetch: Int = 4): DataFrame = {
    require(overfetch >= 1, "overfetch must be >= 1")
    val sub = dim / m
    val qsub = (0 until m).map { s =>
      queries.select(col(idCol).as("query_id"), lit(s).as("sub_id"),
        slice(col(vecCol), s * sub + 1, sub).as("__qs"))
    }.reduce(_ unionByName _)
    val distTable = broadcast(
      qsub.join(codebook, Seq("sub_id"))
        .select(col("query_id"), col("sub_id"), col("cell_id").cast("int").as("code"),
          dot(col("__qs"), col("centroid")).as("contrib"))
        .localCheckpoint(true))
    val exploded = codes.select(col(idCol).as("neighbor_id"),
      posexplode(col("codes")).as(Seq("sub_id", "code")))
    // approx_dot is a hash-agg double sum (partition-order-dependent in
    // the last ulp) — acceptable HERE because it only selects overfetch
    // candidates; the exact-rerank stage below re-scores them with the
    // engine's deterministic cosine, so the final (cosine, rank) output
    // is stable. This operator stays spec-verified (no oracle row), like
    // the HLL sketches.
    val approx = exploded.join(distTable, Seq("sub_id", "code"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("contrib")).as("approx_dot"))
      .filter(col("query_id") =!= col("neighbor_id"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("approx_dot").desc, col("neighbor_id").asc)
    val candidates = approx.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k * overfetch)
      .select("query_id", "neighbor_id")
    val reranked = candidates
      .join(corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv")),
        Seq("neighbor_id"))
      .join(broadcast(queries.select(col(idCol).as("query_id"),
        col(vecCol).as("qv"))), Seq("query_id"))
      .withColumn("cosine", cosineNative(col("qv"), col("cv")))
    val wf = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    reranked.withColumn("rank", row_number().over(wf))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** Materialize an IVF-PQ index — the composition of [[ivfIndexWrite]]
    * (coarse cell routing) and [[pqTrain]]/[[pqEncode]] (m-byte codes),
    * the standard next rung past [[ivfIndexWriteQuantized]] on the ANN
    * memory ladder: int8 keeps `dim` bytes per vector, PQ keeps `m`
    * (8 here vs 64) — at 1e11 vectors the difference between a 6.4 TB
    * and a 0.8 TB resident scan set, which decides whether the probed
    * cells' ADC pass stays in memory. Codes are trained and encoded on
    * RAW vectors, not per-cell residuals (FAISS IndexIVFPQ's
    * `by_residual=false` mode): inner-product ADC then needs ONE
    * distance table per query instead of one per (query, probed cell),
    * and the exact-rerank stage repairs the (small) precision the
    * residual form would buy.
    *
    * Layout: `path/centroids` (nCells rows), `path/codebook`
    * (m·kSub rows), `path/assigned` = (id, codes) partitioned by
    * `cell` — the ADC scan set, m small ints per vector — and
    * `path/vectors` = the full-precision store read ONLY at candidate
    * scale by the rerank (at 100 TB this is typically the existing
    * corpus table; it is co-written here so the index is
    * self-contained). Build cost: one persisted corpus feeding the
    * coarse fit, the m per-subspace fits, and two map-stage writes —
    * no shuffles outside the (cell, dim)-scale Lloyd aggregates. */
  def ivfPqIndexWrite(corpus: DataFrame, idCol: String, vecCol: String,
                      path: String, dim: Int, m: Int, kSub: Int = 16,
                      nCells: Int = 16, lloydIters: Int = 2,
                      pqIters: Int = 2, byResidual: Boolean = false): Unit = {
    require(m >= 1 && dim % m == 0, s"m must divide dim ($m, $dim)")
    require(kSub >= 2 && kSub <= 256,
      s"kSub must fit one byte per code (2..256), got $kSub")
    val mem = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val corp = corpus.select(col(idCol), col(vecCol)).persist(mem)
    val centroids = broadcast(
      fitCentroids(corp, idCol, vecCol, nCells, lloydIters)
        .localCheckpoint(true))
    centroids.write.mode("overwrite").parquet(s"$path/centroids")
    // RESIDUAL mode (FAISS by_residual=true): the codebook trains on
    // and the codes encode x − c(cell(x)) — residuals cluster far
    // tighter than raw vectors, so the same m·kSub budget buys less
    // quantization error; the ADC side restores the coarse term as
    // ONE per-(query, probed cell) base dot added to the code
    // contributions. Raw mode keeps the one-distance-table-per-query
    // simplicity. The flag persists in `path/meta` so search resolves
    // the right arithmetic from the index itself.
    val assigned0 = assignCorpusCells(corp, idCol, vecCol, centroids)
      .withColumn("vnorm", sqrt(
        graft.functions.DotProduct.dot_product(col("__v"), col("__v"))))
    val assigned =
      if (!byResidual) assigned0
      else assigned0
        .join(broadcast(centroids
          .select(col("cell_id").as("cell"), col("centroid"))), Seq("cell"))
        .withColumn("__v",
          zip_with(col("__v"), col("centroid"),
            (a, b) => a.cast("double") - b))
        .drop("centroid")
        .persist(mem) // consumed by pqTrain's m fits AND pqEncode
    val codebook = pqTrain(assigned, idCol, "__v", dim, m, kSub, pqIters)
      .localCheckpoint(true)
    codebook.write.mode("overwrite").parquet(s"$path/codebook")
    pqEncode(assigned, idCol, "__v", codebook, dim, m,
      keep = Seq("cell", "vnorm"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$path/assigned")
    if (byResidual) assigned.unpersist()
    val spark = corpus.sparkSession
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      Seq(org.apache.spark.sql.Row(byResidual)).asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("by_residual",
          org.apache.spark.sql.types.BooleanType, nullable = false))))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    corp.write.mode("overwrite").parquet(s"$path/vectors")
    corp.unpersist()
    ()
  }

  /** Append a batch to a materialized IVF-PQ index
    * ([[ivfPqIndexWrite]]) WITHOUT refitting: new vectors route
    * through the STORED centroids (and, in residual mode resolved
    * from `path/meta`, subtract their cell's centroid), encode
    * against the STORED codebook, append to the affected cell
    * partitions of the code table, and land full-precision in
    * `path/vectors` for the rerank. Per-batch cost is batch-sized —
    * independent of the indexed corpus, the flat-IVF
    * [[ivfIndexAppend]] contract carried to the quantized index (a
    * 100 TB corpus admits batches against fitted models; it never
    * re-runs the Lloyd fits per admission).
    *
    * EQUIVALENCE (the q74 signature-lake convention, pinned by q527):
    * because search only ever reads models + per-vector rows, the
    * appended index is bit-identical in behavior to a from-scratch
    * index over the union corpus USING THE SAME MODELS — and with an
    * unrestricted candidate budget the rerank repairs all quantization
    * error, so post-append top-k EQUALS the flat IVF search over the
    * union at equal probes. Same staleness contract as
    * [[ivfIndexAppend]]: models do not move, so rebuild once appended
    * mass or drift dominates (~30-50% rule of thumb, or a recall
    * probe's alarm). Appends are plain parquet file-adds — atomic per
    * file, single-writer curation loop, readers never see partial
    * rows. */
  def ivfPqIndexAppend(spark: org.apache.spark.sql.SparkSession,
                       path: String, batch: DataFrame, idCol: String,
                       vecCol: String): Unit = {
    val centroids = broadcast(spark.read.parquet(s"$path/centroids"))
    val codebook = spark.read.parquet(s"$path/codebook")
    val byResidual = graft.sources.Tables
      .readParquetIfExists(spark, s"$path/meta")
      .exists(_.select(col("by_residual")).head().getBoolean(0))
    val meta = codebook.agg(
        (max(col("sub_id")) + 1).cast("int").as("m"),
        max(size(col("centroid"))).cast("int").as("sub")).head()
    val (m, sub) = (meta.getInt(0), meta.getInt(1))
    val dim = m * sub
    val corp = batch.select(col(idCol), col(vecCol))
      .localCheckpoint(true)
    val assigned0 = assignCorpusCells(corp, idCol, vecCol, centroids)
      .withColumn("vnorm", sqrt(
        graft.functions.DotProduct.dot_product(col("__v"), col("__v"))))
    val assigned =
      if (!byResidual) assigned0
      else assigned0
        .join(broadcast(centroids
          .select(col("cell_id").as("cell"), col("centroid"))), Seq("cell"))
        .withColumn("__v",
          zip_with(col("__v"), col("centroid"),
            (a, b) => a.cast("double") - b))
        .drop("centroid")
    pqEncode(assigned, idCol, "__v", codebook, dim, m,
      keep = Seq("cell", "vnorm"))
      .write.mode("append").partitionBy("cell")
      .parquet(s"$path/assigned")
    corp.write.mode("append").parquet(s"$path/vectors")
    ()
  }

  /** Search an IVF-PQ index ([[ivfPqIndexWrite]]): probe each query's
    * `nprobe` nearest cells, ADC-score ONLY those cells' m-byte codes
    * (one broadcast distance table of query·codebook contributions,
    * |Q|·m·kSub rows; the approximate dot of a corpus vector is the
    * sum of its codes' contributions — a map-side-combined hash
    * aggregate), keep the top `k·overfetch` approximate candidates per
    * query, and rerank them by EXACT cosine against the full-precision
    * store — candidate-sized reads only. Output and tie-break semantics
    * match every other ANN surface (`query_id, neighbor_id, cosine,
    * rank`; cosine desc, neighbor asc, self-pairs excluded).
    *
    * `overfetch` is the recall dial: with a budget covering the whole
    * probed cells the result is EXACTLY [[ivfTopKIndexed]] at equal
    * nprobe (the rerank sees every probed vector — spec- and
    * oracle-pinned); smaller budgets trade candidate reads for the
    * chance that ADC quantization error drops a true neighbor below
    * the cut. At 100 TB the ADC pass touches m bytes per probed
    * vector — the point of PQ — and the only full-width reads are the
    * ≤ k·overfetch candidates per query. Residual-encoded indexes
    * ([[ivfPqIndexWrite]] `byResidual = true`, resolved from
    * `path/meta`) add the per-probe coarse base term before the norm
    * division — same plan shape, one more broadcast column. */
  def ivfPqTopKIndexed(spark: org.apache.spark.sql.SparkSession,
                       path: String, queries: DataFrame, idCol: String,
                       vecCol: String, k: Int, nprobe: Int = 2,
                       overfetch: Int = 4): DataFrame = {
    require(k >= 1 && nprobe >= 1 && overfetch >= 1,
      "k, nprobe, overfetch must be >= 1")
    val centroids = broadcast(spark.read.parquet(s"$path/centroids"))
    val codebook = spark.read.parquet(s"$path/codebook")
    val byResidual = graft.sources.Tables
      .readParquetIfExists(spark, s"$path/meta")
      .exists(_.select(col("by_residual")).head().getBoolean(0))
    val meta = codebook.agg(
        (max(col("sub_id")) + 1).cast("int").as("m"),
        max(size(col("centroid"))).cast("int").as("sub")).head()
    val (m, sub) = (meta.getInt(0), meta.getInt(1))
    val qOnce = broadcast(queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .localCheckpoint(true))
    // ADC distance table: contribution of every (sub, code) centroid
    val qsub = (0 until m).map { s2 =>
      qOnce.select(col("query_id"), lit(s2).as("sub_id"),
        slice(col("qv"), s2 * sub + 1, sub).as("__qs"))
    }.reduce(_ unionByName _)
    val distTable = broadcast(
      qsub.join(broadcast(codebook), Seq("sub_id"))
        .select(col("query_id"), col("sub_id"),
          col("cell_id").cast("int").as("code"),
          dot(col("__qs"), col("centroid")).as("contrib"))
        .localCheckpoint(true))
    // probed cells -> candidate (query, neighbor) pairs over codes
    // only; in residual mode each probe carries its base term
    // dot(q, c_cell) — the coarse half of the decomposition
    // q·x ≈ q·c + q·(x − c)
    val probes0 = assignCells(queries, idCol, vecCol, centroids,
        n = nprobe)
      .select(col(idCol).as("query_id"), col("__v").as("qv"), col("cell"))
    val probes = broadcast(
      (if (!byResidual) probes0.withColumn("base", lit(0.0))
       else probes0
         .join(broadcast(centroids
           .select(col("cell_id").as("cell"), col("centroid"))),
           Seq("cell"))
         .withColumn("base", dot(col("qv"), col("centroid")))
         .drop("centroid"))
        .select(col("query_id"), col("cell"), col("base"))
        .localCheckpoint(true))
    val approx = spark.read.parquet(s"$path/assigned")
      .select(col(idCol).as("neighbor_id"), col("codes"), col("cell"),
        col("vnorm"))
      .join(probes, "cell")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("vnorm"),
        col("base"), posexplode(col("codes")).as(Seq("sub_id", "code")))
      .join(distTable, Seq("query_id", "sub_id", "code"))
      .groupBy(col("query_id"), col("neighbor_id"), col("vnorm"),
        col("base"))
      .agg(sum(col("contrib")).as("approx_dot"))
      // approximate COSINE: the stored norm normalizes the corpus side
      // (the query norm is constant per window — irrelevant to rank)
      .withColumn("approx_cos",
        (col("base") + col("approx_dot")) / col("vnorm"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("approx_cos").desc, col("neighbor_id").asc)
    val candidates = approx.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k.toLong * overfetch)
      .select("query_id", "neighbor_id")
    val reranked = candidates
      .join(spark.read.parquet(s"$path/vectors")
        .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv")),
        Seq("neighbor_id"))
      .join(qOnce, Seq("query_id"))
      .withColumn("cosine", cosineNative(col("qv"), col("cv")))
    val wf = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    reranked.withColumn("rank", row_number().over(wf))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** Embedding-distribution drift between two vector snapshots — the
    * VECTOR face of the drift family (categorical: Drift
    * .categoricalDrift, numeric: numericDrift, text: vocabDrift): per
    * label, did the population's centroid move. Catches a retrained
    * embedder, an upstream preprocessing change, or label-conditional
    * distribution shift that per-scalar drift tests can't see.
    *
    * Per label: ref/cur vector counts, the cosine between the two
    * centroids (scale-invariant, so it is computed on the per-dim SUM
    * vectors — no division before the dot products), and the L2
    * distance between the centroids. Labels present on only one side
    * report NULL geometry (appearing/vanishing labels are themselves
    * the drift signal).
    *
    * Exactness: per-dim sums take the decimal path (order-free); the
    * dim-space reductions (dot, norms, squared diffs) route each
    * double product through decimal(20,6) before summing — the q178
    * correlation-matrix discipline — so no order-dependent double
    * accumulation exists; sqrt is IEEE-correctly-rounded.
    *
    * Shape at 100 TB: two (label, dim) hash aggregates with map-side
    * combine (rows × dim fan-out is the explode, map-side); everything
    * after is (labels × dims)-scale. Counts join broadcast. */
  def embeddingDrift(ref: DataFrame, cur: DataFrame, vecCol: String,
                     labelCol: String): DataFrame = {
    val d20 = "decimal(20,6)"
    def dimSums(df: DataFrame, side: String) = df
      .select(col(labelCol).as("label"), posexplode(col(vecCol)))
      .select(col("label"), col("pos").as("dim"),
        col("col").cast("double").as("x"))
      .groupBy(col("label"), col("dim"))
      .agg(graft.functions.ScalarFns.exactSum(col("x")).as(s"s_$side"))
    def vecCounts(df: DataFrame, side: String) = df
      .groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as(s"n_$side"))
    val nr = vecCounts(ref, "ref")
    val nc = vecCounts(cur, "cur")
    val dims = dimSums(ref, "ref").join(dimSums(cur, "cur"), Seq("label", "dim"))
      .join(graft.operators.Broadcasts.maybeBroadcast(nr), Seq("label"))
      .join(graft.operators.Broadcasts.maybeBroadcast(nc), Seq("label"))
      .withColumn("__diff",
        col("s_ref") / col("n_ref").cast("double")
          - col("s_cur") / col("n_cur").cast("double"))
    // products of SUMS need the wide accumulator: a dim-sum of ~1e7
    // squares to 1e14, which overflows decimal(20,6) to NULL (ANSI
    // off) and silently drops from the sum — decimal(38,6) holds to
    // ~1e32 while keeping the order-free exact accumulation
    val d38 = "decimal(38,6)"
    val geom = dims.groupBy(col("label")).agg(
      sum((col("s_ref") * col("s_cur")).cast(d38)).cast("double").as("__dot"),
      sum((col("s_ref") * col("s_ref")).cast(d38)).cast("double").as("__rr"),
      sum((col("s_cur") * col("s_cur")).cast(d38)).cast("double").as("__cc"),
      sum((col("__diff") * col("__diff")).cast(d20)).cast("double").as("__l2sq"))
    nr.join(nc, Seq("label"), "full_outer")
      .join(geom, Seq("label"), "left")
      .select(col("label"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"),
        when(col("__rr") > 0.0 && col("__cc") > 0.0,
          col("__dot") / (sqrt(col("__rr")) * sqrt(col("__cc"))))
          .as("centroid_cosine"),
        when(col("__l2sq").isNotNull, sqrt(col("__l2sq")))
          .as("centroid_l2"))
  }

  /** Maximal Marginal Relevance selection (Carbonell & Goldstein,
    * SIGIR'98) — pick `m` items that are RELEVANT to one query vector
    * but DIVERSE among themselves: after the relevance-best seed, each
    * step takes `argmax λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s)`.
    * The training-data use is prompt/example selection: top-k alone
    * returns near-duplicates; MMR trades λ of relevance for coverage.
    *
    * Two stages, the
    * [[graft.operators.Profile.isotonicCalibration]]-class split:
    * distributed — relevance cosine over the whole corpus
    * ([[cosineNative]], one pass, no shuffle beyond TakeOrdered) keeps
    * the `candK` best (relevance desc, id asc); driver — the greedy
    * selection over the candK×candK sim grid, metadata-scale by
    * construction (candK ≤ ~10³; the IVF-centroid collect convention).
    * Driver cosines replay [[dot]]'s exact left fold, so every number
    * is oracle-mirrorable (DuckDB `list_dot_product` on DOUBLE[] —
    * the q433 bridge). λ must be dyadic so `1−λ` is exact
    * cross-engine. Ties break (score desc, id asc) at every step.
    *
    * Output: (rank 1..m, vec_id, relevance, max_sim_selected,
    * mmr_score) — the seed row carries NULL max_sim/score (it is
    * chosen on relevance alone). */
  def mmrSelect(corpus: DataFrame, query: DataFrame, idCol: String,
                vecCol: String, candK: Int, m: Int,
                lambda: Double): DataFrame = {
    require(candK >= m && m >= 1, s"need candK >= m >= 1, got $candK/$m")
    require(lambda > 0.0 && lambda <= 1.0, s"lambda in (0,1], got $lambda")
    require((lambda * (1L << 30)).isWhole,
      s"lambda must be dyadic for the cross-engine 1-λ, got $lambda")
    val spark = corpus.sparkSession
    val qRows = query.select(col(idCol).cast("long").as("__qid"),
      col(vecCol).as("__qv"))
    require(qRows.count() == 1, "mmrSelect takes exactly ONE query row")
    val q = broadcast(qRows)
    val cand = corpus
      .select(col(idCol).cast("long").as("vec_id"), col(vecCol).as("__cv"))
      .join(q, col("vec_id") =!= col("__qid"))
      .withColumn("relevance", cosineNative(col("__qv"), col("__cv")))
      .select(col("vec_id"), col("relevance"),
        col("__cv").cast("array<double>").as("__v"))
      .orderBy(col("relevance").desc, col("vec_id").asc)
      .limit(candK)
      .collect() // candK-scale metadata — the documented collect class
    require(cand.length >= m,
      s"only ${cand.length} candidates for m=$m — corpus too small")
    case class C(id: Long, rel: Double, v: Array[Double])
    val cs = cand.map { r =>
      C(r.getLong(0), r.getDouble(1),
        r.getSeq[Double](2).toArray)
    }
    def dotD(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    def cosD(a: Array[Double], b: Array[Double]): Double =
      dotD(a, b) / (math.sqrt(dotD(a, a)) * math.sqrt(dotD(b, b)))
    val beta = 1.0 - lambda
    val selected = scala.collection.mutable.ArrayBuffer.empty[C]
    val rows = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.Row]
    val remaining = scala.collection.mutable.ArrayBuffer(cs.toSeq: _*)
    // seed: best relevance, tie → lowest id (cand is already in that
    // order, but re-derive rather than trust collect order)
    val seed = remaining.reduceLeft { (x, y) =>
      if (y.rel > x.rel || (y.rel == x.rel && y.id < x.id)) y else x
    }
    selected += seed; remaining -= seed
    rows += org.apache.spark.sql.Row(1L, seed.id, seed.rel, null, null)
    var rank = 2L
    while (selected.size < m) {
      val scoredStep = remaining.map { c =>
        val ms = selected.map(s => cosD(c.v, s.v)).max
        (c, ms, lambda * c.rel - beta * ms)
      }
      val (bc, bms, bscore) = scoredStep.reduceLeft { (x, y) =>
        if (y._3 > x._3 || (y._3 == x._3 && y._1.id < x._1.id)) y else x
      }
      selected += bc; remaining -= bc
      rows += org.apache.spark.sql.Row(rank, bc.id, bc.rel, bms, bscore)
      rank += 1L
    }
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("rank", LongType, nullable = false),
      StructField("vec_id", LongType, nullable = false),
      StructField("relevance", DoubleType, nullable = false),
      StructField("max_sim_selected", DoubleType, nullable = true),
      StructField("mmr_score", DoubleType, nullable = true))))
  }
}
