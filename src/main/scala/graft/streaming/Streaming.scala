package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types.StructType

/** Structured-Streaming form of the engine's incremental semantics
  * (SURVEY.md §2.8): the reference's metadata-driven monthly micro-batching
  * maps to a file-source stream; its high-watermark late-data policy (I3 —
  * rows at or before the watermark silently dropped) maps to
  * `withWatermark` + append-mode windowed aggregation.
  */
object Streaming {

  /** Max stored `last_batch_id` fence for the mergeable-partial sinks.
    * None when the table is absent OR exists with zero rows: `max` over
    * empty input is SQL NULL, and the old `.getLong(0)` read would NPE on
    * every subsequent batch — an empty first snapshot (e.g. an empty
    * initial micro-batch) must not wedge the stream forever. */
  private def storedFence(stored: Option[DataFrame]): Option[Long] =
    stored.flatMap { s =>
      val row = s.select(max(col("last_batch_id"))).head
      if (row.isNullAt(0)) None else Some(row.getLong(0))
    }

  /** Max `batch_id` over an append-log table (None if absent or empty)
    * — the append side's OWN replay fence, kept separate from the state
    * table's `last_batch_id` so the monitor sinks can commit the
    * snapshot append BEFORE the state swap: a crash between the two
    * replays the batch with the append fenced off and only the state
    * swap re-applying, so neither effect double-applies. Torn files
    * cannot occur: every log append goes through [[atomicAppendOne]]
    * (write temp, ONE rename), so the fence read never sees a partial
    * footer. */
  private def appendLogFence(spark: org.apache.spark.sql.SparkSession,
                             path: String): Option[Long] =
    graft.sources.Tables.readParquetIfExists(spark, path).flatMap { s =>
      val row = s.select(max(col("batch_id"))).head
      if (row.isNullAt(0)) None else Some(row.getLong(0))
    }

  /** Crash-safe append for the monitor sinks' snapshot/alarm logs
    * (these snapshots are one-row to key-scale, so a single part file
    * is the right physical shape anyway): the batch's rows are written
    * to a sibling temp dir first, then the ONE part file is renamed
    * into the log directory — a single atomic filesystem op. A direct
    * `mode("append")` could die mid-write and leave a torn parquet
    * footer that either wedges every later [[appendLogFence]] read
    * (corrupt-footer throw) or, worse, suppresses the complete
    * re-append forever (fence already sees the batch id). With the
    * rename commit a crash leaves only the temp dir, which the next
    * attempt overwrites. Part names carry Spark's per-write UUID, so
    * renames from different batches never collide. */
  private def atomicAppendOne(df: DataFrame, path: String): Unit = {
    val dst = new org.apache.hadoop.fs.Path(path)
    val tmp = new org.apache.hadoop.fs.Path(dst.getParent,
      s"_tmp_append_${dst.getName}.__graft__")
    df.coalesce(1).write
      .mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(tmp.toString)
    val fs = dst.getFileSystem(
      df.sparkSession.sparkContext.hadoopConfiguration)
    fs.mkdirs(dst)
    fs.listStatus(tmp).iterator
      .filter(_.getPath.getName.startsWith("part-"))
      .foreach { p =>
        val target = new org.apache.hadoop.fs.Path(dst, p.getPath.getName)
        // rename can fail by RETURNING false (cross-FS moves, permission
        // quirks) without throwing; silently continuing would drop the
        // snapshot while the caller's fence still records the batch id —
        // a permanent, unreplayable gap. Loud-failure convention: throw.
        require(fs.rename(p.getPath, target),
          s"atomicAppendOne: rename failed for ${p.getPath} -> $target")
      }
    fs.delete(tmp, true)
  }

  /** The one foreachBatch driver every sink runs on: `body` gets each
    * micro-batch with its checkpointed batch id. */
  private def sink(df: DataFrame, checkpoint: String)(
      body: (DataFrame, Long) => Unit): StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch(body)
      .start()

  /** The fenced state step: the replay protocol every state-table sink
    * commits through. For the state table at `path` and micro-batch
    * `batchId`, in order:
    *
    *  1. read the stored state and test its fence, the max
    *     `last_batch_id` ([[storedFence]]): a stored fence ≥ `batchId`
    *     means the batch already applied, and the step does nothing;
    *  2. build the next state with `next` (given the stored state
    *     without `last_batch_id`, None when there is none) and stamp it
    *     `last_batch_id = batchId`;
    *  3. take ONE eager `localCheckpoint`, so the swap never reads the
    *     directory it replaces;
    *  4. run `beforeSwap(stored, next state)`, both without
    *     `last_batch_id`: the monitors' fenced log append
    *     ([[appendLog]]), [[joinMaintSink]]'s view partition;
    *  5. swap the new state in with
    *     [[graft.incremental.Writers.atomicRewrite]].
    *
    * Replay contract. foreachBatch is at-least-once, and merging counts
    * is not idempotent, so the fence lives INSIDE the state table and
    * swaps atomically with it. Spark's batch ids grow monotonically per
    * checkpoint, so the ≥ test suffices. The before-swap effect must be
    * idempotent on its own: a log append is fenced by the log's own max
    * `batch_id` ([[appendLogFence]]) and committed by one rename
    * ([[atomicAppendOne]]); a view partition is an overwrite. Crash
    * matrix for batch N:
    *
    *  - before the effect commits: nothing of N is on disk, and the
    *    replay runs every step again from the same inputs;
    *  - after the effect, before the swap: the state fence is < N, so
    *    the replay re-applies the state exactly once, while the log
    *    fence (≥ N) skips the append and the view partition is
    *    rewritten identically;
    *  - after the swap, before Spark commits its checkpoint: the state
    *    fence (≥ N) skips the whole step;
    *  - inside the swap (between delete and rename): the temp dir holds
    *    the complete new table, and
    *    [[graft.incremental.Writers.recoverSwap]] finishes the rename
    *    before the stream restarts.
    *
    * `batchId = None` is the same step without the fence, for state
    * whose merge is idempotent by algebra (SCD2 re-derivation, HLL
    * register max, Bloom OR): no fence read, no `last_batch_id` column,
    * and a replayed batch merges to the identical state. */
  private def swapState(spark: SparkSession, path: String,
                        batchId: Option[Long])(
      next: Option[DataFrame] => DataFrame,
      beforeSwap: (Option[DataFrame], DataFrame) => Unit = (_, _) => ())
      : Unit = {
    val stored = graft.sources.Tables.readParquetIfExists(spark, path)
    if (!batchId.exists(b => storedFence(stored).exists(_ >= b))) {
      val prior = stored.map(_.drop("last_batch_id"))
      val state = next(prior)
      val out = batchId.fold(state)(b => state.withColumn("last_batch_id", lit(b)))
        .localCheckpoint(true)
      beforeSwap(prior, out.drop("last_batch_id"))
      graft.incremental.Writers.atomicRewrite(out, path)
    }
  }

  /** The fenced log append, as a [[swapState]] before-swap action:
    * unless the log at `path` already holds batch `batchId`
    * ([[appendLogFence]]), append `rows(next state)` stamped with
    * `batch_id` through [[atomicAppendOne]]. `rows` returning None
    * appends nothing. */
  private def appendLog(path: String, batchId: Long)(
      rows: DataFrame => Option[DataFrame])
      : (Option[DataFrame], DataFrame) => Unit = (_, state) =>
    if (!appendLogFence(state.sparkSession, path).exists(_ >= batchId))
      rows(state).foreach(r =>
        atomicAppendOne(r.withColumn("batch_id", lit(batchId)), path))

  /** The per-batch directory write of the four `delta-<batchId>` sinks:
    * each micro-batch writes `delta(batch)` to its own directory, so a
    * crash-replayed batch overwrites its own delta instead of adding a
    * second one (idempotence by path, no fence). Readers fold the whole
    * directory. */
  private def deltaSink(df: DataFrame, path: String, checkpoint: String)(
      delta: DataFrame => DataFrame): StreamingQuery =
    sink(df, checkpoint) { (batch, batchId) =>
      delta(batch).write.mode(SaveMode.Overwrite).parquet(s"$path/delta-$batchId")
    }

  /** The monitor sinks' merge algebras, exposed as plain BATCH
    * functions: each sink's foreachBatch calls one of these verbatim,
    * and the replay-equivalence queries (q258–q260) fold a SPLIT corpus
    * through the same call chain and oracle-compare the result against
    * a direct one-shot computation — the q217/q237 pattern, closing the
    * monitor sinks' spec-only gap (batch recompute ≡ fenced streaming
    * state). All three are mergeable-partial algebras (SUM over counts,
    * MAX over watermarks): associative + commutative, so ANY batch
    * split reproduces the one-shot answer bit-for-bit. */
  def mergeCategoryCounts(stored: DataFrame, delta: DataFrame): DataFrame =
    stored.unionByName(delta).groupBy(col("category"))
      .agg(sum(col("cnt")).cast("long").as("cnt"))

  def mergeDailyCounts(stored: DataFrame, delta: DataFrame,
                       keyCol: String): DataFrame =
    stored.unionByName(delta).groupBy(col(keyCol), col("day"))
      .agg(sum(col("cnt")).cast("long").as("cnt"))

  def mergeWatermarks(stored: DataFrame, delta: DataFrame,
                      keyCol: String): DataFrame =
    stored.unionByName(delta).groupBy(col(keyCol))
      .agg(max(col("last_ts")).as("last_ts"))

  /** Merge algebra of [[contractMonitorSink]]: per-column (rows seen,
    * nulls seen) partials — plain sums, associative/commutative like
    * the category-count algebra above. Frames are k-row metadata
    * (one row per monitored column). */
  def mergeColumnCounts(stored: DataFrame, delta: DataFrame): DataFrame =
    stored.unionByName(delta).groupBy(col("column_name"))
      .agg(sum(col("n")).cast("long").as("n"),
        sum(col("n_null")).cast("long").as("n_null"))

  /** Merge algebra of [[calibrationMonitorSink]]: per-bin (n, n_pos)
    * reliability partials ([[graft.operators.Profile.calibrationBins]])
    * — plain sums over the ≤nBins-row frame. */
  def mergeBinCounts(stored: DataFrame, delta: DataFrame): DataFrame =
    stored.unionByName(delta).groupBy(col("bin"))
      .agg(sum(col("n")).cast("long").as("n"),
        sum(col("n_pos")).cast("long").as("n_pos"))

  /** Merge algebra of [[survivalMonitorSink]]: (key, duration) cells
    * of (n_events, n_censored) — [[graft.operators.Survival
    * .survivalCells]] partials from disjoint unit slices sum per
    * cell. Associative + commutative, so any fold tree reproduces the
    * one-shot cell table bit-for-bit (q340's replay proof). */
  def mergeSurvivalCells(stored: DataFrame, delta: DataFrame): DataFrame = {
    val keyCol = stored.columns.head // survivalCells puts the key first
    stored.unionByName(delta)
      .groupBy(col(keyCol), col("duration"))
      .agg(sum(col("n_events")).cast("long").as("n_events"),
        sum(col("n_censored")).cast("long").as("n_censored"))
  }

  /** Merge algebra of [[conformalMonitorSink]]: distinct-residual
    * counts — plain sums over the residual lattice (the q304 contract:
    * residuals live on a bounded grid, so the state stays
    * values-scale). */
  def mergeResidualCounts(stored: DataFrame, delta: DataFrame): DataFrame =
    stored.unionByName(delta).groupBy(col("residual"))
      .agg(sum(col("cnt")).cast("long").as("cnt"))

  /** One batch's per-column (n, n_null) counts as a k-row frame — ONE
    * fused aggregate over the batch (k columns over any batch size
    * cost one pass), exploded to rows via a literal struct array so
    * the shape matches [[mergeColumnCounts]]. */
  def columnCountsOf(batch: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "cols required")
    val aggs = count(lit(1)).as("__n") +: cols.map(c =>
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__z_$c"))
    batch.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(cols.map(c => struct(
        lit(c).as("column_name"), col("__n").as("n"),
        col(s"__z_$c").as("n_null"))): _*)).as("__r"))
      .select(col("__r.column_name"), col("__r.n"), col("__r.n_null"))
  }

  /** File-source micro-batch ingest (the streaming analog of the monthly
    * loader): one file per trigger mirrors one month per run. */
  def fileStream(spark: SparkSession, schema: StructType, dir: String,
                 maxFilesPerTrigger: Int = 1): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dir)

  /** Tumbling-window aggregate with event-time watermark: counts + value
    * sum per (window, key). Late rows beyond `lateness` are dropped —
    * exactly the reference's I3 high-watermark policy. */
  def windowedCounts(events: DataFrame, tsCol: String, keyCol: String,
                     windowLen: String, lateness: String): DataFrame =
    events
      .withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), windowLen), col(keyCol))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("window_start"), col(keyCol),
        col("n"), col("total_value"))

  /** Session state for [[sessionize]]. */
  case class SessionAgg(userId: Long, nEvents: Long, totalValue: Double, closed: Boolean)
  case class Ev(user_id: Long, value: Double)

  /** Watermarked stream-stream interval join (the click-attribution
    * shape): right events join left events on key when they occur within
    * `within` AFTER the left event. Watermarks on both sides bound the
    * join state — without them state grows forever; with them Spark drops
    * buffered rows once they can no longer match (the same late-data
    * policy as I3). `joinType` "inner" emits matches as they arrive;
    * "leftOuter" additionally emits unmatched left rows (null right side)
    * once the watermark proves no match can still come. Append mode. */
  def streamIntervalJoin(left: DataFrame, right: DataFrame,
                         leftKey: String, rightKey: String,
                         leftTs: String, rightTs: String,
                         within: String, lateness: String,
                         joinType: String = "inner"): DataFrame =
    left.withWatermark(leftTs, lateness)
      .join(right.withWatermark(rightTs, lateness),
        expr(s"$leftKey = $rightKey AND " +
          s"$rightTs >= $leftTs AND $rightTs <= $leftTs + INTERVAL $within"),
        joinType)

  /** foreachBatch sink through the engine's month-scoped materialization:
    * each micro-batch merges into the month-partitioned target with the
    * SAME keyed delete+insert the batch pipeline uses
    * ([[graft.incremental.Writers.monthScopedDeleteInsert]]) — streaming
    * and batch share one write path, so a micro-batch load is idempotent
    * per key and touches only its affected month partitions. */
  def monthScopedSink(df: DataFrame, keys: Seq[String], tsCol: String,
                      path: String, checkpoint: String): StreamingQuery =
    sink(df, checkpoint) { (batch, _) =>
      graft.incremental.Writers.monthScopedDeleteInsert(
        graft.sources.Tables.readParquetIfExists(batch.sparkSession, path),
        batch, keys, tsCol, path)
    }

  /** Continuous corpus admission: each micro-batch of documents is
    * near-dup-deduped against the persisted corpus signature index
    * ([[graft.llmdata.DedupOps.signatureWrite]] seeds it — an empty seed
    * corpus is valid), admitted rows are appended to `corpusPath`, and
    * their signatures are appended to the index so the NEXT batch dedups
    * against everything admitted so far — the streaming composition of
    * `incrementalDedupIndexed` + `signatureAppend`.
    *
    * Scale shape: per-batch cost is |batch|×bands signature rows probing
    * the stored bucket index — independent of corpus size, which is the
    * property that makes continuous admission viable at 100 TB. Exactly-
    * once caveat: the appends are not transactional with the streaming
    * checkpoint; a crash between them can re-admit a batch on replay
    * (dedup is idempotent for exact replays at the corpus level only if
    * ids repeat — document ids make replays detectable downstream). */
  def dedupAdmissionSink(df: DataFrame, idCol: String, textCol: String,
                         indexPath: String, corpusPath: String,
                         checkpoint: String, shingleSize: Int = 3,
                         bands: Int = 4, rows: Int = 4,
                         jaccardThreshold: Double = 0.7): StreamingQuery =
    sink(df, checkpoint) { (batch, _) =>
      admit(batch, idCol, textCol, indexPath, corpusPath, shingleSize, bands,
        rows, jaccardThreshold)
    }

  /** The admit-and-append body of [[dedupAdmissionSink]] and
    * [[curationIngestSink]]: near-dup-dedup `docs` against the stored
    * signature index, then append the admitted rows to the corpus and
    * their signatures to the index. */
  private def admit(docs: DataFrame, idCol: String, textCol: String,
                    indexPath: String, corpusPath: String, shingleSize: Int,
                    bands: Int, rows: Int, jaccardThreshold: Double): Unit = {
    val admitted = graft.llmdata.DedupOps.incrementalDedupIndexed(
      docs.sparkSession, indexPath, docs, idCol, textCol,
      shingleSize, bands, rows, jaccardThreshold)
      .localCheckpoint(true)
    if (!admitted.isEmpty) {
      admitted.write.mode("append").parquet(corpusPath)
      graft.llmdata.DedupOps.signatureAppend(
        admitted, idCol, textCol, indexPath, shingleSize, bands, rows)
    }
  }

  /** End-to-end streaming curation: the full ingestion pipeline a
    * training corpus actually runs, composed in admission order inside
    * one foreachBatch —
    *
    *   1. quality gate ([[graft.llmdata.TextAnalysis.qualityScore]] ≥
    *      `minQuality`) — cheapest first, pure map stage;
    *   2. batch-internal exact dedup (min-id per normalized
    *      fingerprint — a batch must not admit its own copies);
    *   3. corpus-level exact dedup: anti-join against the STORED
    *      corpus' fingerprint column (only 32-char fingerprints
    *      shuffle; the corpus text is never re-read);
    *   4. near-dup admission against the persisted LSH signature index
    *      + [[graft.llmdata.DedupOps.signatureAppend]] + corpus append
    *      (the [[dedupAdmissionSink]] core).
    *
    * The admitted corpus at `corpusPath` carries a `fingerprint` column
    * so step 3 of every FUTURE batch is a fingerprint-only anti-join —
    * the at-scale contract: per-batch cost depends on batch size and
    * index size, never on corpus text volume.
    *
    * Exactly-once caveat as [[dedupAdmissionSink]]: appends are not
    * transactional with the checkpoint; a replayed batch re-probes the
    * index it already appended to, so its rows arrive as exact dups and
    * are rejected by step 3 — replay amplification is bounded by the
    * one batch that crashed mid-append. */
  def curationIngestSink(df: DataFrame, idCol: String, textCol: String,
                         indexPath: String, corpusPath: String,
                         checkpoint: String, minQuality: Double = 0.3,
                         shingleSize: Int = 3, bands: Int = 4,
                         rows: Int = 4, jaccardThreshold: Double = 0.7)
      : StreamingQuery =
    sink(df, checkpoint) { (batch, _) =>
      val keep = batch.columns.map(col)
      val gated = graft.llmdata.TextAnalysis.qualityScore(batch, textCol)
        .filter(col("quality_score") >= minQuality)
        .select(keep: _*)
      val fp = gated.withColumn("fingerprint",
        graft.llmdata.TextAnalysis.fingerprint(col(textCol)))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("fingerprint")).orderBy(col(idCol))
      val uniq = fp.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
      val fresh = graft.sources.Tables
        .readParquetIfExists(batch.sparkSession, corpusPath)
        .fold(uniq)(c =>
          uniq.join(c.select(col("fingerprint")), Seq("fingerprint"), "left_anti"))
        .localCheckpoint(true)
      admit(fresh, idCol, textCol, indexPath, corpusPath, shingleSize, bands,
        rows, jaccardThreshold)
    }

  /** Continuous ANN-index maintenance — the vector twin of
    * [[dedupAdmissionSink]]: each micro-batch of embeddings is assigned
    * to the EXISTING centroids of a materialized IVF index
    * ([[graft.llmdata.Similarity.ivfIndexWrite]] must have built it; a
    * centroid fit needs a seed corpus, so unlike the LSH index there is
    * no empty seed) and appended to the affected cell partitions via
    * [[graft.llmdata.Similarity.ivfIndexAppend]] — searches see new
    * vectors as soon as the batch commits, without refit or rescan.
    *
    * Scale shape: per-batch cost is batch-sized (one broadcast-centroid
    * map stage + a partitioned append), independent of the indexed
    * corpus. Staleness contract inherited from ivfIndexAppend: centroids
    * don't move — schedule a rebuild when appends dominate the fitted
    * corpus. Exactly-once caveat as [[dedupAdmissionSink]]: the append
    * is not transactional with the streaming checkpoint, so a crash
    * between them can re-append a batch on replay (vector ids make
    * replays detectable; a periodic compaction can dedup by id). */
  def ivfAppendSink(df: DataFrame, idCol: String, vecCol: String,
                    indexPath: String, checkpoint: String): StreamingQuery =
    sink(df, checkpoint) { (batch, _) =>
      if (!batch.isEmpty)
        graft.llmdata.Similarity.ivfIndexAppend(
          batch.sparkSession, indexPath, batch, idCol, vecCol)
    }

  /** Streaming SCD2 maintenance: each micro-batch of dimension updates
    * (keyCol, attrCols..., tsCol) merges into the parquet version-history
    * snapshot at `snapshotPath` via [[graft.incremental.Scd2.merge]] —
    * change detection, version closing, and out-of-order re-sequencing
    * per key — then the snapshot is replaced atomically (write to an
    * underscore-prefixed temp dir Spark ignores, then directory swap, the
    * engine's standard crash-safe rewrite).
    *
    * Scale shape: per-batch cost is one key-shuffle of
    * (snapshot ∪ batch) — dimension-sized, not fact-sized. Because merge
    * is idempotent and order-insensitive (Scd2Spec), a crash-replayed
    * batch converges to the same snapshot — the atomic swap means readers
    * see either the old or the new complete history, never a partial.
    */
  def scd2Sink(df: DataFrame, keyCol: String, attrCols: Seq[String],
               tsCol: String, snapshotPath: String, checkpoint: String)
      : StreamingQuery =
    sink(df, checkpoint) { (batch, _) =>
      // swapState probes the snapshot through the Hadoop FS layer
      // (readParquetIfExists), not java.io.File: on HDFS/S3 a local-file
      // probe is always false, and "always first batch" + atomicRewrite
      // would silently replace the accumulated history with one batch.
      swapState(batch.sparkSession, snapshotPath, None)(_.fold(
        graft.incremental.Scd2.resequence(batch, keyCol, attrCols, tsCol))(
        graft.incremental.Scd2.merge(_, batch, keyCol, attrCols, tsCol)))
    }

  /** Streaming incremental aggregate maintenance — the streaming twin of
    * `operators.AggMerge` (q133): each micro-batch is aggregated into
    * mergeable daily partials (COUNT/SUM-as-decimal/MIN/MAX) and merged
    * into the persisted partial table with an atomic swap. Because the
    * partials are algebraic and decimal-exact, the stored table equals
    * the direct aggregate of every event ever seen, REGARDLESS of how
    * the stream was batched — the spec proves two-batch ≡ one-shot.
    *
    * EXACTLY-ONCE under replay: merging SUM/COUNT partials is NOT
    * idempotent, so the partials commit through the fenced state step
    * ([[swapState]]): the last-applied `batchId` rides in the table as
    * `last_batch_id`, and a batch id ≤ the stored one is a no-op
    * instead of a double count.
    *
    * At 100 TB: per batch, one delta-sized shuffle plus a |days|-row
    * merge — history is never rescanned. Readers call
    * `AggMerge.finish(spark.read.parquet(path))` (finish drops the
    * bookkeeping column). */
  def aggMergeSink(df: DataFrame, tsCol: String, valCol: String,
                   path: String, checkpoint: String): StreamingQuery =
    sink(df, checkpoint) { (batch, batchId) =>
      swapState(batch.sparkSession, path, Some(batchId)) { stored =>
        val delta = graft.operators.AggMerge.dailyPartial(batch, tsCol, valCol)
        stored.fold(delta)(s => graft.operators.AggMerge.merge(Seq(s, delta)))
      }
    }

  /** Streaming CDC maintenance — the streaming driver for
    * `operators.AggMerge.applyCdc` (q164): the stream carries CHANGE
    * rows (`opCol` ∈ insert/delete, each with the full row), and every
    * micro-batch maintains BOTH stores:
    *
    *  1. the daily-partial table at `partialsPath` via applyCdc —
    *     count/sum retract algebraically, extreme-touching days rebuild
    *     from the STORED fact snapshot (the pre-batch state, read
    *     before step 2 touches it);
    *  2. the fact snapshot at `factPath` — stored minus the batch's
    *     deletes (anti-join on `idCol`) plus its inserts.
    *
    * Replay safety: each table commits through its own fenced state
    * step ([[swapState]]). The two swaps are NOT mutually atomic;
    * order fixes the crash contract — partials first (they need the
    * pre-CDC base), so a crash between swaps replays the batch with
    * the partials fenced off and only the fact store applying. Either
    * way each table applies each batch exactly once.
    *
    * At 100 TB: partial maintenance is delta-sized (applyCdc's
    * contract); the fact swap here is a whole-snapshot rewrite —
    * production deployments partition `factPath` by day and rewrite
    * only affected partitions (`Writers.monthScopedDeleteInsert` is
    * that shape); the sink's semantics are unchanged by that swap. */
  def cdcMaintSink(cdc: DataFrame, idCol: String, tsCol: String,
                   valCol: String, opCol: String,
                   factPath: String, partialsPath: String,
                   checkpoint: String): StreamingQuery =
    sink(cdc, checkpoint) { (batch, batchId) =>
      val spark = batch.sparkSession
      val cols = Seq(idCol, tsCol, valCol).map(col)
      val none = batch.filter(lit(false))
      // the pre-batch fact snapshot, read before step 2 replaces it
      val base = graft.sources.Tables.readParquetIfExists(spark, factPath)
        .map(_.drop("last_batch_id")).getOrElse(none.select(cols: _*))
      swapState(spark, partialsPath, Some(batchId)) { prev =>
        graft.operators.AggMerge.applyCdc(
          prev.getOrElse(graft.operators.AggMerge.dailyPartial(none, tsCol, valCol)),
          base, batch, idCol, tsCol, valCol, opCol)
      }
      swapState(spark, factPath, Some(batchId)) { _ =>
        base.join(batch.filter(col(opCol) === "delete").select(col(idCol)),
            Seq(idCol), "left_anti")
          .unionByName(batch.filter(col(opCol) === "insert").select(cols: _*))
      }
    }

  /** Streaming daily-distinct-count maintenance — [[aggMergeSink]]'s
    * sketch sibling: each micro-batch's keys are HLL-sketched per day
    * ([[graft.operators.AggMerge.dailyDistinctPartial]]) and UNIONED
    * into the persisted sketch table with an atomic swap. Unlike the
    * SUM/COUNT partials, NO batch-id fence is needed: HLL union is
    * register-wise max, so a crash-replayed batch merges to the
    * identical sketch (idempotence by algebra, not bookkeeping).
    * Readers call `AggMerge.finishDistinct(spark.read.parquet(path))`.
    * Per-batch cost: one delta-sized shuffle + a |days|-row union. */
  def distinctMergeSink(df: DataFrame, tsCol: String, keyCol: String,
                        path: String, checkpoint: String,
                        lgConfigK: Int = 12): StreamingQuery =
    sink(df, checkpoint) { (batch, _) =>
      swapState(batch.sparkSession, path, None) { stored =>
        val delta = graft.operators.AggMerge
          .dailyDistinctPartial(batch, tsCol, keyCol, lgConfigK)
        stored.fold(delta)(s => graft.operators.AggMerge.mergeDistinct(Seq(s, delta)))
      }
    }

  /** Streaming exact-quantile maintenance — the quantile member of the
    * mergeable-partial sink family ([[aggMergeSink]] SUM/COUNT,
    * [[distinctMergeSink]] HLL): each micro-batch's grouped value→count
    * map ([[graft.operators.Profile.quantilePartialBy]]) is merged into
    * the persisted map with an atomic swap, so exact per-group quantiles
    * ([[graft.operators.Profile.quantilesFromCountsBy]]) are readable at
    * any moment without rescanning history. Count merge is NOT
    * idempotent, so the sink carries [[aggMergeSink]]'s batch-id fence
    * (skip batch ids ≤ the stored one — replay after a successful swap
    * but failed checkpoint commit is a no-op, not a double count).
    *
    * Same bounded-value-domain regime as the batch partials; per-batch
    * cost is one delta-sized shuffle plus a (groups × values)-row merge.
    * Readers: `Profile.quantilesFromCountsBy(
    *   spark.read.parquet(path).drop("last_batch_id"), qs)`. */
  def quantilePartialSink(df: DataFrame, groupCol: String, valueCol: String,
                          path: String, checkpoint: String): StreamingQuery =
    sink(df, checkpoint) { (batch, batchId) =>
      swapState(batch.sparkSession, path, Some(batchId)) { stored =>
        val delta = graft.operators.Profile
          .quantilePartialBy(batch, groupCol, valueCol)
        stored.fold(delta)(s =>
          graft.operators.Profile.mergeQuantilePartialsBy(Seq(s, delta)))
      }
    }

  /** Streaming heavy-hitter maintenance — the Misra-Gries member of the
    * mergeable-partials sink family (SUM/COUNT: aggMergeSink; distinct:
    * distinctMergeSink; quantiles: quantilePartialSink): each
    * micro-batch folds into per-day MG summaries and merges into the
    * stored summary table (pointwise sum + re-compression — the
    * mergeable-summaries bound holds for any merge tree, so streaming
    * batching cannot worsen the error). MG merge is NOT idempotent, so
    * the aggMergeSink batch-id fence applies. Within the exactness
    * regime (capacity > distinct items) the stored weights ARE exact
    * counts, the q149 contract. Readers:
    * `MisraGries.finishTopK(spark.read.parquet(path)
    *   .drop("last_batch_id"), k)`. */
  def heavyHitterSink(df: DataFrame, tsCol: String, itemCol: String,
                      capacity: Int, path: String, checkpoint: String)
      : StreamingQuery =
    sink(df, checkpoint) { (batch, batchId) =>
      swapState(batch.sparkSession, path, Some(batchId)) { stored =>
        val delta = graft.functions.MisraGries
          .dailyTopKPartial(batch, tsCol, itemCol, capacity)
        stored.fold(delta)(s =>
          graft.functions.MisraGries.mergeTopK(Seq(s, delta), capacity))
      }
    }

  /** Streaming incremental JOIN-view maintenance — the
    * [[graft.incremental.ViewMaint]] delta rule driven by foreachBatch:
    * one interleaved stream carries BOTH sides' inserts (`sideCol` ∈
    * 'a'/'b'; each row populates its own side's payload columns), and
    * every micro-batch appends exactly the view rows its inserts
    * create — `ΔA ⋈ (B ∪ ΔB) ∪ A_old ⋈ ΔB` — without re-joining the
    * snapshots.
    *
    * Storage contract: both snapshots live in ONE table at `snapPath`
    * (side column; single fence, single atomic swap — two separately
    * fenced side tables could crash-split a batch). The view is
    * APPEND-ONLY, one partition directory per batch id
    * (`viewPath/batch_id=N`), written BEFORE the snapshot swap:
    * a per-batch partition overwrite is idempotent against the
    * pre-batch snapshots, so the crash matrix closes — crash before
    * the swap replays both steps from identical inputs (identical
    * partition rewrite); crash after the swap hits the fence, skipping
    * both, and the partition is already on disk. Readers
    * `spark.read.parquet(viewPath)` and drop `batch_id`.
    *
    * Insert-only (the append-dominant event/fact case); deletions need
    * the keyed-retraction sibling (cdcMaintSink's algebra applied to
    * join views) — documented out of scope. A batch producing ZERO view
    * rows writes an empty partition directory; readers need at least
    * one nonempty batch before `read.parquet(viewPath)` can infer the
    * schema (standard parquet-directory semantics). */
  def joinMaintSink(df: DataFrame, sideCol: String, keys: Seq[String],
                    aCols: Seq[String], bCols: Seq[String],
                    snapPath: String, viewPath: String, checkpoint: String)
      : StreamingQuery =
    sink(df, checkpoint) { (batch, batchId) =>
      val all = (Seq(sideCol) ++ keys ++ aCols ++ bCols).map(col)
      def sideOf(src: DataFrame, side: String, cols: Seq[String]) =
        src.filter(col(sideCol) === side).select((keys ++ cols).map(col): _*)
      swapState(batch.sparkSession, snapPath, Some(batchId))(
        _.getOrElse(batch.filter(lit(false)).select(all: _*))
          .unionByName(batch.select(all: _*)),
        // the view delta partition: an idempotent overwrite computed
        // from the pre-batch snapshots, written before the swap
        (stored, _) => {
          val old = stored.getOrElse(batch.filter(lit(false)))
          graft.incremental.ViewMaint.joinDelta(
              sideOf(old, "a", aCols), sideOf(old, "b", bCols),
              sideOf(batch, "a", aCols), sideOf(batch, "b", bCols), keys)
            .write.mode("overwrite").parquet(s"$viewPath/batch_id=$batchId")
        })
    }

  /** Streaming distribution-drift monitor: maintain the stream's
    * cumulative per-category counts (a mergeable COUNT partial with the
    * aggMergeSink batch-id fence) and, each applied batch, append one
    * drift snapshot — the total-variation distance of the cumulative
    * mix against a PINNED reference count table
    * ([[graft.checks.Drift.totalVariationFromCounts]]). The streaming
    * form of the q192/q194 gates: upstream mix regressions surface
    * within one micro-batch of arriving, without ever rescanning
    * history (per batch: one delta-sized aggregate + a
    * categories-sized merge + a categories-sized TV evaluation).
    *
    * Replay contract: the fenced state step with a fenced log append
    * ([[swapState]], [[appendLog]]). */
  def driftMonitorSink(df: DataFrame, catCol: String, refCounts: DataFrame,
                       countsPath: String, snapshotsPath: String,
                       checkpoint: String): StreamingQuery =
    sink(df, checkpoint) { (batch, batchId) =>
      swapState(batch.sparkSession, countsPath, Some(batchId))(
        stored => {
          val delta = batch.groupBy(col(catCol).as("category"))
            .agg(count(lit(1)).as("cnt"))
          stored.fold(delta)(mergeCategoryCounts(_, delta))
        },
        appendLog(snapshotsPath, batchId)(counts => // one-row snapshot
          Some(graft.checks.Drift.totalVariationFromCounts(refCounts, counts))))
    }

  /** Streaming CUSUM drift alarms: per micro-batch, merge the batch's
    * (key, day) counts into a stored daily table (mergeable-partials
    * algebra, batch-id replay fence), then re-derive the closed-form
    * CUSUM ([[graft.operators.Timeseries.cusumFromDaily]]) over the
    * merged table and append the batch's alarm snapshot. Re-deriving is
    * the honest scale choice: the daily table is days×keys-scale, so a
    * full recompute per batch costs less than any carried window state,
    * and late rows for PAST days (which would invalidate carried
    * prefix sums) are handled for free — the merge just updates the day
    * and the next derive sees it.
    *
    * Replay contract: the fenced state step with a fenced log append
    * ([[swapState]], [[appendLog]]). Alarm snapshots carry `batch_id`;
    * readers take the latest. */
  def cusumSink(df: DataFrame, keyCol: String, tsCol: String,
                slackMicro: Long, hMicro: Long,
                countsPath: String, alarmsPath: String, checkpoint: String)
      : StreamingQuery =
    sink(df, checkpoint) { (batch, batchId) =>
      swapState(batch.sparkSession, countsPath, Some(batchId))(
        stored => {
          val delta = batch
            .groupBy(col(keyCol), to_date(col(tsCol)).as("day"))
            .agg(count(lit(1)).as("cnt"))
          stored.fold(delta)(mergeDailyCounts(_, delta, keyCol))
        },
        appendLog(alarmsPath, batchId)(counts => Some( // days-scale snapshot
          graft.operators.Timeseries
            .cusumFromDaily(counts, keyCol, slackMicro, hMicro)
            .filter(col("alarm_up") || col("alarm_down")))))
    }

  /** Streaming freshness monitor: per micro-batch, merge each key's
    * MAX event timestamp into a stored watermark table (max is the
    * simplest mergeable algebra; batch-id replay fence), then append a
    * lag snapshot judged against the BATCH's own max timestamp as the
    * asOf instant — so a key that stops emitting shows a GROWING lag
    * with every batch that advances the clock, which is exactly the
    * succeeding-but-empty-load failure `checks.Freshness` catches in
    * batch. Completes the monitor-sink triangle (distribution drift,
    * CUSUM level drift, freshness lag).
    *
    * Replay contract: the fenced state step with a fenced log append
    * ([[swapState]], [[appendLog]]). Lag is exact integer seconds
    * (pinned-instant arithmetic, never wall clock — replays stay
    * deterministic). */
  def freshnessSink(df: DataFrame, keyCol: String, tsCol: String,
                    maxLagSeconds: Long, marksPath: String,
                    snapshotsPath: String, checkpoint: String)
      : StreamingQuery =
    sink(df, checkpoint) { (batch, batchId) =>
      swapState(batch.sparkSession, marksPath, Some(batchId))(
        stored => {
          val delta = batch.groupBy(col(keyCol))
            .agg(max(col(tsCol)).as("last_ts"))
          stored.fold(delta)(mergeWatermarks(_, delta, keyCol))
        },
        // key-scale snapshot; none while every watermark is NULL
        appendLog(snapshotsPath, batchId)(marks =>
          Option(marks.agg(max(col("last_ts"))).head.getTimestamp(0)).map {
            asOf =>
              marks.withColumn("__lag_us",
                  unix_micros(lit(asOf).cast("timestamp"))
                    - unix_micros(col("last_ts").cast("timestamp")))
                .withColumn("lag_seconds", expr("__lag_us div 1000000"))
                .drop("__lag_us")
                .withColumn("is_stale", col("lag_seconds") > maxLagSeconds)
          }))
    }

  /** Streaming data-CONTRACT monitor — the fourth monitor sink beside
    * drift (mix), CUSUM (level), and freshness (lag): maintain
    * cumulative per-column (rows, nulls) counts ([[columnCountsOf]] /
    * [[mergeColumnCounts]] — a mergeable-partial algebra with the
    * aggMergeSink batch-id fence) and, each applied batch, append one
    * contract snapshot: the cumulative null fraction per column
    * against a PINNED reference profile `refStats`
    * (column_name, n_ref, n_null_ref — e.g. last month's accepted
    * load), with `null_frac_delta` the single-division drift readout.
    * Catches the upstream-contract failure class
    * [[graft.operators.Diff.columnDriftReport]] audits in batch — a
    * source silently starting to emit NULLs — within one micro-batch.
    *
    * Replay contract: the fenced state step with a fenced log append
    * ([[swapState]], [[appendLog]]). */
  def contractMonitorSink(df: DataFrame, cols: Seq[String],
                          refStats: DataFrame, countsPath: String,
                          snapshotsPath: String, checkpoint: String)
      : StreamingQuery =
    sink(df, checkpoint) { (batch, batchId) =>
      swapState(batch.sparkSession, countsPath, Some(batchId))(
        stored => {
          val delta = columnCountsOf(batch, cols)
          stored.fold(delta)(mergeColumnCounts(_, delta))
        },
        appendLog(snapshotsPath, batchId)(counts => Some( // k-row snapshot
          counts.join(refStats, Seq("column_name"), "left")
            .withColumn("null_frac",
              when(col("n") > 0,
                col("n_null").cast("double") / col("n").cast("double")))
            .withColumn("null_frac_ref",
              when(col("n_ref") > 0, col("n_null_ref").cast("double")
                / col("n_ref").cast("double")))
            .withColumn("null_frac_delta",
              col("null_frac") - col("null_frac_ref")))))
    }

  /** Streaming model-CALIBRATION monitor — the fifth monitor sink
    * beside drift (mix), CUSUM (level), freshness (lag), and contract
    * (nulls): maintain cumulative per-bin reliability counts
    * ([[graft.operators.Profile.calibrationBins]] /
    * [[mergeBinCounts]] — a mergeable COUNT partial with the
    * aggMergeSink batch-id fence) and, each applied batch, append one
    * calibration snapshot: the exact midpoint-convention ECE
    * ([[graft.operators.Profile.eceFromBins]]) of the cumulative
    * stream. The streaming form of the q306 gate — a model whose
    * score distribution decays against outcomes surfaces within one
    * micro-batch, with per-batch cost one delta-sized aggregate + an
    * nBins-sized merge + an nBins-sized finish (never a history
    * rescan).
    *
    * Replay contract: the fenced state step with a fenced log append
    * ([[swapState]], [[appendLog]]). */
  def calibrationMonitorSink(df: DataFrame, scoreCol: String,
                             labelCol: String, nBins: Int,
                             binsPath: String, snapshotsPath: String,
                             checkpoint: String): StreamingQuery =
    sink(df, checkpoint) { (batch, batchId) =>
      swapState(batch.sparkSession, binsPath, Some(batchId))(
        stored => {
          val delta = graft.operators.Profile
            .calibrationBins(batch, scoreCol, labelCol, nBins)
          stored.fold(delta)(mergeBinCounts(_, delta))
        },
        appendLog(snapshotsPath, batchId)(bins => // one-row snapshot
          Some(graft.operators.Profile.eceFromBins(bins, nBins))))
    }

  /** Streaming CONFORMAL-INTERVAL monitor — the sixth monitor sink:
    * maintain cumulative distinct-residual counts
    * ([[mergeResidualCounts]], the q304 grid contract keeps the state
    * values-scale) and, each applied batch, append one conformal
    * snapshot: the exact rational-rank calibration quantile
    * ([[graft.operators.Eval.conformalQuantileFromCounts]]) of the
    * cumulative residual stream — the live `q̂` behind a
    * `[pred − q̂, pred + q̂]` prediction band, re-derived from the
    * merged lattice each batch (late residuals just merge in; no
    * carried window state to invalidate).
    *
    * Replay contract: the fenced state step with a fenced log append
    * ([[swapState]], [[appendLog]]). */
  def conformalMonitorSink(df: DataFrame, residualCol: String,
                           alphaNum: Int, alphaDen: Int,
                           countsPath: String, snapshotsPath: String,
                           checkpoint: String): StreamingQuery =
    sink(df, checkpoint) { (batch, batchId) =>
      swapState(batch.sparkSession, countsPath, Some(batchId))(
        stored => {
          val delta = batch.filter(col(residualCol).isNotNull)
            .groupBy(col(residualCol).as("residual"))
            .agg(count(lit(1)).as("cnt"))
          stored.fold(delta)(mergeResidualCounts(_, delta))
        },
        appendLog(snapshotsPath, batchId)(counts => // one-row snapshot
          Some(graft.operators.Eval
            .conformalQuantileFromCounts(counts, alphaNum, alphaDen))))
    }

  /** Streaming SURVIVAL-drift monitor — the seventh monitor sink
    * (drift: mix; CUSUM: level; freshness: lag; contract: nulls;
    * calibration: reliability; conformal: interval width; this:
    * churn curves): maintain cumulative per-(key, duration) survival
    * cells ([[graft.operators.Survival.survivalCells]] /
    * [[mergeSurvivalCells]] — a mergeable COUNT partial with the
    * aggMergeSink batch-id fence) and, each applied batch, append the
    * Kaplan–Meier life table of the cumulative unit stream
    * ([[graft.operators.Survival.kaplanMeierFromCells]]) stamped with
    * the batch id — live churn curves per cohort, re-derived from the
    * merged cells each batch (late units just merge in). The snapshot
    * is key × distinct-durations rows — VALUES-scale, not unit-scale
    * (the KM life table's own shape), the one monitor whose snapshot
    * is a curve rather than one row.
    *
    * Input rows are UNITS (one per subject: key, duration, event flag)
    * — dedup/last-observation upstream; a subject spanning batches
    * must arrive exactly once, the standard survival-table contract.
    *
    * Replay contract: the fenced state step with a fenced log append
    * ([[swapState]], [[appendLog]]). */
  def survivalMonitorSink(df: DataFrame, keyCol: String,
                          durationCol: String, eventCol: String,
                          cellsPath: String, snapshotsPath: String,
                          checkpoint: String): StreamingQuery =
    sink(df, checkpoint) { (batch, batchId) =>
      swapState(batch.sparkSession, cellsPath, Some(batchId))(
        stored => {
          val delta = graft.operators.Survival
            .survivalCells(batch, keyCol, durationCol, eventCol)
          stored.fold(delta)(mergeSurvivalCells(_, delta))
        },
        appendLog(snapshotsPath, batchId)(cells =>
          Some(graft.operators.Survival.kaplanMeierFromCells(cells, keyCol))))
    }

  /** Streaming Count-Min frequency monitor — the eighth monitor sink
    * (and the unbounded-domain sibling of [[heavyHitterSink]]'s
    * Misra-Gries list): maintain the cumulative d×w CM grid
    * ([[graft.functions.CountMin.partial]]/[[graft.functions.CountMin
    * .merge]] — a mergeable COUNT partial with the aggMergeSink
    * batch-id fence) and, each applied batch, append one snapshot of
    * point estimates for the fixed `probes` watch-list
    * ([[graft.functions.CountMin.estimate]] over the cumulative
    * grid, stamped with the batch id) — live "how often has X
    * occurred so far" for a probe set chosen up front, with state
    * bounded at d·w cells no matter how many distinct items stream
    * by.
    *
    * Replay contract: the fenced state step with a fenced log append
    * ([[swapState]], [[appendLog]]). */
  def cmSketchSink(df: DataFrame, itemCol: String, depth: Int, width: Int,
                   probes: Seq[String], salt: String,
                   gridPath: String, snapshotsPath: String,
                   checkpoint: String): StreamingQuery =
    sink(df, checkpoint) { (batch, batchId) =>
      val spark = batch.sparkSession
      import spark.implicits._
      swapState(spark, gridPath, Some(batchId))(
        stored => {
          val delta = graft.functions.CountMin
            .partial(batch, itemCol, depth, width, salt)
          stored.fold(delta)(s => graft.functions.CountMin.merge(Seq(s, delta)))
        },
        appendLog(snapshotsPath, batchId)(grid => // probes-scale snapshot
          Some(graft.functions.CountMin.estimate(grid, probes.toDF("item"),
            "item", depth, width, salt))))
    }

  /** Streaming Bloom-membership maintenance (9th monitor sink) — the
    * MEMBERSHIP member of the mergeable-sketch family (HLL distinct:
    * [[distinctMergeSink]]; CM frequency: [[cmSketchSink]]): each
    * micro-batch's items are hashed into a
    * [[graft.functions.Bloom.partial]] word table and bitwise-OR'd
    * into the persisted filter with an atomic swap. Like the HLL sink
    * and UNLIKE the COUNT-partial sinks, NO batch-id fence is needed:
    * OR is idempotent, so a crash-replayed batch re-sets the identical
    * bits — idempotence by algebra, not bookkeeping.
    *
    * The read side is [[graft.functions.Bloom.contains]]: "was this
    * doc-id / URL / fingerprint ever seen?" with zero false negatives
    * and the (mBits, k)-tuned false-positive rate — the
    * decontamination / dedup-admission prefilter whose state is
    * bounded at mBits/64 words over an unbounded item domain.
    * Per-batch cost: one delta-sized k-way explode + a words-scale
    * union. */
  def bloomMembershipSink(df: DataFrame, itemCol: String, mBits: Long,
                          k: Int, salt: String, path: String,
                          checkpoint: String): StreamingQuery =
    sink(df, checkpoint) { (batch, _) =>
      swapState(batch.sparkSession, path, None) { stored =>
        val delta = graft.functions.Bloom.partial(batch, itemCol, mBits, k, salt)
        stored.fold(delta)(s => graft.functions.Bloom.merge(Seq(s, delta)))
      }
    }

  /** Streaming lake ingest WITH manifest upkeep — the write path that
    * keeps [[graft.sources.Tables.readPrunedManifest]] honest on a
    * growing lake: each micro-batch lands in its own batch-scoped
    * subdirectory (`batch-<id>` — deterministic path, so a
    * crash-replayed batch OVERWRITES its own directory instead of
    * appending duplicates: idempotence by path, the monthOverwrite
    * rule, no fence table needed), then
    * [[graft.sources.Tables.refreshManifest]] folds ONLY the new
    * files' footers into the manifest (a replay's rewritten files
    * appear as new + vanished rows — refresh reconciles both sides).
    * Sort `df` by the manifest columns upstream (or rewrite in the
    * maintenance window) for tight per-file bounds; per-batch cost is
    * the batch write + O(batch files) footer reads.
    *
    * STALENESS WINDOW: between a batch directory landing and its
    * `refreshManifest` completing (or, after a crash in that window,
    * until the batch replays and self-heals), a concurrent
    * `readPrunedManifest` plans only from manifest rows and silently
    * misses the newest batch's files. Readers that must see
    * in-flight batches pass `reconcile = true` to
    * [[graft.sources.Tables.readPrunedManifest]] — one extra listing,
    * and listed-but-unknown files join the candidate set
    * unconditionally. */
  def lakeIngestSink(df: DataFrame, path: String,
                     manifestCols: Seq[String], checkpoint: String)
      : StreamingQuery =
    sink(df, checkpoint) { (batch, batchId) =>
      batch.write.mode(SaveMode.Overwrite).parquet(s"$path/batch-$batchId")
      graft.sources.Tables.refreshManifest(batch.sparkSession, path,
        manifestCols)
    }

  /** Streaming lake ingest WITH SNAPSHOT COMMITS — [[lakeIngestSink]]'s
    * time-travel sibling: each micro-batch lands in its own
    * batch-scoped directory (`batch-<id>`, crash-replay overwrites
    * itself — idempotence by path) and then
    * [[graft.incremental.Snapshots.commitAt]] pins the post-batch file
    * set as version `batchId + 1` — versions are KEYED BY THE
    * CHECKPOINTED BATCH ID (the [[upsertSink]] discipline), so a
    * crash-replayed batch re-commits its OWN version with the
    * re-listed file set instead of appending a content-equal extra
    * one: history is replay-stable, version count == batch count, and
    * no version is ever left referencing the replay-overwritten part
    * files (the pre-round-12 dangling-version trade-off is gone).
    * Readers pinned to a version NEVER see later batches — the
    * reproducible-training-run contract. The lake must be owned by
    * this sink (external committers would collide with the batch-id
    * version line; commitAt raises rather than interleave).
    * Per-batch cost: the batch write + one listing + one metadata
    * write. */
  def snapshotIngestSink(df: DataFrame, path: String, checkpoint: String)
      : StreamingQuery =
    sink(df, checkpoint) { (batch, batchId) =>
      batch.write.mode(SaveMode.Overwrite).parquet(s"$path/batch-$batchId")
      graft.incremental.Snapshots.commitAt(batch.sparkSession, path,
        batchId + 1)
    }

  /** [[snapshotIngestSink]] WITH INLINE MAINTENANCE — the full safe
    * loop (ingest → commit → periodic compaction → time travel) as
    * one streaming sink: every micro-batch lands batch-scoped and
    * commits its ingest version; every `compactEvery`-th batch then
    * runs a snapshot-transactional compaction
    * ([[graft.incremental.Snapshots.compactAt]]) as the NEXT version,
    * so small batch files never accumulate while pinned readers stay
    * undisturbed and asOf crosses every rewrite.
    *
    * Version line is a pure function of the batch id — ingest(b) =
    * b + 1 + ⌊b / compactEvery⌋, compaction = ingest + 1 on
    * triggering batches — so replay is exact: a replayed batch first
    * [[graft.incremental.Snapshots.rollback]]s any orphan versions a
    * crashed un-checkpointed attempt left above its own ingest
    * version (normally a no-op), then re-commits/re-compacts the same
    * version ids with overwrite semantics. History is replay-stable:
    * version count never depends on crash count. Lake must be owned
    * by this sink. Retention (expire + vacuum of superseded
    * pre-compaction files) stays a caller-scheduled decision. */
  def snapshotMaintainSink(df: DataFrame, path: String, checkpoint: String,
                           compactEvery: Int, targetBytes: Long)
      : StreamingQuery = {
    require(compactEvery >= 1, s"compactEvery must be >= 1, got $compactEvery")
    sink(df, checkpoint) { (batch, batchId) =>
      val s = batch.sparkSession
      val ingestV = batchId + 1 + batchId / compactEvery
      batch.write.mode(SaveMode.Overwrite).parquet(s"$path/batch-$batchId")
      graft.incremental.Snapshots.rollback(s, path, ingestV - 1)
      graft.incremental.Snapshots.commitAt(s, path, ingestV)
      if ((batchId + 1) % compactEvery == 0)
        graft.incremental.Snapshots.compactAt(s, path, ingestV + 1,
          targetBytes)
    }
  }

  /** Streaming maintenance of the EXACT mergeable quantile partials
    * ([[graft.operators.AggMerge.dailyValuePartial]]): each
    * micro-batch writes ITS OWN (day, cents, cnt) delta under a
    * batch-scoped directory — counts are NOT replay-idempotent under
    * re-merge (unlike the HLL register-max of distinctMergeSink), so
    * idempotence comes from the PATH: a crash-replayed batch
    * overwrites its own delta instead of double-counting (the
    * monthOverwrite rule). Readers fold the whole delta directory
    * through [[graft.operators.AggMerge.mergeValueCounts]] (counts
    * add, order-free) and answer any quantile exactly via
    * `finishQuantiles` — the zero-approximation rollup at any batch
    * count. Per-batch cost: one value-lattice-scale aggregate +
    * write. */
  def quantileDeltaSink(df: DataFrame, tsCol: String, valueCol: String,
                        path: String, checkpoint: String): StreamingQuery =
    deltaSink(df, path, checkpoint)(
      graft.operators.AggMerge.dailyValuePartial(_, tsCol, valueCol))

  /** Read side of [[quantileDeltaSink]]: fold every delta into one
    * (day, cents, cnt) table. */
  def readQuantileCounts(spark: org.apache.spark.sql.SparkSession,
                         path: String): DataFrame =
    graft.operators.AggMerge.mergeValueCounts(Seq(
      spark.read.option("recursiveFileLookup", "true").parquet(path)))

  /** Streaming maintenance of a per-key EWMA over daily counts — the
    * ORDER-DEPENDENT smoother ([[graft.operators.Timeseries.ewma]])
    * made replay-safe by storing only MERGEABLE series partials: each
    * micro-batch writes its own (key, day, cnt) delta under a
    * batch-scoped directory (crash replay overwrites its own path —
    * the [[quantileDeltaSink]] rule), and [[readEwma]] folds the
    * deltas into the exact daily series before running the batch
    * smoother over it. Carrying the smoothed value itself as state
    * would double-apply on replay and could never absorb a late row
    * for a past day; count partials sum order-free, so streamed ≡
    * one-shot by construction at any batch split. Per-batch cost: one
    * (key, day)-scale aggregate + write; the O(series²) fold is paid
    * only at read time over the days-scale merged series. */
  def ewmaDeltaSink(df: DataFrame, keyCol: String, tsCol: String,
                    path: String, checkpoint: String): StreamingQuery =
    deltaSink(df, path, checkpoint)(ewmaDeltaBatch(_, keyCol, tsCol))

  /** [[ewmaDeltaSink]]'s exact per-batch body, exposed for fold
    * oracles (the q442 convention). */
  def ewmaDeltaBatch(batch: DataFrame, keyCol: String,
                     tsCol: String): DataFrame =
    batch.filter(col(tsCol).isNotNull)
      .groupBy(col(keyCol).as("key"), to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("cnt"))

  /** Read side of [[ewmaDeltaSink]]: merge every delta into the exact
    * daily series, then smooth. */
  def readEwma(spark: org.apache.spark.sql.SparkSession, path: String,
               alpha: Double): DataFrame = {
    val series = spark.read
      .option("recursiveFileLookup", "true").parquet(path)
      .groupBy(col("key"), col("day"))
      .agg(sum(col("cnt")).cast("long").as("y"))
    graft.operators.Timeseries.ewma(series, "key", "day", "y", alpha)
  }

  /** Streaming EXACT distinct-count maintenance over a bounded id
    * domain — the zero-error twin of distinctMergeSink's HLL: each
    * micro-batch writes its (key, word, bits) bitmap partial
    * ([[graft.operators.AggMerge.bitmapDistinctPartial]]) under a
    * batch-scoped directory, and the read side OR-merges everything.
    * DOUBLY replay-proof: the path overwrite absorbs a replayed
    * batch, and even a re-MERGED delta cannot move the count (OR is
    * idempotent — the register-max property plain counts lack).
    * State: O(domain/32) longs per key — exactness paid in bounded,
    * known space. */
  def bitmapDistinctSink(df: DataFrame, keyCol: String, idCol: String,
                         path: String, checkpoint: String): StreamingQuery =
    deltaSink(df, path, checkpoint)(
      graft.operators.AggMerge.bitmapDistinctPartial(_, keyCol, idCol))

  /** Read side of [[bitmapDistinctSink]]: OR-fold all deltas, count
    * bits. */
  def readBitmapDistinct(spark: org.apache.spark.sql.SparkSession,
                         path: String): DataFrame =
    graft.operators.AggMerge.bitmapDistinctCount(
      graft.operators.AggMerge.mergeBitmapPartials(Seq(
        spark.read.option("recursiveFileLookup", "true").parquet(path))))

  /** Streaming KMV distinct-sketch maintenance: each micro-batch
    * writes its own per-group bottom-k hash sketch
    * ([[graft.functions.Kmv.sketch]]) to `delta-<batchId>` — batch-id
    * keyed OVERWRITE, so a crash-replayed batch rewrites its own
    * delta (path idempotence) — and because a KMV sketch is the
    * bottom-k of an idempotent distinct-set union, the read-side fold
    * needs NO batch fence (the [[bitmapDistinctSink]] /
    * mergeDistinct regime, not the fenced COUNT regime): merging any
    * delta twice changes nothing. Per-batch cost: one distinct + one
    * bounded heap over the batch; state on disk is k rows per group
    * per batch until [[readKmvEstimate]] folds them. The streaming
    * complement of [[graft.functions.Kmv.overlapMatrix]]: segment
    * cardinalities and overlaps maintained forever at k rows per
    * segment. */
  def kmvSink(df: DataFrame, groupCol: String, idCol: String, k: Int,
              path: String, checkpoint: String): StreamingQuery =
    deltaSink(df, path, checkpoint)(
      graft.functions.Kmv.sketch(_, Seq(groupCol), idCol, k))

  /** Read side of [[kmvSink]]: fold every delta through
    * [[graft.functions.Kmv.merge]] (exact under any fold tree) and
    * estimate — identical to the one-shot sketch of the full stream
    * by the mergeability contract. */
  def readKmvEstimate(spark: org.apache.spark.sql.SparkSession,
                      path: String, groupCol: String, k: Int): DataFrame =
    graft.functions.Kmv.estimate(
      graft.functions.Kmv.merge(Seq(
        spark.read.option("recursiveFileLookup", "true").parquet(path)),
        Seq(groupCol), k),
      Seq(groupCol), k)

  /** Streaming WRITE-AUDIT-PUBLISH: every micro-batch stages on its
    * own snapshot branch ([[graft.incremental.Snapshots.createBranch]]
    * — hidden from all main readers), runs the quality suite THERE,
    * and only a passing batch publishes (fast-forward merge as the
    * next main version); a failing batch lands in
    * `<quarantine>/batch-<id>` with its verdicts and main never sees
    * a row of it. This closes the loop between the engine's two
    * arcs — the reference's validation gate (SURVEY Q-family) and
    * the snapshot lake: bad data is not merely FLAGGED after landing
    * (the monitor-sink posture), it is structurally unable to land.
    *
    * Replay contract (round-13 rework — both resolution records are
    * COMMIT-ATOMIC, no freestanding marker files): branch names are
    * batch-id-keyed; a crash-replayed batch drops its own
    * half-staged branch and re-stages. "Published" is read off the
    * snapshot log itself — the merge lands the batch's files under
    * `merge-b<id>-v<N>/`, so the atomic snapshot write that creates
    * version N IS the publish record, and a crash anywhere before it
    * leaves a replayable (unresolved) state, never a duplicated one.
    * "Quarantined" is the COMPLETED verdicts write (its `_SUCCESS`);
    * the branch drops BEFORE the quarantine write, so no branch can
    * survive behind a resolution marker (the pre-r13 hole: a crash
    * between the rows write and the drop left an immortal branch
    * blocking expire/rollback forever). An EMPTY staged batch whose
    * audit passes resolves as a structural no-op (no version minted
    * — a content-identical version would carry no batch tag for the
    * fence to see, and replaying a no-op is itself a no-op).
    * Fence durability bound (documented, Iceberg-shaped): the
    * publish fence lives in the publishing snapshot's pinned paths,
    * so [[graft.incremental.Snapshots.expire]]-ing BELOW a batch's
    * publishing version while a checkpoint old enough to replay that
    * batch still exists re-opens the replay window — retain
    * snapshots at least as long as stream checkpoints, the standard
    * lakehouse retention rule. Per-batch cost: one staged write +
    * the suite's single fused aggregate + (pass) a rename-scale
    * merge + one snapshot-metadata fence read. */
  def wapSink(df: DataFrame, path: String,
              suite: graft.checks.CheckSuite, quarantine: String,
              checkpoint: String): StreamingQuery =
    sink(df, checkpoint) { (batch, batchId) =>
      wapBatch(batch, batchId, path, suite, quarantine)
    }

  /** The [[wapSink]] batch body — exposed for batch-path tests and
    * replay fixtures (the engine convention: every sink's semantics
    * live in a deterministic batch function). */
  def wapBatch(batch: DataFrame, batchId: Long, path: String,
               suite: graft.checks.CheckSuite, quarantine: String): Unit = {
    import graft.incremental.Snapshots
    import org.apache.hadoop.fs.Path
    val spark = batch.sparkSession
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val name = s"wap-b$batchId"
    val quarDir = new Path(s"$quarantine/batch-$batchId")
    // resolved-as-quarantined: ONLY the completed verdicts write
    // counts (its _SUCCESS is the last thing the quarantine path
    // creates) — a half-written quarantine dir is an unresolved
    // crash and replays from scratch
    if (fs.exists(new Path(s"$quarDir/verdicts/_SUCCESS"))) return
    // resolved-as-published: the publishing SNAPSHOT pins this
    // batch's merge-b<id>-v<N> files — the fence is the atomic
    // commit record itself, so no crash window can separate them
    if (publishedBatch(spark, path, batchId)) return
    // replay of a crashed half-staged attempt: re-stage from scratch
    if (Snapshots.branches(spark, path).filter(col("branch") === name)
        .count() > 0)
      Snapshots.dropBranch(spark, path, name)
    val vframe = Snapshots.versions(spark, path)
    require(vframe.count() > 0,
      s"wapSink needs a committed base version at $path — commit the " +
        "(possibly empty) lake before starting the stream")
    val head = vframe.agg(max(col("version"))).head().getLong(0)
    Snapshots.createBranch(spark, path, name, head)
    Snapshots.appendBranch(spark, path, name, batch)
    val results = suite.run(Snapshots.readBranch(spark, path, name))
    if (results.forall(_.passed)) {
      if (Snapshots.stagedFiles(spark, path, name).isEmpty)
        // empty staged batch: publishing would mint a content-equal
        // version with NO batch tag in its pins (nothing to rename),
        // leaving the fence blind and history growing per replay —
        // resolve as a structural no-op instead (re-running this
        // whole path on replay changes nothing)
        Snapshots.dropBranch(spark, path, name)
      else
        Snapshots.mergeBranch(spark, path, name,
          mergeTag = Some(s"b$batchId"))
    } else {
      // quarantine the batch + its verdicts, main untouched; the
      // branch drops FIRST so no branch can outlive a resolution
      // record (a crash below this line replays cleanly: no marker,
      // no branch, Overwrite rewrites the half-written dirs)
      Snapshots.dropBranch(spark, path, name)
      batch.write
        .mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$quarDir/rows")
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(
          results.map(r => org.apache.spark.sql.Row(
            r.constraint, r.column.orNull, r.passed,
            r.unexpectedPercent)).asJava,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("constraint",
              org.apache.spark.sql.types.StringType, nullable = false),
            org.apache.spark.sql.types.StructField("column",
              org.apache.spark.sql.types.StringType, nullable = true),
            org.apache.spark.sql.types.StructField("passed",
              org.apache.spark.sql.types.BooleanType, nullable = false),
            org.apache.spark.sql.types.StructField("unexpected_pct",
              org.apache.spark.sql.types.DoubleType, nullable = false))))
        .coalesce(1).write
        .mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$quarDir/verdicts")
    }
  }

  /** The publish-fence read: does ANY retained main snapshot pin a
    * file under this batch's tagged merge directory? One
    * snapshot-metadata read (file-count × version-count rows, never
    * data-scale). The `-v` suffix in the needle keeps b1 from
    * matching b11. */
  private def publishedBatch(spark: org.apache.spark.sql.SparkSession,
                             path: String, batchId: Long): Boolean = {
    val pins = graft.incremental.Snapshots.allPinnedPaths(spark, path)
    pins.exists(_.contains(s"/merge-b$batchId-v"))
  }

  /** Streaming UPSERT into a sequenced merge-on-read lake
    * ([[graft.incremental.Deletes]]): each micro-batch becomes ONE op
    * (op = batchId + 1, so the base's add-0 stays op 0) via
    * [[graft.incremental.Deletes.upsertAt]]'s overwrite semantics — a
    * crash-replayed batch rewrites its own op directories instead of
    * appending a new op, so the lake's history and content are both
    * replay-stable (path idempotence; the quantileDeltaSink rule
    * extended to a WRITE-side maintenance op). Within-batch duplicate
    * keys raise in the batch body (one version per op). Per-batch
    * cost: one key-list write + one append — never a rewrite. */
  def upsertSink(df: DataFrame, path: String, keyCols: Seq[String],
                 checkpoint: String): StreamingQuery =
    sink(df, checkpoint) { (batch, batchId) =>
      graft.incremental.Deletes.upsertAt(batch.sparkSession, path,
        batch, keyCols, batchId + 1L)
    }

  /** Streaming EXACT dedup: drop any document whose content fingerprint
    * ([[graft.llmdata.TextAnalysis.fingerprint]] — md5 of the normalized
    * text) was already seen within the watermark horizon, using Spark's
    * own `dropDuplicatesWithinWatermark` state store. The streaming twin
    * of the batch exact-dedup operator, and the cheap first stage in
    * front of [[dedupAdmissionSink]]'s near-dup probe: an exact byte
    * duplicate never reaches the LSH index.
    *
    * State is bounded BY THE WATERMARK (fingerprints older than
    * `lateness` are evicted) — the honest contract for an unbounded
    * stream: exactness within the horizon, cross-horizon duplicates fall
    * through to the batch dedup that periodically re-curates the corpus.
    * Append mode; the first arrival (in processing order) survives. */
  def exactDedupStream(df: DataFrame, tsCol: String, textCol: String,
                       lateness: String): DataFrame =
    df.withColumn("__fp", graft.llmdata.TextAnalysis.fingerprint(col(textCol)))
      .withWatermark(tsCol, lateness)
      .dropDuplicatesWithinWatermark("__fp")
      .drop("__fp")

  case class DebEv(key: String, sec: Long, event_id: Long)

  /** Streaming debounce — the streaming twin of
    * `operators.Dedup.burstFirst`: per key, emit only the event that
    * OPENS each burst, where a burst chains while gaps stay ≤
    * `windowSeconds`. State is ONE (sec, id) pair per key — the last
    * event SEEN (kept or suppressed; the gap rule compares to the
    * previous event, not the previous survivor, matching the batch
    * operator exactly). Within a batch events fold in (sec, event_id)
    * order, so for in-order streams batch-boundary placement cannot
    * change the survivor set — the spec proves two-batch ≡ the batch
    * operator on the union. Late (out-of-order) events can't retract
    * an already-emitted opener (append-mode fundamentals — same caveat
    * as [[attributionStream]]); bound disorder upstream if it
    * matters. */
  def debounceStream(events: Dataset[DebEv],
                     windowSeconds: Long): Dataset[DebEv] = {
    require(windowSeconds > 0, s"windowSeconds must be > 0, got $windowSeconds")
    import events.sparkSession.implicits._
    events.groupByKey(_.key)
      .flatMapGroupsWithState[(Long, Long), DebEv](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, evs: Iterator[DebEv], state: GroupState[(Long, Long)]) =>
          var last = state.getOption
          val out = scala.collection.mutable.ListBuffer.empty[DebEv]
          evs.toSeq.sortBy(e => (e.sec, e.event_id)).foreach { e =>
            if (last.forall { case (s, _) => e.sec - s > windowSeconds })
              out += e
            last = Some((e.sec, e.event_id))
          }
          last.foreach(state.update)
          out.iterator
      }
  }

  /** Session windows via Spark's BUILT-IN `session_window` function —
    * the declarative form of [[sessionWindows]], preferred when the
    * per-session output is an aggregate (counts/sums) rather than
    * custom state: Catalyst owns the session merge, state store layout,
    * and watermark eviction, so there is no hand-rolled fold to get
    * wrong. Use the flatMapGroupsWithState variants below only when the
    * session logic genuinely cannot be expressed as an aggregation
    * (the build brief's built-ins-first rule). Works identically on a
    * batch frame (no watermark needed there). */
  def sessionWindowsBuiltin(events: DataFrame, tsCol: String, keyCol: String,
                            gap: String, lateness: String): DataFrame =
    events
      .withWatermark(tsCol, lateness)
      .groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("n_events"))
      .select(col(keyCol),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("n_events"))

  /** Event-time session windows via flatMapGroupsWithState: events for a
    * user belong to one session until a gap of `gapSeconds`; closed
    * sessions are emitted (0..n outputs per group per batch — the flatMap
    * variant), open sessions stay in state. The streaming analog of the
    * reference's "one run = one bounded unit of work" semantics, with the
    * session boundary replacing the month boundary. */
  case class SessionWindow(userId: Long, startSec: Long, endSec: Long, nEvents: Long)
  case class TimedEv(user_id: Long, sec: Long)

  /** Shared session assembly for both sessionWindows variants:
    * sessionize this batch's (sorted) event times from scratch, insert
    * the previous batch's open session into start order, then merge
    * adjacent sessions whose gap is within `gapSeconds` (the standard
    * interval-gap merge). Doing the merge on SESSIONS rather than
    * seeding the event fold with the prior session is what makes late
    * events correct: an event far OLDER than the open session forms its
    * own (immediately closable) session instead of being absorbed —
    * `s - head.endSec <= gap` is trivially true for any negative delta,
    * which the seeded-fold formulation got wrong twice. Returns sessions
    * ascending by start; the last one is the still-open candidate. */
  private def foldSessions(user: Long, prior: List[SessionWindow],
                           sortedSecs: Seq[Long],
                           gapSeconds: Long): List[SessionWindow] = {
    val batchSessions = sortedSecs.foldLeft(List.empty[SessionWindow]) {
      case (Nil, s) => List(SessionWindow(user, s, s, 1))
      case (head :: tail, s) if s - head.endSec <= gapSeconds =>
        head.copy(endSec = s, nEvents = head.nEvents + 1) :: tail
      case (acc, s) => SessionWindow(user, s, s, 1) :: acc
    }.reverse
    val all = (prior ++ batchSessions).sortBy(_.startSec)
    all.foldLeft(List.empty[SessionWindow]) {
      case (Nil, s) => List(s)
      case (head :: tail, s) if s.startSec - head.endSec <= gapSeconds =>
        head.copy(startSec = math.min(head.startSec, s.startSec),
          endSec = math.max(head.endSec, s.endSec),
          nEvents = head.nEvents + s.nEvents) :: tail
      case (acc, s) => s :: acc
    }.reverse
  }

  /** Session windows without a watermark (NoTimeout): sessions close only
    * when a later event for the same user arrives.
    *
    * Append-mode caveat — emitted sessions are NOT guaranteed
    * gap-disjoint under late data: a straggler older than the open
    * session closes as its own session even if it falls within `gap` of
    * a session emitted in an earlier batch (already-emitted output
    * cannot be retracted without a watermark). Consumers needing
    * gap-disjoint sessions should use [[sessionWindowsWithTimeout]] with
    * lateness covering their maximum event delay. */
  def sessionWindows(events: Dataset[TimedEv], gapSeconds: Long): Dataset[SessionWindow] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[List[SessionWindow], SessionWindow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, evs: Iterator[TimedEv], state: GroupState[List[SessionWindow]]) =>
          val prior = state.getOption.getOrElse(List.empty[SessionWindow])
          val sessions = foldSessions(user, prior, evs.map(_.sec).toSeq.sorted, gapSeconds)
          sessions match {
            case Nil => Iterator.empty
            case all :+ open =>
              state.update(List(open)) // last session may still grow
              all.iterator
          }
      }
  }

  /** Event-time variant of [[sessionWindows]]: the open session also
    * CLOSES when the event-time watermark passes its end + gap, not only
    * when a later event for the same user arrives — without a timeout, a
    * user who goes quiet holds state (and their last session) forever.
    * Requires a watermarked timestamp column; the timeout fires on the
    * first trigger after the watermark crosses the session boundary. */
  case class TimedEvT(user_id: Long, sec: Long, ts: java.sql.Timestamp)

  def sessionWindowsWithTimeout(events: Dataset[TimedEvT],
                                gapSeconds: Long,
                                lateness: String): Dataset[SessionWindow] = {
    import events.sparkSession.implicits._
    events.withWatermark("ts", lateness)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[List[SessionWindow], SessionWindow](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, evs: Iterator[TimedEvT], state: GroupState[List[SessionWindow]]) =>
          if (state.hasTimedOut) {
            val open = state.getOption.getOrElse(Nil)
            state.remove()
            open.iterator // the watermark proved no event can extend it
          } else {
            val prior = state.getOption.getOrElse(List.empty[SessionWindow])
            val sessions = foldSessions(user, prior, evs.map(_.sec).toSeq.sorted, gapSeconds)
            sessions match {
              case Nil => Iterator.empty
              case all :+ open =>
                state.update(List(open))
                // close the open session once the watermark passes its gap;
                // clamp to just past the current watermark — Spark rejects
                // past timestamps, and a session already behind the
                // watermark (late events for a quiet user) should simply
                // fire on the next trigger
                state.setTimeoutTimestamp(
                  math.max((open.endSec + gapSeconds) * 1000L,
                    state.getCurrentWatermarkMs() + 1))
                all.iterator
            }
          }
      }
  }

  /** Streaming last-touch attribution — the streaming twin of
    * `operators.Attribution.lastTouch` (q166): per-user state is ONE
    * row (the latest touch seen), and each conversion event emits its
    * attribution the moment it arrives — (channel = the stored touch's
    * type if within `lookbackSeconds`, else 'organic').
    *
    * Within a batch, events fold in (sec, touches-first, event_id)
    * order: a touch sharing a conversion's second is processed BEFORE
    * the conversion, matching the batch operator's tie rule (AsOfJoin
    * sorts right rows before left at equal ts — a same-instant touch is
    * visible and credited). Batch-boundary placement therefore cannot
    * change results for in-order streams; the spec proves two-batch ≡
    * the batch operator on the union, including same-second ties. Caveat (append-mode fundamentals): a TOUCH arriving late —
    * after a conversion it should have credited was already emitted —
    * cannot retract that attribution; bound staleness upstream with a
    * watermark when late touches matter. State is one touch per user
    * (bounded by live users), monotone by (sec, id). */
  case class AttrEv(user_id: Long, sec: Long, event_type: String, event_id: Long)
  case class TouchState(sec: Long, id: Long, kind: String)
  case class Attributed(user_id: Long, conversion_id: Long, conversion_sec: Long,
                        channel: String, touch_id: Option[Long])

  def attributionStream(events: Dataset[AttrEv], touchTypes: Set[String],
                        conversionType: String,
                        lookbackSeconds: Long): Dataset[Attributed] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[TouchState, Attributed](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, evs: Iterator[AttrEv], state: GroupState[TouchState]) =>
          var touch = state.getOption
          val out = scala.collection.mutable.ListBuffer.empty[Attributed]
          // touches before conversions at equal sec — the batch tie rule
          // (asOf makes a same-instant touch visible to the conversion)
          evs.toSeq.sortBy(e =>
            (e.sec, if (touchTypes.contains(e.event_type)) 0 else 1,
              e.event_id)).foreach { e =>
            if (touchTypes.contains(e.event_type)) {
              // monotone: same-instant touches resolve to the largest id
              // (the batch operator's tie rule)
              if (touch.forall(t =>
                e.sec > t.sec || (e.sec == t.sec && e.event_id >= t.id)))
                touch = Some(TouchState(e.sec, e.event_id, e.event_type))
            } else if (e.event_type == conversionType) {
              val hit = touch.filter(t =>
                t.sec <= e.sec && e.sec - t.sec <= lookbackSeconds)
              out += Attributed(user, e.event_id, e.sec,
                hit.map(_.kind).getOrElse("organic"), hit.map(_.id))
            }
          }
          touch.foreach(state.update)
          out.iterator
      }
  }

  /** Custom stateful operator via mapGroupsWithState: per-user running
    * session aggregate with processing-time timeout — the
    * KeyValueGroupedDataset state API the reference's control table
    * state machine maps onto. */
  def sessionize(events: Dataset[Ev], timeout: String = "10 minutes"): Dataset[SessionAgg] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[SessionAgg, SessionAgg](GroupStateTimeout.ProcessingTimeTimeout) {
        (user: Long, evs: Iterator[Ev], state: GroupState[SessionAgg]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            s.copy(closed = true)
          } else {
            val prev = state.getOption.getOrElse(SessionAgg(user, 0L, 0.0, closed = false))
            val batch = evs.toSeq
            val next = prev.copy(
              nEvents = prev.nEvents + batch.size,
              totalValue = prev.totalValue + batch.map(_.value).sum)
            state.update(next)
            state.setTimeoutDuration(timeout)
            next
          }
      }
  }
}
