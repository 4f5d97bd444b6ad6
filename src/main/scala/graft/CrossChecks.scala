package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Once-per-JVM identity-verification arms (round-14, VERDICT r13 #2):
  * some queries prove an INDEXED operator exact by recomputing the
  * reference form (all-pairs DTW, flat IVF) and `require`-ing
  * equality. Those reference arms are the very computation the
  * indexed operator exists to avoid — valuable as gates, pure
  * overhead as a per-rep bench cost (the q359 build/serve precedent,
  * applied to cross-checks). Each check runs AT MOST ONCE per
  * (check, sf-dir) per JVM:
  *
  *  - the correctness gate (graft.Verify, a fresh JVM per run) always
  *    executes every check — the requires still gate every round;
  *  - graft.Bench triggers them through [[warmAll]] OUTSIDE the timed
  *    region, so bench reps measure the production arm only.
  *
  * Determinism makes the memoization sound: every check verifies a
  * pure function of the sf-dir input (md5-pinned, no rand), so one
  * execution per JVM proves exactly what per-rep execution proved. */
object CrossChecks {

  private val done =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Run `check` at most once per (tag, sfDir) per JVM; concurrent
    * callers block on the first run (computeIfAbsent). A FAILED check
    * is not memoized — the exception propagates and a retry re-runs. */
  def once(tag: String, sfDir: String)(check: => Unit): Unit = {
    done.computeIfAbsent(s"$tag|$sfDir", { _ => check; "ok" })
    ()
  }

  /** q527's reference arm: a batch appended to the stored-centroid
    * IVF-PQ index, searched with an unrestricted candidate budget,
    * must equal the flat IVF index grown through the same
    * stored-centroid append path — the quantized and full-precision
    * admission ladders agree exactly. */
  def ivfPqAppendEqualsFlat(s: SparkSession, d: String): Unit =
    once("ivfPqAppendEqFlat", d) {
      import graft.llmdata.Similarity
      val emb = graft.sources.Tables.read(s, d, "embeddings")
      val b = emb.filter(col("vec_id") % 5 === 0)
      val queries = emb.filter(col("vec_id") < 16)
      val pqRoot = LakeFixtures.freshRoot("pqappendchk") + "/idx"
      LakeFixtures.copyTree(s, LakeFixtures.ivfPqCorpusA(s, d), pqRoot)
      Similarity.ivfPqIndexAppend(s, pqRoot, b, "vec_id", "embedding")
      val flatRoot = LakeFixtures.freshRoot("flatappendchk") + "/idx"
      LakeFixtures.copyTree(s, LakeFixtures.ivfFlatCorpusA(s, d),
        flatRoot)
      Similarity.ivfIndexAppend(s, flatRoot, b, "vec_id", "embedding")
      val pq = Similarity.ivfPqTopKIndexed(s, pqRoot, queries, "vec_id",
          "embedding", k = 3, nprobe = 2, overfetch = Int.MaxValue / 3)
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          round(col("cosine"), 6).as("cosine"))
        .localCheckpoint(true)
      val flat = Similarity.ivfTopKIndexed(s, flatRoot, queries,
          "vec_id", "embedding", k = 3, nprobe = 2)
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          round(col("cosine"), 6).as("cosine"))
      require(pq.exceptAll(flat).isEmpty && flat.exceptAll(pq).isEmpty,
        "appended IVF-PQ (unrestricted budget) must equal the " +
          "appended flat IVF at the same probes")
    }

  /** q526's reference arm: the grid-blocked exact DTW top-k must
    * equal the all-pairs pruned top-k on the same series frame. */
  def dtwBlockedEqualsAllPairs(s: SparkSession, d: String): Unit =
    once("dtwBlockedEqAllPairs", d) {
      import graft.operators.Timeseries
      val k = 2
      val series = registry.QuerySupport.dailyCountSeries(s, d)
      val blocked = Timeseries.dtwTopKBlocked(series, "event_type",
          "x", "y", band = 5, k = k, nSeg = 7, cellCents = 10000L)
        .select("query_key", "neighbor", "rank", "dtw_cents")
      val allPairs = Timeseries.dtwTopK(series, "event_type", "x", "y",
          band = 5, k = k)
        .select("query_key", "neighbor", "rank", "dtw_cents")
      require(blocked.exceptAll(allPairs).isEmpty
          && allPairs.exceptAll(blocked).isEmpty,
        "blocked DTW top-k must equal the all-pairs pruned top-k")
    }

  /** q426's reference arm: the three-slice fold of mergeable daily
    * value-count partials must equal the one-shot partial on every
    * lattice cell. */
  def aggMergeFoldEqualsOneShot(s: SparkSession, d: String): Unit =
    once("aggMergeFoldEqOneShot", d) {
      import graft.operators.AggMerge
      val folded = registry.QuerySupport.mergedDailyValueCounts(s, d)
      val one = AggMerge.dailyValuePartial(
        graft.sources.Tables.read(s, d, "lineitem"), "l_shipdate",
        "l_extendedprice")
      val diverged = folded.withColumnRenamed("cnt", "cnt_f")
        .join(one.withColumnRenamed("cnt", "cnt_o"),
          Seq("day", "cents"), "full")
        .filter(!(col("cnt_f") <=> col("cnt_o"))).count()
      require(diverged == 0,
        s"fold-of-slices diverged from one-shot on $diverged lattice" +
          " cells")
    }

  /** q531's forensic arm (round-15, VERDICT r14 #3): the purgeWhere
    * lifecycle's exceptAll keep-side audits and the no-op re-purge are
    * invariants of the OPERATOR, not of the benchmarked plan — they
    * re-run the raw-fixture union and a second full purge per rep. A
    * fresh lake replays the exact q531 lifecycle here once per JVM:
    * every version subject-free AND keep-side bit-stable against the
    * raw batches, and a re-run purge finds nothing. */
  def purgeWhereForensics(s: SparkSession, d: String): Unit =
    once("purgeWhereForensics", d) {
      import graft.incremental.Snapshots
      val root = LakeFixtures.freshRoot("pwforensic") + "/lake"
      val fx = LakeFixtures.eventsDayBatches(s, d)
      LakeFixtures.copyInto(s, s"$fx/b1", root)
      Snapshots.commit(s, root) // v1
      LakeFixtures.copyInto(s, s"$fx/b2", root, append = true)
      Snapshots.commit(s, root) // v2
      LakeFixtures.copyInto(s, s"$fx/b3", root, append = true)
      Snapshots.commit(s, root) // v3
      val pred = col("user_id") % 97 === 0
      val rep = Snapshots.purgeWhere(s, root, pred).head()
      require(rep.getLong(0) == 3L, "3 versions must remap")
      (1L to 3L).foreach { v =>
        val got = Snapshots.readVersion(s, root, v)
        require(got.filter(pred).count() == 0L,
          s"v$v still holds purged rows")
        val keep = (1L to v).map(b => s.read.parquet(s"$fx/b$b"))
          .reduce(_ unionByName _).filter(!pred)
        require(got.exceptAll(keep).isEmpty
            && keep.exceptAll(got).isEmpty,
          s"v$v keep-side content changed across the purge")
      }
      val again = Snapshots.purgeWhere(s, root, pred).head()
      require(again.getLong(3) == 0L && again.getLong(1) == 0L,
        "a second purge must find nothing")
    }

  /** q535's forensic arm: after a dedup-loser purgeMatching, every
    * retained version must be loser-free AND keeper-complete. Same
    * fixture recipe as the query, fresh lake, once per JVM. */
  def dedupPurgeForensics(s: SparkSession, d: String): Unit =
    once("dedupPurgeForensics", d) {
      import graft.incremental.Snapshots
      import graft.llmdata.DedupOps
      val root = LakeFixtures.freshRoot("dpforensic") + "/lake"
      val docs = graft.sources.Tables.read(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("text"))
      docs.filter(col("doc_id") < 250).coalesce(2).write.parquet(root)
      Snapshots.commit(s, root) // v1
      docs.filter(col("doc_id") >= 250).coalesce(2)
        .write.mode("append").parquet(root)
      Snapshots.commit(s, root) // v2
      val keepers = DedupOps.dedupCorpus(docs, "doc_id", "text",
          shingleSize = 3, bands = 4, rows = 4, jaccardThreshold = 0.4)
        .select(col("doc_id"))
      val losers = docs.select(col("doc_id"))
        .join(keepers, Seq("doc_id"), "left_anti")
        .localCheckpoint(true)
      val nLosers = losers.count()
      require(nLosers > 0, "the corpus must contain near-dups")
      Snapshots.purgeMatching(s, root, losers, "doc_id")
      (1L to 2L).foreach { v =>
        val got = Snapshots.readVersion(s, root, v)
        require(got.join(losers, Seq("doc_id"), "left_semi")
            .count() == 0L, s"v$v still holds losers")
        require(got.join(losers, Seq("doc_id"), "left_anti").count()
            == got.count(), s"v$v lost keeper rows")
      }
    }

  /** q541's forensic arm: after a subject purge on the sequenced
    * merge-on-read lake, the subject is invisible at EVERY as-of op,
    * non-subject history is bit-stable, no tombstone file retains the
    * subject's key, and a purge re-run is a no-op. Same fixture
    * recipe as the query, fresh lake, once per JVM. */
  def morPurgeForensics(s: SparkSession, d: String): Unit =
    once("morPurgeForensics", d) {
      import graft.incremental.Deletes
      val root = LakeFixtures.freshRoot("mpforensic") + "/lake"
      val base = graft.sources.Tables.read(s, d, "orders")
        .filter(col("o_orderkey") % 5 === 0)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"))
      Deletes.initBase(s, root, base, 4)
      Deletes.upsert(s, root,
        base.filter(col("o_orderkey") % 20 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + lit(1000.0)),
        Seq("o_orderkey"))
      Deletes.upsert(s, root,
        base.filter(col("o_orderkey") % 20 === 0
            || col("o_orderkey") % 20 === 10)
          .withColumn("o_totalprice", col("o_totalprice") + lit(3000.0)),
        Seq("o_orderkey"))
      val subjects = base.filter(col("o_orderkey") % 7 === 0)
        .select(col("o_orderkey"))
      val preOther = Deletes.readMergedAsOf(s, root, 1L)
        .filter(col("o_orderkey") % 7 =!= 0).localCheckpoint(true)
      val rep = Deletes.purgeMatching(s, root, subjects,
        Seq("o_orderkey")).head()
      require(rep.getLong(2) > 0L, "subjects must have lived in adds")
      (0L to 2L).foreach { op =>
        require(Deletes.readMergedAsOf(s, root, op)
            .filter(col("o_orderkey") % 7 === 0).count() == 0L,
          s"subjects visible as of op $op")
      }
      val postOther = Deletes.readMergedAsOf(s, root, 1L)
      require(postOther.exceptAll(preOther).isEmpty
          && preOther.exceptAll(postOther).isEmpty,
        "non-subject history must stay bit-stable across the purge")
      Deletes.deleteKeys(s, root).foreach(k =>
        require(k.filter(col("o_orderkey") % 7 === 0).count() == 0L,
          "tombstone files must not retain the subject's key"))
      val rep2 = Deletes.purgeMatching(s, root, subjects,
        Seq("o_orderkey")).head()
      require(rep2.getLong(2) == 0L && rep2.getLong(3) == 0L,
        "a purge re-run must be a no-op")
    }

  /** q516's reference arm (optimization r15, the q526/q426 pattern):
    * the LB_Keogh-pruned DTW top-k must equal the brute-force matrix
    * top-k — the brute matrix is the quadratic computation the pruned
    * operator exists to avoid, run here once per JVM instead of twice
    * per bench rep. */
  def dtwPrunedEqualsBrute(s: SparkSession, d: String): Unit =
    once("dtwPrunedEqBrute", d) {
      import graft.operators.Timeseries
      import org.apache.spark.sql.expressions.Window
      val k = 2
      val series = registry.QuerySupport.dailyCountSeries(s, d)
      val pruned = Timeseries.dtwTopK(series, "event_type", "x", "y",
          band = 5, k = k)
        .select("query_key", "neighbor", "rank", "dtw_cents")
      val w = Window.partitionBy(col("query_key"))
        .orderBy(col("dtw_cents").asc, col("neighbor").asc)
      val m = Timeseries.dtwMatrix(series, "event_type", "x", "y",
        band = 5).localCheckpoint(true)
      val brute = m
        .select(col("key_a").as("query_key"), col("key_b").as("neighbor"),
          col("dtw_cents"))
        .unionByName(m.select(col("key_b").as("query_key"),
          col("key_a").as("neighbor"), col("dtw_cents")))
        .withColumn("rank", row_number().over(w).cast("int"))
        .filter(col("rank") <= k)
        .select("query_key", "neighbor", "rank", "dtw_cents")
      require(pruned.exceptAll(brute).isEmpty
          && brute.exceptAll(pruned).isEmpty,
        "pruned DTW top-k must equal the brute-force matrix")
    }

  /** q487's budget-monotonicity arm: IVF-PQ recall at overfetch 8/16
    * vs the unrestricted budget — two extra full ANN searches per
    * check, a structural property of the operator (candidates(16) ⊇
    * candidates(8)), not of the benchmarked plan. */
  def ivfPqBudgetMonotone(s: SparkSession, d: String): Unit =
    once("ivfPqBudgetMonotone", d) {
      import graft.llmdata.Similarity
      val emb = graft.sources.Tables.read(s, d, "embeddings")
      val root = LakeFixtures.ivfPqEmbeddings(s, d)
      val queries = emb.filter(col("vec_id") < 16)
      val full = Similarity.ivfPqTopKIndexed(s, root, queries, "vec_id",
        "embedding", k = 3, nprobe = 2, overfetch = Int.MaxValue / 3)
        .localCheckpoint(true)
      def hitsAt(overfetch: Int): Long = Similarity
        .ivfPqTopKIndexed(s, root, queries, "vec_id", "embedding",
          k = 3, nprobe = 2, overfetch = overfetch)
        .select("query_id", "neighbor_id")
        .join(full.select("query_id", "neighbor_id"),
          Seq("query_id", "neighbor_id"), "left_semi").count()
      val (h8, h16) = (hitsAt(8), hitsAt(16))
      val tot = full.count()
      require(h8 <= h16 && h16 <= tot,
        s"budget monotonicity broke: $h8 <= $h16 <= $tot expected")
      require(h16 * 4 >= tot * 3,
        s"budgeted ADC recall@3 too low at overfetch 16: $h16/$tot")
    }

  /** q467's conservation arm: the FIFO interval match must pay out
    * exactly min(supply, demand) on every key — re-derives both sides
    * and the matched totals once per JVM. */
  def fifoConservation(s: SparkSession, d: String): Unit =
    once("fifoConservation", d) {
      val li = graft.sources.Tables.read(s, d, "lineitem")
        .filter(col("l_partkey").isNotNull)
        .withColumn("k", col("l_partkey") % 50)
      def side(status: String) =
        li.filter(col("l_linestatus") === status)
          .groupBy(col("k"), col("l_orderkey").as("seq"))
          .agg(sum((col("l_quantity").cast("decimal(12,2)") * 100)
            .cast("long")).cast("long").as("qty"))
      val sup = side("F"); val dem = side("O")
      val matched = graft.operators.Allocate.fifoMatch(sup, dem,
        "k", "seq", "qty")
      val out = matched.groupBy(col("k"))
        .agg(sum(col("matched_qty")).cast("long").as("matched_cents"))
      val totals = sup.groupBy("k")
        .agg(sum(col("qty")).cast("long").as("__s"))
        .join(dem.groupBy("k")
          .agg(sum(col("qty")).cast("long").as("__d")), Seq("k"))
        .withColumn("__want", least(col("__s"), col("__d")))
      val broken = out.join(totals, Seq("k"))
        .filter(col("matched_cents") =!= col("__want")).count()
      require(broken == 0,
        s"FIFO conservation identity broke on $broken keys")
    }

  /** q468's apply-round-trip arm: a CDC feed applied to the from-
    * version must reproduce the to-version bit-exactly. Fresh lake,
    * the query's exact recipe, once per JVM. */
  def cdcApplyRoundTrip(s: SparkSession, d: String): Unit =
    once("cdcApplyRoundTrip", d) {
      import graft.incremental.Deletes
      val root = LakeFixtures.freshRoot("cdcfchk") + "/lake"
      val base = graft.sources.Tables.read(s, d, "orders")
        .filter(col("o_orderkey") % 5 === 0)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"))
      Deletes.initBase(s, root, base, 4)
      val op1 = Deletes.upsert(s, root,
        base.filter(col("o_orderkey") % 20 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + lit(1000.0)),
        Seq("o_orderkey"))
      val op2 = Deletes.upsert(s, root,
        base.filter(col("o_orderkey") % 20 === 0
            || col("o_orderkey") % 20 === 10)
          .withColumn("o_totalprice", col("o_totalprice") + lit(3000.0)),
        Seq("o_orderkey"))
      val feed = Deletes.cdcBetween(s, root, op1, op2, Seq("o_orderkey"))
      val applied = graft.operators.Diff.applyCdcFeed(
        Deletes.readMergedAsOf(s, root, op1), feed, Seq("o_orderkey"))
      val to = Deletes.readMergedAsOf(s, root, op2)
      require(applied.exceptAll(to).count() == 0L
          && to.exceptAll(applied).count() == 0L,
        "CDC apply round-trip diverged from the target version")
    }

  /** q444's compaction arm: compacting the equality-delete lake must
    * preserve the live view and shed every delete commit. */
  def deleteCompactionPreservesLive(s: SparkSession, d: String): Unit =
    once("deleteCompactionPreservesLive", d) {
      import graft.incremental.Deletes
      val root = LakeFixtures.freshRoot("delschk") + "/lake"
      val li = graft.sources.Tables.read(s, d, "lineitem")
        .filter(col("l_orderkey") % 7 === 0)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_returnflag"))
      li.repartition(4).write.parquet(root)
      Deletes.writeDeletes(s, root,
        li.filter(col("l_orderkey") % 10 === 3)
          .select("l_orderkey").distinct())
      Deletes.writeDeletes(s, root,
        li.filter(col("l_orderkey") % 10 === 6)
          .select("l_orderkey").distinct())
      val live = Deletes.readWithDeletes(s, root)
      val dst = LakeFixtures.freshRoot("delcchk") + "/compacted"
      Deletes.compact(s, root, dst, 2)
      require(Deletes.nDeleteCommits(s, dst) == 0L,
        "compacted lake must carry zero delete commits")
      val compacted = Deletes.readWithDeletes(s, dst)
      require(compacted.exceptAll(live).count() == 0L
          && live.exceptAll(compacted).count() == 0L,
        "compaction changed the live view")
    }

  /** q463's equivalence arm: sequenced compaction must preserve the
    * merged view bit-exactly (fresh lake, the query's recipe). */
  def sequencedCompactionPreservesMerged(s: SparkSession, d: String): Unit =
    once("sequencedCompactionPreservesMerged", d) {
      import graft.incremental.Deletes
      val root = LakeFixtures.freshRoot("cseqchk") + "/lake"
      val base = graft.sources.Tables.read(s, d, "orders")
        .filter(col("o_orderkey") % 5 === 0)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"))
      Deletes.initBase(s, root, base, 4)
      Deletes.upsert(s, root,
        base.filter(col("o_orderkey") % 20 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + lit(1000.0)),
        Seq("o_orderkey"))
      Deletes.upsert(s, root,
        base.filter(col("o_orderkey") % 20 === 0
            || col("o_orderkey") % 20 === 10)
          .withColumn("o_totalprice", col("o_totalprice") + lit(3000.0)),
        Seq("o_orderkey"))
      val dst = LakeFixtures.freshRoot("cseqdchk") + "/lake"
      Deletes.compactSequenced(s, root, dst, 2)
      val m0 = Deletes.readMerged(s, root)
      val m1 = Deletes.readMerged(s, dst)
      require(m1.exceptAll(m0).count() == 0L
          && m0.exceptAll(m1).count() == 0L,
        "sequenced compaction changed the merged view")
    }

  /** q392/q393's rebuild-equality arm: an incrementally-refreshed
    * footer manifest must equal a from-scratch footer rebuild —
    * verified on a fresh two-append lake (q392's recipe), and on the
    * crash-replayed ingest lake (q393's recipe). */
  def manifestRefreshEqualsRebuild(s: SparkSession, d: String): Unit =
    once("manifestRefreshEqRebuild", d) {
      import graft.sources.Tables
      def assertManifestEqualsRebuild(dir: String, c: String): Unit = {
        val full = Tables.footerStatsTyped(s, dir, Seq(c))
          .orderBy(col("path")).collect().map(_.toSeq)
        val man = s.read.parquet(s"$dir/_graft_manifest")
          .orderBy(col("path")).collect().map(_.toSeq)
        require(full.length == man.length
            && full.zip(man).forall { case (x, y) => x == y },
          "refreshed manifest diverged from a full rebuild")
      }
      // q392 recipe: range-sorted base + append, incremental refresh
      val dir = LakeFixtures.freshRoot("mrefchk") + "/li"
      val li = graft.sources.Tables.read(s, d, "lineitem")
      val mid = li.agg(max(col("l_orderkey"))).head().getLong(0) / 2L
      li.filter(col("l_orderkey") <= mid)
        .repartitionByRange(12, col("l_orderkey"))
        .sortWithinPartitions("l_orderkey").write.parquet(dir)
      Tables.writeManifest(s, dir, Seq("l_orderkey"))
      li.filter(col("l_orderkey") > mid)
        .repartitionByRange(4, col("l_orderkey"))
        .sortWithinPartitions("l_orderkey")
        .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(dir)
      Tables.refreshManifest(s, dir, Seq("l_orderkey"))
      assertManifestEqualsRebuild(dir, "l_orderkey")
      // q393 recipe: batch-overwrite ingest with a crash replay
      val lake = LakeFixtures.freshRoot("ingestchk") + "/lake"
      val ev = graft.sources.Tables.read(s, d, "events")
        .filter(col("ts").isNotNull)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), dayofmonth(col("ts")).as("dom"))
      def ingest(batchId: Long, pred: org.apache.spark.sql.Column): Unit = {
        ev.filter(pred).repartitionByRange(4, col("user_id"))
          .sortWithinPartitions("user_id")
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(s"$lake/batch-$batchId")
        Tables.refreshManifest(s, lake, Seq("user_id"))
      }
      ingest(0L, col("dom") <= 15)
      ingest(1L, col("dom") > 15)
      ingest(1L, col("dom") > 15) // crash replay of batch 1
      assertManifestEqualsRebuild(lake, "user_id")
    }

  /** q514's reassembly arm: version deltas must equal the batches
    * they landed as, base + deltas must reassemble the lake, and an
    * incremental scan must refuse a range a compaction rewrite
    * crossed. Fresh lake from the same memoized batch fixture. */
  def incrementalScanReassembles(s: SparkSession, d: String): Unit =
    once("incrementalScanReassembles", d) {
      import graft.incremental.Snapshots
      val root = LakeFixtures.freshRoot("incscanchk") + "/lake"
      val fx = LakeFixtures.eventsDayBatches(s, d)
      val ev = s.read.parquet(s"$fx/b1")
        .unionByName(s.read.parquet(s"$fx/b2"))
        .unionByName(s.read.parquet(s"$fx/b3"))
      LakeFixtures.copyInto(s, s"$fx/b1", root)
      Snapshots.commit(s, root) // v1
      LakeFixtures.copyInto(s, s"$fx/b2", root, append = true)
      Snapshots.commit(s, root) // v2
      LakeFixtures.copyInto(s, s"$fx/b3", root, append = true)
      Snapshots.commit(s, root) // v3
      val d12 = Snapshots.addedBetween(s, root, 1L, 2L)
      val d23 = Snapshots.addedBetween(s, root, 2L, 3L)
      val expect12 = s.read.parquet(s"$fx/b2")
      require(d12.exceptAll(expect12).isEmpty &&
          expect12.exceptAll(d12).isEmpty,
        "v1->v2 delta must be exactly the second batch")
      val assembled = Snapshots.readVersion(s, root, 1L)
        .unionByName(d12).unionByName(d23)
      require(assembled.exceptAll(ev).isEmpty &&
          ev.exceptAll(assembled).isEmpty,
        "base + consumed deltas must reassemble the lake")
      Snapshots.compact(s, root, targetBytes = 1L << 26) // v4
      val refused =
        try { Snapshots.addedBetween(s, root, 3L, 4L); false }
        catch { case _: IllegalArgumentException => true }
      require(refused,
        "incremental scan must refuse a range a rewrite crossed")
    }

  /** q523's replay arm: re-running every WAP batch (good, poisoned,
    * fixed) must be a fenced no-op — no new versions, no surviving
    * branches. Fresh lake + quarantine, the query's exact recipe. */
  def wapReplayIsNoOp(s: SparkSession, d: String): Unit =
    once("wapReplayIsNoOp", d) {
      import graft.incremental.Snapshots
      import graft.checks._
      import graft.streaming.Streaming
      val base = LakeFixtures.freshRoot("wapsinkchk")
      val root = base + "/lake"
      val quar = base + "/quarantine"
      val fx = LakeFixtures.eventsDayBatches(s, d)
      LakeFixtures.copyInto(s, s"$fx/b1", root)
      Snapshots.commit(s, root) // v1 base
      val suite = new CheckSuite(Seq(NotNull("event_id"),
        RowCountBetween(1)))
      val mid = s.read.parquet(s"$fx/b2")
      val good0 = mid.filter(col("day") <= 15)
      val poisoned = mid.filter(col("day") > 15)
        .withColumn("event_id",
          when(col("day") % 2 === 1, lit(null).cast("long"))
            .otherwise(col("event_id")))
      val fixed = mid.filter(col("day") > 15)
      Streaming.wapBatch(good0, 0L, root, suite, quar)    // -> v2
      Streaming.wapBatch(poisoned, 1L, root, suite, quar) // -> quarantine
      Streaming.wapBatch(fixed, 2L, root, suite, quar)    // -> v3
      Streaming.wapBatch(good0, 0L, root, suite, quar)
      Streaming.wapBatch(poisoned, 1L, root, suite, quar)
      Streaming.wapBatch(fixed, 2L, root, suite, quar)
      val vs = Snapshots.versions(s, root).select("version")
        .collect().map(_.getLong(0)).toSet
      require(vs == Set(1L, 2L, 3L),
        s"replay must not mint versions: $vs")
      require(Snapshots.branches(s, root).count() == 0L,
        "no branch may survive a resolved batch")
      val verdicts = s.read.parquet(s"$quar/batch-1/verdicts")
      require(verdicts.filter(!col("passed")).count() > 0,
        "the poisoned batch's failing verdict must be quarantined")
    }

  /** q450's population arm: upserting existing keys must preserve the
    * key population of the base (fresh lake, the query's recipe). */
  def upsertPreservesKeyPopulation(s: SparkSession, d: String): Unit =
    once("upsertPreservesKeyPopulation", d) {
      import graft.incremental.Deletes
      val root = LakeFixtures.freshRoot("upsertchk") + "/lake"
      val base = graft.sources.Tables.read(s, d, "orders")
        .filter(col("o_orderkey") % 5 === 0)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"))
      Deletes.initBase(s, root, base, 4)
      Deletes.upsert(s, root,
        base.filter(col("o_orderkey") % 20 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + lit(1000.0)),
        Seq("o_orderkey"))
      Deletes.upsert(s, root,
        base.filter(col("o_orderkey") % 20 === 0
            || col("o_orderkey") % 20 === 10)
          .withColumn("o_totalprice", col("o_totalprice") + lit(3000.0)),
        Seq("o_orderkey"))
      require(Deletes.readMerged(s, root).count() == base.count(),
        "upsert must preserve the key population")
      // q465's arm: as-of op 0 is the untouched base
      require(Deletes.readMergedAsOf(s, root, 0L).count() == base.count(),
        "asOf 0 must be the untouched base")
    }

  /** q530's equivalence arms: pruned time travel must equal the
    * pinned scan + row filter at v1, and the boxed content must be
    * stable across a clustered compaction. Fresh lake, the query's
    * recipe. */
  def prunedTimeTravelEqualsFiltered(s: SparkSession, d: String): Unit =
    once("prunedTimeTravelEqualsFiltered", d) {
      import graft.incremental.Snapshots
      val root = LakeFixtures.freshRoot("prunedttchk") + "/lake"
      LakeFixtures.copyInto(s, LakeFixtures.ordersDateSorted(s, d), root)
      Snapshots.commit(s, root) // v1
      Snapshots.compactClustered(s, root, nFiles = 4,
        sortCols = Seq("o_day")) // v2
      val lo = java.time.LocalDate.of(1996, 1, 1).toEpochDay
      val hi = java.time.LocalDate.of(1996, 3, 31).toEpochDay
      val box = Seq(("o_day", lo, hi))
      val p1 = Snapshots.readVersionPruned(s, root, 1L, box)
      val f1 = Snapshots.readVersion(s, root, 1L)
        .filter(col("o_day") >= lo && col("o_day") <= hi)
      require(p1.exceptAll(f1).isEmpty && f1.exceptAll(p1).isEmpty,
        "pruned time travel must equal the pinned scan + row filter")
      val p2 = Snapshots.readVersionPruned(s, root, 2L, box)
      require(p2.exceptAll(p1).isEmpty && p1.exceptAll(p2).isEmpty,
        "boxed content must be stable across the compaction")
    }

  /** q452's fold arm: the streamed EWMA delta fold (including a crash
    * replay) must equal the one-shot smoother bit-for-bit. */
  def ewmaFoldEqualsOneShot(s: SparkSession, d: String): Unit =
    once("ewmaFoldEqualsOneShot", d) {
      val dir = LakeFixtures.freshRoot("ewmamchk") + "/deltas"
      val ev = graft.sources.Tables.read(s, d, "events")
        .filter(col("ts").isNotNull)
        .withColumn("dom", dayofmonth(col("ts")))
      def ingest(id: Long, pred: org.apache.spark.sql.Column): Unit =
        graft.streaming.Streaming.ewmaDeltaBatch(ev.filter(pred),
          "event_type", "ts")
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(s"$dir/delta-$id")
      ingest(0L, col("dom") <= 10)
      ingest(1L, col("dom") > 10 && col("dom") <= 20)
      ingest(2L, col("dom") > 20)
      ingest(2L, col("dom") > 20) // crash replay: overwrite, not add
      val folded = graft.streaming.Streaming.readEwma(s, dir, 0.5)
      val one = graft.operators.Timeseries.ewma(
        graft.streaming.Streaming.ewmaDeltaBatch(ev, "event_type", "ts")
          .withColumnRenamed("cnt", "y"),
        "key", "day", "y", 0.5)
      val diverged = folded.withColumnRenamed("ewma", "e_f")
        .join(one.withColumnRenamed("ewma", "e_o"),
          Seq("key", "day"), "full")
        .filter(!(col("e_f") <=> col("e_o"))).count()
      require(diverged == 0,
        s"replayed EWMA fold diverged from one-shot on $diverged days")
    }

  /** q480's equivalence arm: the zone-map-pruned merge-on-read view
    * must equal the full merged view filtered to the same box. */
  def mergedPrunedEqualsFull(s: SparkSession, d: String): Unit =
    once("mergedPrunedEqualsFull", d) {
      import graft.incremental.Deletes
      val root = LakeFixtures.freshRoot("mprnchk") + "/lake"
      val base = graft.sources.Tables.read(s, d, "orders")
        .filter(col("o_orderkey") % 5 === 0)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"))
      Deletes.initBaseClustered(s, root, base, 8, Seq("o_orderkey"))
      Deletes.upsert(s, root,
        base.filter(col("o_orderkey") % 20 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + lit(3000.0)),
        Seq("o_orderkey"))
      val hi = base.agg(max(col("o_orderkey"))).head().getLong(0) / 8L
      val pruned = Deletes.readMergedPruned(s, root,
        Seq(("o_orderkey", 1L, hi)))
      val full = Deletes.readMerged(s, root)
        .filter(col("o_orderkey").between(1L, hi))
      require(pruned.exceptAll(full).count() == 0L
          && full.exceptAll(pruned).count() == 0L,
        "pruned merge-on-read diverged from the full merged view")
    }

  /** q506/q511's fold arms: a KMV slice fold AND the streamed sink
    * fold (including a crash replay) must equal one-shot sketches. */
  def kmvFoldEqualsOneShot(s: SparkSession, d: String): Unit =
    once("kmvFoldEqualsOneShot", d) {
      import graft.functions.Kmv
      val k = 64
      val ev = graft.sources.Tables.read(s, d, "events")
        .filter(col("ts").isNotNull)
      val dom = dayofmonth(col("ts"))
      // q506: two-slice fold vs one-shot sketch rows
      val parts = Seq(ev.filter(dom <= 15), ev.filter(dom > 15))
        .map(df => Kmv.sketch(df, Seq("event_type"), "user_id", k))
      val folded = Kmv.merge(parts, Seq("event_type"), k)
      val oneShot = Kmv.sketch(ev, Seq("event_type"), "user_id", k)
      require(folded.exceptAll(oneShot).isEmpty &&
          oneShot.exceptAll(folded).isEmpty,
        "KMV fold must equal the one-shot sketch")
      // q511: sink-delta fold with a crash replay vs one-shot estimate
      val dir = LakeFixtures.freshRoot("kmvsinkchk") + "/deltas"
      def ingest(id: Long, pred: org.apache.spark.sql.Column): Unit =
        Kmv.sketch(ev.filter(pred), Seq("event_type"), "user_id", k)
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(s"$dir/delta-$id")
      ingest(0L, dom <= 10)
      ingest(1L, dom > 10 && dom <= 20)
      ingest(2L, dom > 20)
      ingest(1L, dom > 10 && dom <= 20) // crash replay: overwrite
      val sinkFolded = graft.streaming.Streaming.readKmvEstimate(s, dir,
        "event_type", k)
      val sinkOne = Kmv.estimate(oneShot, Seq("event_type"), k)
      require(sinkFolded.exceptAll(sinkOne).isEmpty &&
          sinkOne.exceptAll(sinkFolded).isEmpty,
        "replayed streamed KMV fold must equal the one-shot sketch")
    }

  /** q533's forensic arms: a hand-rolled cursor rollback re-drains the
    * last version as a downstream no-op, the folded downstream deltas
    * equal the one-shot aggregate, and a compaction-crossed tail
    * refuses. Fresh lake + cursor + downstream, the query's recipe. */
  def tailConsumerForensics(s: SparkSession, d: String): Unit =
    once("tailConsumerForensics", d) {
      import graft.incremental.Snapshots
      val base = LakeFixtures.freshRoot("tailchk")
      val root = s"$base/lake"; val cursor = s"$base/cursor"
      val out = s"$base/downstream"
      val fx = LakeFixtures.eventsDayBatches(s, d)
      def process(delta: org.apache.spark.sql.DataFrame, v: Long): Unit =
        delta.groupBy(floor(col("day") / 10).cast("long")
            .as("day_bucket"))
          .agg(count(lit(1)).as("n"),
            sum(col("user_id")).cast("long").as("sum_uid"))
          .coalesce(1)
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(s"$out/delta-v$v")
      LakeFixtures.copyInto(s, s"$fx/b1", root)
      Snapshots.commit(s, root) // v1
      LakeFixtures.copyInto(s, s"$fx/b2", root, append = true)
      Snapshots.commit(s, root) // v2
      require(Snapshots.consumeTail(s, root, cursor, process)
        == Seq(1L, 2L))
      LakeFixtures.copyInto(s, s"$fx/b3", root, append = true)
      Snapshots.commit(s, root) // v3
      require(Snapshots.consumeTail(s, root, cursor, process)
        == Seq(3L))
      // crash replay of the last version (cursor rolled back by hand)
      graft.incremental.SnapshotIo.writeLongs(
        s.sparkContext.hadoopConfiguration, cursor, "v", Seq(2L),
        overwrite = true)
      require(Snapshots.consumeTail(s, root, cursor, process)
        == Seq(3L))
      val folded = s.read.option("recursiveFileLookup", "true")
        .parquet(out)
        .groupBy(col("day_bucket"))
        .agg(sum(col("n")).cast("long").as("n"),
          sum(col("sum_uid")).cast("long").as("sum_uid"))
      val oneShot = Snapshots.readLatest(s, root)
        .groupBy(floor(col("day") / 10).cast("long").as("day_bucket"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(col("user_id")).cast("long").as("sum_uid"))
      require(folded.exceptAll(oneShot).isEmpty
          && oneShot.exceptAll(folded).isEmpty,
        "folded consumer deltas must equal the one-shot aggregate")
      Snapshots.compact(s, root, targetBytes = 1L << 26) // v4
      val refused =
        try { Snapshots.consumeTail(s, root, cursor, process); false }
        catch { case _: IllegalArgumentException => true }
      require(refused,
        "the tail must refuse a compaction-crossed range")
    }

  /** q534's forensic arms: every version + tag of a clone reads
    * identically, the clone pins its OWN files, and maintenance on
    * the clone never touches the source. Fresh src/dst pair. */
  def cloneForensics(s: SparkSession, d: String): Unit =
    once("cloneForensics", d) {
      import graft.incremental.Snapshots
      val base = LakeFixtures.freshRoot("clonechk")
      val src = s"$base/src"; val dst = s"$base/dst"
      val fx = LakeFixtures.eventsDayBatches(s, d)
      LakeFixtures.copyInto(s, s"$fx/b1", src)
      Snapshots.commit(s, src) // v1
      LakeFixtures.copyInto(s, s"$fx/b2", src, append = true)
      Snapshots.commit(s, src) // v2
      Snapshots.tag(s, src, "baseline", 1L)
      Snapshots.cloneLake(s, src, dst)
      (1L to 2L).foreach { v =>
        val a = Snapshots.readVersion(s, src, v)
        val b = Snapshots.readVersion(s, dst, v)
        require(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
          s"clone diverged at v$v")
      }
      require(Snapshots.readTag(s, dst, "baseline").count() ==
        Snapshots.readTag(s, src, "baseline").count())
      require(Snapshots.readLatest(s, dst).inputFiles
          .forall(_.contains("/dst/")),
        "clone pins must point inside the clone")
      val srcPre = Snapshots.readLatest(s, src)
        .agg(count(lit(1)).cast("long"), sum(col("user_id")).cast("long"))
        .head()
      Snapshots.compact(s, dst, targetBytes = 1L << 26) // dst v3
      Snapshots.dropTag(s, dst, "baseline")
      Snapshots.expire(s, dst, keepLast = 1)
      Snapshots.vacuum(s, dst)
      Snapshots.purgeWhere(s, dst, col("user_id") % 97 === 0)
      val srcPost = Snapshots.readLatest(s, src)
        .agg(count(lit(1)).cast("long"), sum(col("user_id")).cast("long"))
        .head()
      require(srcPre == srcPost,
        "clone maintenance must never touch the source")
      require(Snapshots.versions(s, src).count() == 2L)
    }

  /** q485/q489's time-travel arm: asOf(v2) must read bit-stably
    * ACROSS a compaction rewrite — verified for both the plain and
    * the clustered compactor on fresh lakes. */
  def rewriteAsOfStability(s: SparkSession, d: String): Unit =
    once("rewriteAsOfStability", d) {
      import graft.incremental.Snapshots
      def aggOf(df: org.apache.spark.sql.DataFrame) = df
        .agg(count(lit(1)).cast("long").as("n"),
          sum((col("o_totalprice").cast("decimal(12,2)") * 100)
            .cast("long")).cast("long").as("price_cents"),
          sum(col("o_orderkey")).cast("long").as("sum_ok"))
      // plain compactor (q485 recipe)
      val root = LakeFixtures.freshRoot("snapcompchk") + "/lake"
      val fx = LakeFixtures.ordersYearSplit(s, d)
      LakeFixtures.copyInto(s, s"$fx/b1", root)
      Snapshots.commit(s, root)
      LakeFixtures.copyInto(s, s"$fx/b2", root, append = true)
      Snapshots.commit(s, root)
      val pre = aggOf(Snapshots.readVersion(s, root, 2L))
        .localCheckpoint(true)
      Snapshots.compact(s, root, 1L)
      val post = aggOf(Snapshots.readVersion(s, root, 2L))
      require(pre.exceptAll(post).isEmpty && post.exceptAll(pre).isEmpty,
        "asOf(v2) changed across the compaction rewrite")
      // clustered compactor (q489 recipe)
      val cr = LakeFixtures.freshRoot("snapclustchk") + "/lake"
      val o = graft.sources.Tables.read(s, d, "orders")
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderdate"))
      o.filter(col("o_orderkey") % 2 === 0)
        .repartition(16).write.parquet(cr)
      Snapshots.commit(s, cr)
      o.filter(col("o_orderkey") % 2 === 1)
        .repartition(16).write.mode("append").parquet(cr)
      val v2 = Snapshots.commit(s, cr)
      val cpre = aggOf(Snapshots.readVersion(s, cr, v2))
        .localCheckpoint(true)
      Snapshots.compactClustered(s, cr, nFiles = 8, Seq("o_orderkey"))
      val cpost = aggOf(Snapshots.readVersion(s, cr, v2))
      require(cpre.exceptAll(cpost).isEmpty
          && cpost.exceptAll(cpre).isEmpty,
        "asOf(v2) changed across the clustered rewrite")
    }

  /** The bench warm-up hook — run every cross-check untimed
    * ([[graft.Bench]] calls this beside LakeFixtures.warmAll). */
  def warmAll(s: SparkSession, d: String): Unit = {
    // NonFatal only (round-15 ADVICE): a fatal JVM error (OOM,
    // interrupt) during warm-up must propagate immediately — swallowed
    // here it would just resurface inside the timed rep and skew the
    // very measurement this hook protects. A NonFatal failure stays
    // quiet: the correctness gate re-runs the check and raises there.
    def quiet(b: => Unit): Unit =
      try b catch { case scala.util.control.NonFatal(_) => () }
    quiet(ivfPqAppendEqualsFlat(s, d))
    quiet(dtwBlockedEqualsAllPairs(s, d))
    quiet(aggMergeFoldEqualsOneShot(s, d))
    quiet(purgeWhereForensics(s, d))
    quiet(dedupPurgeForensics(s, d))
    quiet(morPurgeForensics(s, d))
    quiet(dtwPrunedEqualsBrute(s, d))
    quiet(ivfPqBudgetMonotone(s, d))
    quiet(fifoConservation(s, d))
    quiet(cdcApplyRoundTrip(s, d))
    quiet(deleteCompactionPreservesLive(s, d))
    quiet(sequencedCompactionPreservesMerged(s, d))
    quiet(manifestRefreshEqualsRebuild(s, d))
    quiet(incrementalScanReassembles(s, d))
    quiet(wapReplayIsNoOp(s, d))
    quiet(upsertPreservesKeyPopulation(s, d))
    quiet(ewmaFoldEqualsOneShot(s, d))
    quiet(mergedPrunedEqualsFull(s, d))
    quiet(kmvFoldEqualsOneShot(s, d))
    quiet(tailConsumerForensics(s, d))
    quiet(cloneForensics(s, d))
    quiet(rewriteAsOfStability(s, d))
    quiet(prunedTimeTravelEqualsFiltered(s, d))
  }
}
