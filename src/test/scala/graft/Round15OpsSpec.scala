package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Round-15: the r14 ADVICE hardening set (view-safe tag names in the
  * lake SQL surface, retained-version-intersected tail reporting,
  * vacuum's restore-before-sweep of orphaned manifest trash), plus the
  * round's new surfaces specced beside their queries. */
class Round15OpsSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String) =
    java.nio.file.Files.createTempDirectory(s"r15_$tag").toString

  private def twoVersionLake(root: String): Unit = {
    import graft.incremental.Snapshots
    (0L until 40L).map(k => (k, s"payload-$k")).toDF("k", "v")
      .coalesce(2).write.parquet(root)
    Snapshots.commit(spark, root) // v1
    (40L until 60L).map(k => (k, s"payload-$k")).toDF("k", "v")
      .coalesce(1).write.mode("append").parquet(root)
    Snapshots.commit(spark, root) // v2
  }

  // ---------------------------------------------------------------
  // registerLake — dotted/dashed tags must register (r14 ADVICE #1)
  // ---------------------------------------------------------------

  test("registerLake sanitizes dotted/dashed tag names into view-safe " +
    "identifiers; colliding sanitized names raise loudly") {
    import graft.incremental.Snapshots
    val root = tmp("dottag") + "/lake"
    twoVersionLake(root)
    Snapshots.tag(spark, root, "rel.1", 1L)
    Snapshots.tag(spark, root, "audit-2024", 2L)
    graft.sql.SqlCatalog.registerLake(spark, root, "dotlake")
    assert(spark.sql("SELECT count(*) AS n FROM dotlake_at_rel_1")
      .head().getLong(0) == 40L)
    assert(spark.sql("SELECT count(*) AS n FROM dotlake_at_audit_2024")
      .head().getLong(0) == 60L)
    // a second tag that sanitizes to the same view name must refuse
    Snapshots.tag(spark, root, "rel-1", 2L)
    val refused =
      try { graft.sql.SqlCatalog.registerLake(spark, root, "dotlake"); false }
      catch { case _: IllegalArgumentException => true }
    assert(refused, "colliding sanitized tag names must raise")
  }

  // ---------------------------------------------------------------
  // registerLakeTail — pending ∩ retained (r14 ADVICE #2)
  // ---------------------------------------------------------------

  test("registerLakeTail reports only RETAINED pending versions after " +
    "expire (never expired/nonexistent ones)") {
    import graft.incremental.Snapshots
    val base = tmp("tailexp")
    val root = s"$base/lake"; val cursor = s"$base/cursor"
    twoVersionLake(root)
    (60L until 70L).map(k => (k, s"payload-$k")).toDF("k", "v")
      .coalesce(1).write.mode("append").parquet(root)
    Snapshots.commit(spark, root) // v3
    Snapshots.expire(spark, root, keepLast = 1) // drops v1, v2
    val pending = graft.sql.SqlCatalog.registerLakeTail(
      spark, root, cursor, "tail_exp_view")
    assert(pending == Seq(3L),
      s"expired versions must not be reported pending, got $pending")
    // the fresh-consumer view reads the head's full content
    assert(spark.sql("SELECT count(*) FROM tail_exp_view")
      .head().getLong(0) == 70L)
  }

  // ---------------------------------------------------------------
  // vacuum — restore orphaned .trash manifests (r14 ADVICE #3)
  // ---------------------------------------------------------------

  test("vacuum restores a .trash-* manifest whose visible twin is " +
    "missing (crash between the overwrite renames) instead of " +
    "sweeping it — and never deletes that version's files") {
    import graft.incremental.Snapshots
    import org.apache.hadoop.fs.Path
    val root = tmp("trashfix") + "/lake"
    (0L until 40L).map(k => (k, s"payload-$k")).toDF("k", "v")
      .coalesce(2).write.parquet(root)
    Snapshots.commit(spark, root) // v1
    // v2 is a compaction: v1's originals are referenced by v1 ONLY,
    // so losing v1's manifest would make them vacuum-eligible — the
    // exact permanent-loss window the repair closes
    Snapshots.compact(spark, root, targetBytes = 1L << 26) // v2
    val v1Files = Snapshots.pinnedFiles(spark, root, 1L)
    assert(Snapshots.pinnedFiles(spark, root, 2L)
      .intersect(v1Files).isEmpty)
    val fs = new Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate the crash window: v=1's manifest renamed aside, the
    // replacement never renamed in
    val snapDir = new Path(s"$root/_graft_snapshots/v=1")
    val trash = new Path(s"$root/_graft_snapshots/.trash-v=1-deadbeef")
    assert(fs.rename(snapDir, trash))
    assert(Snapshots.versions(spark, root).count() == 1L,
      "the orphaned manifest must be invisible pre-repair")
    val swept = Snapshots.vacuum(spark, root)
    // restored: v1 visible again, its exclusive files untouched
    assert(Snapshots.versions(spark, root).collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 2L))
    v1Files.foreach(f => assert(fs.exists(new Path(f)),
      s"vacuum deleted $f out from under the restored manifest"))
    assert(Snapshots.readVersion(spark, root, 1L).count() == 40L)
    assert(swept.isEmpty,
      s"every file is referenced post-repair, yet swept $swept")
    assert(!fs.exists(trash), "the restored trash dir must be gone")
  }

  // ---------------------------------------------------------------
  // Zone-map-pruned purge detection (VERDICT r14 #2)
  // ---------------------------------------------------------------

  test("subjectCandidateFiles: hull prune on long keys, string keys, " +
    "empty subjects, and the non-prunable fallback") {
    val root = tmp("candfiles") + "/lake"
    (0 until 4).foreach { i =>
      spark.range(i * 100L, (i + 1) * 100L)
        .select(col("id").as("k"), col("id").cast("string").as("s"),
          (col("id") * 1.5).as("x"))
        .coalesce(1)
        .write.mode(if (i == 0) "errorifexists" else "append")
        .parquet(root)
    }
    val files = spark.read.parquet(root).inputFiles.toSeq.sorted
    assert(files.size == 4)
    val schema = spark.read.parquet(root).schema
    def cand(subj: org.apache.spark.sql.DataFrame, cols: Seq[String]) =
      graft.sources.Tables.subjectCandidateFiles(spark, files, schema,
        cols, subj)
    def fileRange(f: String): (Long, Long) = {
      val r = spark.read.parquet(f).agg(min(col("k")), max(col("k"))).head()
      (r.getLong(0), r.getLong(1))
    }
    // long key, subjects inside one file's range
    val one = cand(Seq(7L, 55L).toDF("k"), Seq("k"))
    assert(one.size == 1 && fileRange(one.head) == (0L, 99L))
    // subjects spanning two files
    assert(cand(Seq(7L, 155L).toDF("k"), Seq("k")).size >= 2)
    // empty subject frame: nothing can match
    assert(cand(Seq.empty[Long].toDF("k"), Seq("k")).isEmpty)
    // string key prunes lexically: hull ["101","150"] overlaps file 0
    // ("0".."99" — "101" sorts below "99") and file 1 ("100".."199"),
    // but rules out files 2 and 3 ("2..".."3..")
    val sCand = cand(Seq("101", "150").toDF("s"), Seq("s"))
    assert(sCand.size == 2 &&
      sCand.map(fileRange).toSet == Set((0L, 99L), (100L, 199L)))
    // double key: no sound hull -> full fallback
    assert(cand(Seq(7.5, 8.5).toDF("x"), Seq("x")) == files)
  }

  test("purgeMatching detection SCANS only the candidate files " +
    "(scan metrics: subjects hit 1 of 4 files -> every lake scan " +
    "during the purge reads at most 1 file)") {
    import graft.incremental.Snapshots
    val root = tmp("zmpurge") + "/lake"
    (0 until 4).foreach { i =>
      spark.range(i * 100L, (i + 1) * 100L)
        .select(col("id").as("k"),
          concat(lit("p"), col("id")).as("v"))
        .coalesce(1)
        .write.mode(if (i == 0) "errorifexists" else "append")
        .parquet(root)
      Snapshots.commit(spark, root) // v1..v4
    }
    val subjects = Seq(7L, 55L).toDF("k")
    val (rep, sizes) = withLakeScanSizes("/lake") {
      Snapshots.purgeMatching(spark, root, subjects, "k").head()
    }
    assert(rep.getLong(3) == 2L, s"rows_purged: $rep")
    assert(sizes.nonEmpty && sizes.forall(_ <= 1L),
      s"purge scanned more than the 1 candidate file: $sizes")
    // correctness: every version subject-free, keepers intact
    (1L to 4L).foreach { v =>
      val got = Snapshots.readVersion(spark, root, v)
      assert(got.filter(col("k").isin(7L, 55L)).count() == 0L)
      assert(got.count() == v * 100L - (if (v >= 1) 2L else 0L))
    }
  }

  test("Deletes.purgeMatching with a clustered base: pruned detection " +
    "reports and content equal the unclustered twin's") {
    import graft.incremental.Deletes
    val base = spark.range(0L, 400L)
      .select(col("id").as("k"), (col("id") % 7).as("grp"))
    val a = tmp("morzmA") + "/lake"; val b = tmp("morzmB") + "/lake"
    Deletes.initBaseClustered(spark, a, base, 4, Seq("k"))
    Deletes.initBase(spark, b, base, 1)
    Seq(a, b).foreach { root =>
      Deletes.upsert(spark, root,
        base.filter(col("k") < 10)
          .withColumn("grp", col("grp") + 100), Seq("k"))
    }
    val subjects = Seq(3L, 5L, 77L).toDF("k")
    val ra = Deletes.purgeMatching(spark, a, subjects, Seq("k")).head()
    val rb = Deletes.purgeMatching(spark, b, subjects, Seq("k")).head()
    // same rows/keys purged (dir counts differ by layout, rows never)
    assert(ra.getLong(2) == rb.getLong(2) && ra.getLong(3) == rb.getLong(3))
    val va = Deletes.readMerged(spark, a)
    val vb = Deletes.readMerged(spark, b)
    assert(va.exceptAll(vb).isEmpty && vb.exceptAll(va).isEmpty)
    assert(va.filter(col("k").isin(3L, 5L, 77L)).count() == 0L)
  }

  // ---------------------------------------------------------------
  // Auto-ANALYZE on commit (VERDICT r14 #4)
  // ---------------------------------------------------------------

  /** Scan-metrics recorder shared by the delta-only proofs: collects
    * numFiles of every FileSourceScan whose root paths hit `marker`. */
  private def withLakeScanSizes[A](marker: String)(body: => A)
      : (A, Seq[Long]) = {
    val sizes =
      new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
    def rec(plan: org.apache.spark.sql.execution.SparkPlan): Unit =
      plan match {
        case a: org.apache.spark.sql.execution.adaptive
            .AdaptiveSparkPlanExec => rec(a.executedPlan)
        // AQE materializes finished stages as LEAF wrappers — their
        // scans live under .plan, not .children
        case q: org.apache.spark.sql.execution.adaptive
            .QueryStageExec => rec(q.plan)
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          if (f.relation.location.rootPaths
              .exists(_.toString.contains(marker)))
            sizes.add(f.metrics("numFiles").value)
        case p => p.children.foreach(rec)
      }
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = rec(qe.executedPlan)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val out =
      try {
        val a = body
        val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
        while (sizes.isEmpty && System.nanoTime() < deadline)
          Thread.sleep(50)
        Thread.sleep(200) // drain stragglers
        a
      } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    (out, sizes.asScala.map(_.longValue()).toSeq)
  }

  test("declared stats columns auto-refresh on commit: the append " +
    "commit's refresh reads ONLY the new files (scan metrics) and " +
    "its sketch is bit-identical to a full re-analyze") {
    import graft.incremental.Snapshots
    val root = tmp("autostats") + "/lake"
    spark.range(0L, 3000L)
      .select(col("id").as("k"), (col("id") % 17).as("grp"))
      .coalesce(4).write.parquet(root)
    Snapshots.setStatsColumns(spark, root, Seq("k", "grp"))
    Snapshots.commit(spark, root) // v1: full analyze, automatic
    assert(Snapshots.ndvOf(spark, root, 1L, "grp").contains(17.0))
    // append ONE new file; the auto-refresh may read only it
    spark.range(3000L, 3300L)
      .select(col("id").as("k"), (col("id") % 23).as("grp"))
      .coalesce(1).write.mode("append").parquet(root)
    val (_, sizes) = withLakeScanSizes("/lake") {
      Snapshots.commit(spark, root) // v2: incremental, automatic
    }
    assert(sizes.nonEmpty && sizes.forall(_ <= 1L),
      s"the append commit's stats refresh scanned old files: $sizes")
    assert(Snapshots.ndvOf(spark, root, 2L, "grp").contains(23.0))
    // bit-identical to a from-scratch analyze of v2
    val conf = spark.sparkContext.hadoopConfiguration
    def hashes(c: String) = graft.incremental.SnapshotIo.readLongs(
      conf, s"$root/_graft_snapshots/stats/v=2/$c", "h")
    val auto = Seq("k", "grp").map(hashes)
    Snapshots.analyze(spark, root, 2L, Seq("k", "grp"))
    assert(Seq("k", "grp").map(hashes) == auto,
      "auto-incremental sketch diverged from the full re-analyze")
  }

  test("compact commits COPY the declared stats forward (zero scan, " +
    "NDV identical); a commit with nothing declared stays stat-free") {
    import graft.incremental.Snapshots
    val root = tmp("autocompact") + "/lake"
    spark.range(0L, 500L).select(col("id").as("k"))
      .coalesce(3).write.parquet(root)
    Snapshots.setStatsColumns(spark, root, Seq("k"))
    Snapshots.commit(spark, root) // v1
    Snapshots.compact(spark, root, targetBytes = 1L << 26) // v2
    assert(Snapshots.ndvOf(spark, root, 2L, "k") ==
      Snapshots.ndvOf(spark, root, 1L, "k"))
    // an undeclared lake: commit writes no stats
    val bare = tmp("nostats") + "/lake"
    spark.range(0L, 10L).select(col("id").as("k"))
      .coalesce(1).write.parquet(bare)
    Snapshots.commit(spark, bare)
    assert(Snapshots.ndvOf(spark, bare, 1L, "k").isEmpty)
  }

  // ---------------------------------------------------------------
  // MOR lake SQL surface (VERDICT r14 #5)
  // ---------------------------------------------------------------

  test("registerMorLake: live merged view, as-of time travel, and the " +
    "op audit log all answer through spark.sql text") {
    import graft.incremental.Deletes
    val root = tmp("morsql") + "/lake"
    val base = (0L until 100L).map(k => (k, s"v0-$k")).toDF("k", "v")
    Deletes.initBase(spark, root, base, 2) // op 0
    Deletes.upsert(spark, root,
      (0L until 10L).map(k => (k, s"v1-$k")).toDF("k", "v"),
      Seq("k")) // op 1
    Deletes.upsert(spark, root,
      (5L until 15L).map(k => (k, s"v2-$k")).toDF("k", "v"),
      Seq("k")) // op 2
    graft.sql.SqlCatalog.registerMorLake(spark, root, "morspec")
    // live: keys 5..14 carry v2, 0..4 carry v1, rest v0
    assert(spark.sql(
      "SELECT count(*) FROM morspec WHERE v LIKE 'v2-%'")
      .head().getLong(0) == 10L)
    assert(spark.sql(
      "SELECT count(*) FROM morspec WHERE v LIKE 'v1-%'")
      .head().getLong(0) == 5L)
    assert(spark.sql("SELECT count(*) FROM morspec")
      .head().getLong(0) == 100L)
    // as-of op1: keys 0..9 carry v1, none carry v2
    assert(spark.sql(
      "SELECT count(*) FROM morspec_asof_1 WHERE v LIKE 'v1-%'")
      .head().getLong(0) == 10L)
    assert(spark.sql(
      "SELECT count(*) FROM morspec_asof_1 WHERE v LIKE 'v2-%'")
      .head().getLong(0) == 0L)
    // as-of op0: the untouched base
    assert(spark.sql(
      "SELECT count(*) FROM morspec_asof_0 WHERE v LIKE 'v0-%'")
      .head().getLong(0) == 100L)
    // op audit: 3 ops; op 0 has adds only, ops 1-2 both sides
    val ops = spark.sql(
      "SELECT op, n_add_files, n_tombstone_files FROM morspec_ops " +
        "ORDER BY op").collect()
    assert(ops.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))
    assert(ops(0).getLong(1) == 2L && ops(0).getLong(2) == 0L)
    assert(ops(1).getLong(1) >= 1L && ops(1).getLong(2) == 1L)
  }

  // ---------------------------------------------------------------
  // Optimistic multi-writer commit (VERDICT r14 #6)
  // ---------------------------------------------------------------

  test("commitRetry: the race loser re-lists and lands the next " +
    "version with BOTH batches pinned; pathological contention " +
    "raises after maxAttempts") {
    import graft.incremental.Snapshots
    val root = tmp("ccommit") + "/lake"
    (0L until 50L).map(k => (k, "a")).toDF("k", "w")
      .coalesce(1).write.parquet(root)
    Snapshots.commit(spark, root) // v1
    (50L until 80L).map(k => (k, "b")).toDF("k", "w")
      .coalesce(1).write.mode("append").parquet(root)
    var n = 0
    val landed = Snapshots.commitRetry(spark, root, beforeWrite = _ => {
      n += 1
      if (n == 1) {
        (80L until 90L).map(k => (k, "a2")).toDF("k", "w")
          .coalesce(1).write.mode("append").parquet(root)
        Snapshots.commit(spark, root) // the winner takes v2
      }
    })
    assert(n == 2 && landed == 3L)
    assert(Snapshots.versions(spark, root).count() == 3L)
    val head = Snapshots.readLatest(spark, root)
    assert(head.count() == 90L, "both raced batches must be pinned")
    assert(head.filter(col("w") === "b").count() == 30L)
    // a winner on EVERY attempt exhausts maxAttempts and raises
    val raised =
      try {
        Snapshots.commitRetry(spark, root, maxAttempts = 2,
          beforeWrite = v => Snapshots.commitAt(spark, root, v))
        false
      } catch { case e: IllegalStateException =>
        e.getMessage.contains("lost the commit race") }
    assert(raised, "straight losses must surface, not spin")
  }

  // ---------------------------------------------------------------
  // MJPEG-in-AVI frame decode (VERDICT r14 #8)
  // ---------------------------------------------------------------

  test("MJPEG AVI frames: the container round-trips through the " +
    "existing metadata reader, every frame JPEG-decodes, and the " +
    "gradient fixtures' aHashes hit their analytic constants") {
    import graft.llmdata.Multimodal
    val media = (0L until 8L).map { id =>
      (id, Multimodal.mjpegAviBytes(
        (0 until 6).map(f =>
          Multimodal.jpegGradientFrame(64, 64, ((id + f) % 4).toInt)),
        usPerFrame = 40000L, width = 64, height = 64))
    }.toDF("asset_id", "payload")
    val meta = Multimodal.videoContainerMeta(media).collect()
    assert(meta.length == 8 && meta.forall(m =>
      m.parsed && m.container == "avi" && m.width == 64 &&
        m.height == 64 && m.duration_ms == 240L))
    val frames = Multimodal.aviMjpegFrames(media).collect()
    assert(frames.length == 48 && frames.forall(_.decoded))
    val expected = Map(
      0L -> 0xF0F0F0F0F0F0F0F0L, 1L -> 0x0F0F0F0F0F0F0F0FL,
      2L -> 0xFFFFFFFF00000000L, 3L -> 0x00000000FFFFFFFFL)
    frames.foreach { f =>
      assert(f.ahash == expected((f.asset_id + f.frame_index) % 4),
        s"unexpected aHash for $f")
    }
    // frame sampling
    assert(Multimodal.aviMjpegFrames(media, frameStep = 2).count() == 24L)
    // garbage payloads flag-and-continue (emit nothing, never throw)
    val junk = Seq((99L, Array.fill[Byte](64)(7.toByte)))
      .toDF("asset_id", "payload")
    assert(Multimodal.aviMjpegFrames(junk).count() == 0L)
  }

  // ---------------------------------------------------------------
  // Auto-manifest on commit + manifest-planned time travel (r15)
  // ---------------------------------------------------------------

  test("declared manifest columns auto-refresh on commit; " +
    "readVersionPrunedManifest prunes to the value-carrying tranche, " +
    "matches the live-footer pruned read, and keeps purge " +
    "replacements visible via NULL-bounds conservatism") {
    import graft.incremental.Snapshots
    val root = tmp("automani") + "/lake"
    (0 until 3).foreach { i =>
      spark.range(i * 100L, (i + 1) * 100L)
        .select(col("id").as("k"), (col("id") * 3).as("v"))
        .coalesce(1)
        .write.mode(if (i == 0) "errorifexists" else "append")
        .parquet(root)
      // declare after the first batch lands (the declaration dir
      // makes the lake root exist) — the first commit then builds
      // the manifest, later commits refresh it O(new files)
      if (i == 0) Snapshots.setManifestColumns(spark, root, Seq("k"))
      Snapshots.commit(spark, root)
    }
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$root/_graft_manifest")), "commit must auto-build the manifest")
    // probe as-of v2 for tranche 1 only: 1 of the 2 pinned files opens
    val probe = Snapshots.readVersionPrunedManifest(spark, root, 2L,
      Seq(("k", 0L, 99L)))
    assert(probe.inputFiles.length == 1)
    assert(probe.count() == 100L)
    // equals the live-footer pruned composition
    val live = Snapshots.readVersionPruned(spark, root, 2L,
      Seq(("k", 0L, 99L)))
    assert(probe.exceptAll(live).isEmpty && live.exceptAll(probe).isEmpty)
    // purge rewrites a pinned file to a path the manifest doesn't
    // know; the probe must still see the replacement (NULL bounds
    // keep) and drop the purged key everywhere
    Snapshots.purgeMatching(spark, root, Seq(7L).toDF("k"), "k")
    val post = Snapshots.readVersionPrunedManifest(spark, root, 2L,
      Seq(("k", 0L, 99L)))
    assert(post.count() == 99L)
    assert(post.filter(col("k") === 7L).count() == 0L)
    assert(post.filter(col("k") === 8L).count() == 1L,
      "the replacement file's rows must stay visible")
  }

  test("quadrant-pattern frames: decoded aHash equals the analytic " +
    "OR of light-quadrant masks; videoNearDupPairs counts shared " +
    "frame hashes per video pair") {
    import graft.llmdata.Multimodal
    val masks = Seq(252645135L, 4042322160L, 1085102592318504960L,
      -1085102596613472256L) // M00 M10 M01 M11 (bottom-right signed)
    def expected(code: Int): Long =
      (0 until 4).map(b => if (((code >> b) & 1) == 1) masks(b) else 0L)
        .reduce(_ | _)
    val media = (1 to 14).map { code =>
      (code.toLong, Multimodal.mjpegAviBytes(
        Seq(Multimodal.jpegQuadFrame(64, 64, code)),
        usPerFrame = 40000L, width = 64, height = 64))
    }.toDF("asset_id", "payload")
    val frames = Multimodal.aviMjpegFrames(media).collect()
    assert(frames.length == 14 && frames.forall(_.decoded))
    frames.foreach(f => assert(f.ahash == expected(f.asset_id.toInt),
      s"code ${f.asset_id}: got ${f.ahash}, want " +
        s"${expected(f.asset_id.toInt)}"))
    // flat codes (0, 15) are excluded like undecodable payloads
    val flat = (0 to 15 by 15).map { code =>
      (code.toLong, Multimodal.mjpegAviBytes(
        Seq(Multimodal.jpegQuadFrame(64, 64, code)),
        usPerFrame = 40000L, width = 64, height = 64))
    }.toDF("asset_id", "payload")
    assert(Multimodal.aviMjpegFrames(flat).collect()
      .forall(!_.decoded))
    // pair counting: videos A{1,2,3}, B{2,3,4}, C{9} -> (A,B) share 2
    val vids = Seq(
      (100L, Seq(1, 2, 3)), (101L, Seq(2, 3, 4)), (102L, Seq(9)))
      .map { case (id, codes) =>
        (id, Multimodal.mjpegAviBytes(
          codes.map(Multimodal.jpegQuadFrame(64, 64, _)),
          usPerFrame = 40000L, width = 64, height = 64))
      }.toDF("asset_id", "payload")
    val pairs = Multimodal.videoNearDupPairs(
      Multimodal.aviMjpegFrames(vids), minShared = 2).collect()
    assert(pairs.length == 1 &&
      pairs.head.getLong(0) == 100L && pairs.head.getLong(1) == 101L &&
      pairs.head.getLong(2) == 2L)
  }

  test("videoAlignPairs: a trimmed clip aligns at one dominant " +
    "offset with votes = clip length; scattered coincidences stay " +
    "below the threshold") {
    import graft.llmdata.Multimodal
    def vid(id: Long, codes: Seq[Int]) =
      (id, Multimodal.mjpegAviBytes(
        codes.map(Multimodal.jpegQuadFrame(64, 64, _)),
        usPerFrame = 40000L, width = 64, height = 64))
    // Y = frames 3..5 of X; Z shares code 2 with X (one scattered hit)
    val media = Seq(
      vid(10L, Seq(1, 2, 3, 4, 5, 6, 7, 8)),
      vid(11L, Seq(4, 5, 6)),
      vid(12L, Seq(9, 2, 11))).toDF("asset_id", "payload")
    val frames = Multimodal.aviMjpegFrames(media)
    val aligned = Multimodal.videoAlignPairs(frames, minAligned = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(aligned == Set((10L, 11L, 3L, 3L)),
      s"only the clip offset survives minAligned=2, got $aligned")
    // the full histogram still carries the scattered single votes
    val all = Multimodal.videoAlignPairs(frames, minAligned = 1)
      .collect()
    assert(all.exists(r => r.getLong(0) == 10L && r.getLong(1) == 12L
      && r.getLong(2) == 0L && r.getLong(3) == 1L),
      "X~Z share code 2 at offset 1-1=0 with a single vote")
    // duplicate frames vote once per (aFrame, bFrame) pair: X' has
    // code 5 twice, so the clip offset AND the duplicate's second
    // offset both appear
    val dup = Seq(vid(20L, Seq(5, 1, 5, 2)), vid(21L, Seq(5)))
      .toDF("asset_id", "payload")
    val hist = Multimodal.videoAlignPairs(
      Multimodal.aviMjpegFrames(dup), minAligned = 1).collect()
      .map(r => (r.getLong(2), r.getLong(3))).toSet
    assert(hist == Set((0L, 1L), (2L, 1L)),
      s"each duplicate frame votes at its own offset, got $hist")
  }

  test("audioFingerprints: constant-amplitude windows recover exact " +
    "quantized levels; audioAlignPairs finds the clip offset; " +
    "partial windows and non-audio payloads are handled") {
    import graft.llmdata.Multimodal
    // levels 3,1,4,1,5 with shingle 2 / levels 16 -> fps 49,20,65,21
    val wav = Multimodal.pcmWavBytes(Seq(3, 1, 4, 1, 5),
      windowFrames = 128)
    val media = Seq((1L, wav),
      (2L, "definitely not audio".getBytes("UTF-8")))
      .toDF("asset_id", "payload")
    val fps = Multimodal.audioFingerprints(media, windowFrames = 128,
      shingle = 2, levels = 16).collect()
    val ok = fps.filter(_.decoded).map(f => f.window_index -> f.fp).toMap
    assert(ok == Map(0L -> 49L, 1L -> 20L, 2L -> 65L, 3L -> 21L),
      s"got $ok")
    assert(fps.exists(f => f.asset_id == 2L && !f.decoded))
    // the trailing partial window is dropped: 640 samples read with
    // 96-frame windows -> floor(640/96)=6 full windows, 64 samples
    // discarded -> exactly 6-2+1 = 5 shingle positions
    val ragged = Multimodal.audioFingerprints(
      Seq((3L, wav)).toDF("asset_id", "payload"),
      windowFrames = 96, shingle = 2, levels = 16).collect()
    assert(ragged.count(_.decoded) == 5, s"got ${ragged.length}")
    // clip alignment: B = windows 2..4 of A -> offset 2, 2 shingles
    val a = Multimodal.pcmWavBytes(Seq(3, 1, 4, 1, 5, 9, 2, 6), 128)
    val b = Multimodal.pcmWavBytes(Seq(4, 1, 5, 9), 128)
    val pair = Seq((10L, a), (11L, b)).toDF("asset_id", "payload")
    val aligned = Multimodal.audioAlignPairs(
      Multimodal.audioFingerprints(pair, windowFrames = 128,
        shingle = 2, levels = 16), minAligned = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(aligned == Set((10L, 11L, 2L, 3L)),
      s"clip of 4 windows -> 3 two-shingles at offset 2, got $aligned")
  }

  test("appendChecked: declared constraints split each batch at " +
    "commit time — NULL predicates quarantine (conservative gate), " +
    "the CSV names failures in declaration order, versions advance " +
    "per checked append, and no declaration means plain append") {
    import graft.incremental.Snapshots
    val root = tmp("checked") + "/lake"
    val quar = tmp("checkedq") + "/q"
    // no declaration: plain append + commit
    val b0 = Seq((1L, "ok", 10.0)).toDF("k", "status", "amt")
    val (v0, g0, q0) = Snapshots.appendChecked(spark, root, b0, quar)
    assert(v0 == 1L && g0 == 1L && q0 == 0L)
    assert(!new java.io.File(quar).exists())
    Snapshots.setConstraints(spark, root, Seq(
      "status_ok" -> "status IN ('ok','fine')",
      "amt_pos" -> "amt > 0"))
    assert(Snapshots.constraints(spark, root).map(_._1) ==
      Seq("status_ok", "amt_pos"))
    val b1 = Seq(
      (2L, "ok", 5.0), // clean
      (3L, "bad", 7.0), // status only
      (4L, "ok", -1.0), // amount only
      (5L, "bad", -2.0), // both -> declaration order in the CSV
      (6L, null.asInstanceOf[String], 3.0) // NULL -> violation
    ).toDF("k", "status", "amt")
    val (v1, g1, q1) = Snapshots.appendChecked(spark, root, b1, quar)
    assert(v1 == 2L && g1 == 1L && q1 == 4L)
    val quarRows = spark.read.parquet(quar)
      .select("k", "violated_constraints").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(quarRows == Map(3L -> "status_ok", 4L -> "amt_pos",
      5L -> "status_ok,amt_pos", 6L -> "status_ok"), s"got $quarRows")
    // live table holds exactly the clean rows across both commits
    assert(Snapshots.readLatest(spark, root).select("k")
      .as[Long].collect().toSet == Set(1L, 2L))
    // quarantine accumulates across appends; live version advances
    val (v2, g2, q2) = Snapshots.appendChecked(spark, root,
      Seq((7L, "fine", 1.0), (8L, "nope", 1.0)).toDF("k", "status", "amt"),
      quar)
    assert(v2 == 3L && g2 == 1L && q2 == 1L)
    assert(spark.read.parquet(quar).count() == 5L)
    // a malformed predicate fails the write loudly, admits nothing
    Snapshots.setConstraints(spark, root, Seq("broken" -> "not a (("))
    intercept[Exception] {
      Snapshots.appendChecked(spark, root,
        Seq((9L, "ok", 1.0)).toDF("k", "status", "amt"), quar)
    }
    assert(Snapshots.readLatest(spark, root).count() == 3L,
      "the failed write must not admit rows")
    // name hygiene (ASCII-only: Unicode letters must refuse too)
    intercept[IllegalArgumentException] {
      Snapshots.setConstraints(spark, root, Seq("bad name" -> "1=1"))
    }
    intercept[IllegalArgumentException] {
      Snapshots.setConstraints(spark, root, Seq("statut_é" -> "1=1"))
    }
    intercept[IllegalArgumentException] {
      Snapshots.setConstraints(spark, root,
        Seq("a" -> "1=1", "a" -> "2=2"))
    }
  }

  test("binarySign packs sign bits exactly (incl. the wrapping top " +
    "bit and multi-word vectors); binaryHammingTopK with m = corpus " +
    "equals brute force") {
    import graft.llmdata.Similarity
    // dim d positive iff d in {0, 5, 63, 64, 70}: word0 has bits
    // 0,5,63 (top bit -> negative long), word1 has bits 0,6
    val v = (0 until 80).map(d =>
      if (Set(0, 5, 63, 64, 70)(d)) 1.0f else -1.0f).toArray
    val zero = Array.fill(80)(0.0f) // sign(0) = 0 everywhere
    val df = Seq((1L, v), (2L, zero)).toDF("vec_id", "embedding")
      .withColumn("b", Similarity.binarySign(col("embedding"), 80))
    val packed = df.select("vec_id", "b").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val w0 = (1L << 0) | (1L << 5) | (1L << 63)
    assert(packed(1L) == Seq(w0, (1L << 0) | (1L << 6)),
      s"got ${packed(1L)}")
    assert(w0 < 0L, "bit 63 must wrap into the sign bit")
    assert(packed(2L) == Seq(0L, 0L))
    // hamming(v, zero) = popcount(v's bits) = 5
    val h = df.filter(col("vec_id") === 1L)
      .select(Similarity.binaryHamming(col("b"),
        array(lit(0L), lit(0L)), nWords = 2)).head().getLong(0)
    assert(h == 5L)
    // with m = full corpus the two-stage result IS brute force
    val emb = graft.sources.Tables.read(spark,
      "/root/testdata/sf0.001", "embeddings")
    val queries = emb.filter(col("vec_id") < 4)
    val bin = Similarity.binaryHammingTopK(emb, queries, "vec_id",
        "embedding", dims = 64, m = 500, k = 3)
      .select("query_id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val brute = Similarity.bruteForceTopK(emb, queries, "vec_id",
        "embedding", k = 3)
      .select("query_id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2).toLong)).toSet
    assert(bin == brute, s"binary(m=all) must equal brute force")
  }

  test("binarySign's static word loop packs exactly what the guarded " +
    "per-word sequence form packed, at dims 1, 64, 80 and 129") {
    import graft.llmdata.Similarity
    // the previous form: every word folds 64 bits and a `d < dims`
    // guard keeps element_at inside the vector
    def guarded(vec: Column, dims: Int): Column =
      transform(sequence(lit(0), lit((dims + 63) / 64 - 1)), w =>
        aggregate(sequence(lit(0), lit(63)), lit(0L),
          (acc, b) => {
            val d = w * 64 + b
            when(d < dims &&
              element_at(vec, d + 1).cast("double") > 0d,
              acc.bitwiseOR(call_function("shiftleft", lit(1L), b)))
              .otherwise(acc)
          }))
    val rnd = new scala.util.Random(7)
    for (dims <- Seq(1, 64, 80, 129)) {
      val rows = (0L until 6L).map(id => (id,
        if (id == 0L) Array.fill(dims)(0.0f)
        else Array.fill(dims)(rnd.nextFloat() - 0.5f)))
      val got = rows.toDF("id", "v")
        .select(col("id"), Similarity.binarySign(col("v"), dims).as("n"),
          guarded(col("v"), dims).as("o"))
        .collect().map(r => (r.getLong(0), r.getSeq[Long](1), r.getSeq[Long](2)))
      assert(got.length == rows.length)
      got.foreach { case (id, n, o) =>
        assert(n == o, s"dims=$dims id=$id: $n vs $o")
        val expect = rows(id.toInt)._2.grouped(64).map(_.zipWithIndex
          .foldLeft(0L) { case (acc, (x, b)) =>
            if (x > 0f) acc | (1L << b) else acc }).toSeq
        assert(n == expect, s"dims=$dims id=$id: $n vs $expect")
      }
    }
  }

  test("restore mints a new version pinning the old file set; a " +
    "later append does not resurrect restored-away rows; " +
    "changesBetween streams inserts/deletes per commit and raises " +
    "on rewrite commits") {
    import graft.incremental.Snapshots
    val root = tmp("restorecdf") + "/lake"
    (0L until 40L).map(k => (k, k % 7)).toDF("k", "grp")
      .coalesce(2).write.parquet(root)
    Snapshots.commit(spark, root) // v1: 0..39
    (40L until 60L).map(k => (k, k % 7)).toDF("k", "grp")
      .coalesce(1).write.mode("append").parquet(root)
    Snapshots.commit(spark, root) // v2: + 40..59
    assert(Snapshots.restore(spark, root, 1L) == 3L)
    assert(Snapshots.readLatest(spark, root).count() == 40L)
    // history intact: v2 still time-travels
    assert(Snapshots.readVersion(spark, root, 2L).count() == 60L)
    // append after rollback: 40..59 must stay superseded
    (100L until 110L).map(k => (k, k % 7)).toDF("k", "grp")
      .coalesce(1).write.mode("append").parquet(root)
    Snapshots.commit(spark, root) // v4
    assert(Snapshots.readLatest(spark, root).select("k")
      .as[Long].collect().toSet == ((0L until 40L) ++
        (100L until 110L)).toSet,
      "the rolled-back batch must not resurrect")
    intercept[IllegalArgumentException] {
      Snapshots.restore(spark, root, 99L)
    }
    // CDF: v2 insert 40..59, v3 delete 40..59, v4 insert 100..109
    val feed = Snapshots.changesBetween(spark, root, 1L, 4L)
      .select(col("_commit_version"), col("_change_type"), col("k"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val byStep = feed.groupBy(t => (t._1, t._2))
      .map { case (k, v) => k -> v.map(_._3).toSet }
    assert(byStep == Map(
      (2L, "insert") -> (40L until 60L).toSet,
      (3L, "delete") -> (40L until 60L).toSet,
      (4L, "insert") -> (100L until 110L).toSet), s"got $byStep")
    // a compaction (add+drop in one commit) poisons the range
    Snapshots.compact(spark, root, targetBytes = 1L << 30) // v5
    intercept[IllegalArgumentException] {
      Snapshots.changesBetween(spark, root, 4L, 5L)
    }
    // ranges that stop before the rewrite still read
    assert(Snapshots.changesBetween(spark, root, 3L, 4L)
      .count() == 10L)
    // fromVersion = 0 streams from inception: v1's rows arrive as
    // inserts too
    val full = Snapshots.changesBetween(spark, root, 0L, 4L)
    assert(full.filter(col("_commit_version") === 1L &&
      col("_change_type") === "insert").count() == 40L)
    // a non-retained, nonzero fromVersion raises with guidance
    intercept[IllegalArgumentException] {
      Snapshots.changesBetween(spark, root, -3L, 4L)
    }
  }

  test("manifest planning prunes provably-empty files (n_rows = 0 " +
    "with NULL bounds) — the coalesce-empty-partition shape that " +
    "would otherwise defeat zone-map pruning") {
    import graft.incremental.Snapshots
    val root = tmp("emptyfile") + "/lake"
    val df = spark.range(0L, 100L).select(col("id").as("k"))
    df.coalesce(1).write.parquet(root)
    // an empty part file: zero rows, NULL footer bounds
    df.filter(col("k") < 0L).coalesce(1)
      .write.mode("append").parquet(root)
    df.filter(col("k") >= 50L && col("k") < 60L).coalesce(1)
      .write.mode("append").parquet(root)
    Snapshots.setManifestColumns(spark, root, Seq("k"))
    Snapshots.commit(spark, root)
    val m = spark.read.parquet(s"$root/_graft_manifest")
    assert(m.count() == 3L &&
      m.filter(col("n_rows") === 0L).count() == 1L,
      "the manifest must know the empty file")
    val probe = Snapshots.readVersionPrunedManifest(spark, root, 1L,
      Seq(("k", 50L, 59L)))
    assert(probe.inputFiles.length == 2,
      s"the empty file must be pruned despite NULL bounds, opened " +
        s"${probe.inputFiles.length}")
    assert(probe.count() == 20L) // rows 50..59 from both live files
  }

  test("videoScenes cuts where the frame-hash Hamming jump crosses " +
    "the threshold and keeps within-scene runs together; " +
    "audioVadSegments carves voiced islands with the min-run gate") {
    import graft.llmdata.Multimodal
    // codes 1,1,2,2,2,8,1: cuts at f=2 (1^2: 2 bits = 32 cells) and
    // f=5 (2^8), f=6 (8^1) -> scenes [0,1],[2,4],[5,5],[6,6]
    val media = Seq((5L, Multimodal.mjpegAviBytes(
      Seq(1, 1, 2, 2, 2, 8, 1).map(Multimodal.jpegQuadFrame(64, 64, _)),
      usPerFrame = 40000L, width = 64, height = 64)))
      .toDF("asset_id", "payload")
    val scenes = Multimodal.videoScenes(
      Multimodal.aviMjpegFrames(media), minHamming = 17).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(scenes == Set((0L, 0L, 1L, 2L), (1L, 2L, 4L, 3L),
      (2L, 5L, 5L, 1L), (3L, 6L, 6L, 1L)), s"got $scenes")
    // VAD: levels 0,3,3,0,4,0,5,5,5 -> voiced islands [1,2],[4,4],
    // [6,8]; minWindows=2 drops the singleton, indexes re-number
    val wav = Multimodal.pcmWavBytes(Seq(0, 3, 3, 0, 4, 0, 5, 5, 5),
      windowFrames = 96)
    val segs = Multimodal.audioVadSegments(
      Multimodal.audioEnergyWindows(
        Seq((9L, wav), (10L, "noise".getBytes("UTF-8")))
          .toDF("asset_id", "payload"), windowFrames = 96),
      silenceRms = 1.0 / 32, minWindows = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(segs == Set((9L, 0L, 1L, 2L, 2L), (9L, 1L, 6L, 8L, 3L)),
      s"got $segs")
  }
}
