package graft

import org.apache.spark.sql.functions._

/** Round-14: join-based history purge (purgeMatching), the purge
  * fence/schema-evolution hardening, and SnapshotIo's crash-safe
  * overwrite protocol (the r13 ADVICE items). */
class Round14OpsSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String) =
    java.nio.file.Files.createTempDirectory(s"r14_$tag").toString

  // ---------------------------------------------------------------
  // purgeMatching — set-valued RTBF without a driver collect
  // ---------------------------------------------------------------

  private def twoVersionLake(root: String): Unit = {
    import graft.incremental.Snapshots
    (0L until 40L).map(k => (k, s"payload-$k")).toDF("k", "v")
      .coalesce(2).write.parquet(root)
    Snapshots.commit(spark, root) // v1
    (40L until 60L).map(k => (k, s"payload-$k")).toDF("k", "v")
      .coalesce(1).write.mode("append").parquet(root)
    Snapshots.commit(spark, root) // v2
  }

  test("purgeMatching(subjects frame) ≡ purgeWhere(isin literals): " +
    "same report, same surviving content at every version; NULL " +
    "subject keys are ignored (isin semantics)") {
    import graft.incremental.Snapshots
    val a = tmp("pmA") + "/lake"; val b = tmp("pmB") + "/lake"
    twoVersionLake(a); twoVersionLake(b)
    val keys = Seq(3L, 7L, 41L, 59L, 999L) // 999 matches nothing
    val subjects = (keys.map(java.lang.Long.valueOf) :+
        null.asInstanceOf[java.lang.Long])
      .toDF("k")
    val repA = Snapshots.purgeMatching(spark, a, subjects, "k").head()
    val repB = Snapshots.purgeWhere(spark, b,
      col("k").isin(keys: _*)).head()
    assert(repA == repB, s"reports diverged: $repA vs $repB")
    assert(repA.getLong(3) == 4L) // 3, 7, 41, 59 each pinned once
    (1L to 2L).foreach { v =>
      val ga = Snapshots.readVersion(spark, a, v)
      val gb = Snapshots.readVersion(spark, b, v)
      assert(ga.exceptAll(gb).isEmpty && gb.exceptAll(ga).isEmpty,
        s"v$v content diverged between the join and predicate purges")
      assert(ga.filter(col("k").isin(keys: _*)).count() == 0L)
    }
  }

  test("purgeMatching scales past the isin comfort zone: a 50k-key " +
    "subject frame purges correctly (VERDICT r13 #1's done bar)") {
    import graft.incremental.Snapshots
    val root = tmp("pm50k") + "/lake"
    spark.range(0, 2500).select(col("id").as("k"))
      .coalesce(1).write.parquet(root)
    Snapshots.commit(spark, root) // v1
    spark.range(2500, 5000).select(col("id").as("k"))
      .coalesce(1).write.mode("append").parquet(root)
    Snapshots.commit(spark, root) // v2
    // 50_000 subjects; 4_000 of them (1000..4999) live in the lake
    val subjects = spark.range(1000, 51000).select(col("id").as("k"))
    val rep = Snapshots.purgeMatching(spark, root, subjects, "k").head()
    assert(rep.getLong(3) == 4000L,
      s"expected 4000 purged rows, got ${rep.getLong(3)}")
    assert(Snapshots.readVersion(spark, root, 1L).count() == 1000L)
    assert(Snapshots.readVersion(spark, root, 2L).count() == 1000L)
    assert(Snapshots.readLatest(spark, root)
      .agg(max(col("k"))).head().getLong(0) == 999L)
  }

  // ---------------------------------------------------------------
  // purge preserves path-encoded markers (the WAP publish fence)
  // ---------------------------------------------------------------

  test("purge rewrites keep the WAP batch tag in the pinned paths: a " +
    "published batch's merge-b<id>-v<N> segment survives the purge, " +
    "so a checkpoint replay still sees the publish fence") {
    import graft.incremental.Snapshots
    val root = tmp("pfence") + "/lake"
    Seq((1L, "seed")).toDF("k", "v").write.parquet(root)
    Snapshots.commit(spark, root) // v1
    Snapshots.createBranch(spark, root, "w", 1L)
    Snapshots.appendBranch(spark, root, "w",
      Seq((2L, "keep"), (3L, "forget")).toDF("k", "v").coalesce(1))
    Snapshots.mergeBranch(spark, root, "w", mergeTag = Some("b3")) // v2
    assert(Snapshots.allPinnedPaths(spark, root)
      .exists(_.contains("/merge-b3-v2/")))
    val rep = Snapshots.purgeWhere(spark, root, col("k") === 3L).head()
    assert(rep.getLong(3) == 1L)
    val pins = Snapshots.allPinnedPaths(spark, root)
    assert(pins.exists(_.contains("/merge-b3-v2/")),
      s"the publish fence segment must survive the purge: $pins")
    // the surviving pin is the REPLACEMENT, not the original
    assert(pins.filter(_.contains("/merge-b3-v2/"))
      .forall(_.contains("/purge-")),
      s"the fence-tagged pin should be the purge replacement: $pins")
    assert(Snapshots.readLatest(spark, root)
      .filter(col("k") === 3L).count() == 0L)
    assert(Snapshots.readLatest(spark, root).count() == 2L)
  }

  // ---------------------------------------------------------------
  // purge under schema evolution: disjunctive predicates
  // ---------------------------------------------------------------

  test("purgeWhere with a disjunctive predicate on an EVOLVED column " +
    "null-fills pre-evolution affected files instead of throwing " +
    "(r13 ADVICE low)") {
    import graft.incremental.Snapshots
    val root = tmp("pevo") + "/lake"
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "old_col")
      .coalesce(1).write.parquet(root)
    Snapshots.commitEvolving(spark, root) // v1: (k, old_col)
    Seq((4L, "d", 10L), (5L, "e", 20L)).toDF("k", "old_col", "new_col")
      .coalesce(1).write.mode("append").parquet(root)
    Snapshots.commitEvolving(spark, root) // v2: + new_col
    // old_col='b' lives only in the pre-evolution file (no new_col);
    // new_col=20 lives only in the evolved file
    val rep = Snapshots.purgeWhere(spark, root,
      col("old_col") === "b" || col("new_col") === 20L).head()
    assert(rep.getLong(3) == 2L, s"expected 2 purged rows, got $rep")
    val v2 = Snapshots.readVersionAs(spark, root, 2L)
    assert(v2.count() == 3L)
    assert(v2.filter(col("old_col") === "b" ||
      col("new_col") === 20L).count() == 0L)
    val v1 = Snapshots.readVersionAs(spark, root, 1L)
    assert(v1.columns.toSeq == Seq("k", "old_col"))
    assert(v1.count() == 2L && v1.filter(col("old_col") === "b")
      .count() == 0L)
  }

  // ---------------------------------------------------------------
  // SnapshotIo crash-safe overwrite protocol
  // ---------------------------------------------------------------

  test("manifest overwrite leaves no .trash debris on success, and " +
    "planted .tmp-/.trash- leftovers (a crashed write's residue) are " +
    "invisible to discovery and swept by vacuum") {
    import graft.incremental.Snapshots
    import org.apache.hadoop.fs.Path
    val root = tmp("trash") + "/lake"
    Seq((1L, "x")).toDF("k", "v").write.parquet(root)
    Snapshots.commit(spark, root)          // v1
    Snapshots.commitAt(spark, root, 2L)    // v2 (fresh)
    Snapshots.commitAt(spark, root, 2L)    // v2 again: OVERWRITE path
    Snapshots.tag(spark, root, "t1", 1L)
    Snapshots.tag(spark, root, "t1", 2L)   // re-tag: overwrite path
    val fs = new Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def hiddenDirs(): Seq[String] = {
      val it = fs.listFiles(new Path(root), true)
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      while (it.hasNext) {
        val p = it.next().getPath.toString
        if (p.contains("/.trash-") || p.contains("/.tmp-")) out += p
      }
      out.toSeq
    }
    assert(hiddenDirs().isEmpty,
      s"successful overwrites must clean their staging: ${hiddenDirs()}")
    // a crashed overwrite's residue: old manifest parked in .trash
    val snap = s"$root/_graft_snapshots"
    fs.mkdirs(new Path(s"$snap/.trash-v=2-dead"))
    fs.mkdirs(new Path(s"$snap/tags/.trash-t1-dead"))
    fs.mkdirs(new Path(s"$snap/.tmp-v=3-dead"))
    assert(Snapshots.versions(spark, root).count() == 2L,
      "trash/tmp dirs must not read as versions")
    assert(Snapshots.tags(spark, root).collect().map(_.getString(0))
      .toSeq == Seq("t1"), "trash dirs must not read as tags")
    Snapshots.vacuum(spark, root)
    assert(hiddenDirs().isEmpty, s"vacuum must sweep: ${hiddenDirs()}")
    assert(Snapshots.readTag(spark, root, "t1").count() == 1L)
  }

  // ---------------------------------------------------------------
  // no row-scale collect on SparkEntry data paths (VERDICT r13 #1)
  // ---------------------------------------------------------------

  test("every .collect() in SparkEntry is metadata-scale: each site " +
    "must sit beside a version/path/metadata marker (the q535 " +
    "loser-collect class is banned — purgeMatching exists for that)") {
    // SparkEntry and the query registry its maps are views of
    val files = new java.io.File("src/main/scala/graft/SparkEntry.scala") +:
      new java.io.File("src/main/scala/graft/registry").listFiles()
        .filter(_.getName.endsWith(".scala")).sortBy(_.getName).toSeq
    assert(files.size > 2, "query registry sources not found")
    val marker = "(?i)(version|path|metadata|footer)".r
    val bad = files.flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val lines = try src.getLines().toVector finally src.close()
      lines.zipWithIndex
        .filter(_._1.contains(".collect()"))
        .filterNot { case (_, i) =>
          val window = lines.slice(math.max(0, i - 2), i + 1).mkString(" ")
          marker.findFirstIn(window).isDefined
        }
        .map { case (l, i) => s"  ${f.getName}:${i + 1}: ${l.trim}" }
    }
    assert(bad.isEmpty,
      "row-scale collect suspects in the query registry (add a " +
        "metadata-scale marker comment if genuinely metadata, or " +
        "rewrite on a join):\n" + bad.mkString("\n"))
  }

  // ---------------------------------------------------------------
  // IVF staleness telemetry (VERDICT r13 #4)
  // ---------------------------------------------------------------

  test("ivfDriftStats scores appended-population drift, monotone in " +
    "the injected perturbation; a no-drift append scores ~zero") {
    import graft.llmdata.Similarity
    def vec(main: Int, off: Double, jit: Double) =
      Seq(0, 1, 2, 3).map(i =>
        (if (i == main) 1.0 - off else if (i == (main + 1) % 4) off
         else 0.0) + (if (i == main) jit else 0.0))
    // fitted corpus: two tight clusters on axes 0 and 1, ALTERNATING
    // by id so the lowest-id centroid seeds land one per cluster
    val base = (1L to 20L).map(id =>
        (id, vec(if (id % 2 == 1) 0 else 1, 0.0, 0.001 * id)))
      .toDF("id", "v")
    def driftOf(off: Double): Double = {
      val idx = tmp(s"drift$off") + "/idx"
      Similarity.ivfIndexWrite(base, "id", "v", idx, nCells = 2,
        lloydIters = 2)
      val batch = (101L to 120L).map(id =>
          (id, vec(if (id % 2 == 1) 0 else 1, off, 0.001 * (id - 100))))
        .toDF("id", "v")
      Similarity.ivfIndexAppend(spark, idx, batch, "id", "v")
      val rows = Similarity.ivfDriftStats(spark, idx,
          batch.select(col("id")), "id", "v")
        .filter(col("drift").isNotNull).collect()
      assert(rows.nonEmpty)
      rows.map(_.getAs[Double]("drift")).sum / rows.length
    }
    val none = driftOf(0.0)
    val mild = driftOf(0.1)
    val strong = driftOf(0.3)
    assert(math.abs(none) < 0.01,
      s"identically-distributed append must score ~0, got $none")
    assert(mild > 0.001 && strong > mild,
      s"drift must grow with the perturbation: $none < $mild < $strong")
  }

  // ---------------------------------------------------------------
  // lake SQL surface edges
  // ---------------------------------------------------------------

  test("registerLakeTail: empty pending range registers an empty " +
    "view, re-registration sees new commits, and a rewrite-crossed " +
    "range refuses (addedBetween contract)") {
    import graft.incremental.Snapshots
    import graft.sql.SqlCatalog
    val base = tmp("lakesqledge"); val root = s"$base/lake"
    val cursor = s"$base/cur"
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(root)
    Snapshots.commit(spark, root) // v1
    assert(SqlCatalog.registerLakeTail(spark, root, cursor, "t14e")
      == Seq(1L))
    SqlCatalog.advanceLakeTail(spark, cursor, 1L)
    // nothing pending: empty view, schema intact
    assert(SqlCatalog.registerLakeTail(spark, root, cursor, "t14e")
      .isEmpty)
    assert(spark.table("t14e").count() == 0L)
    assert(spark.table("t14e").columns.toSeq == Seq("k", "v"))
    // a new commit shows up on re-registration
    Seq((3L, "c")).toDF("k", "v").coalesce(1)
      .write.mode("append").parquet(root)
    Snapshots.commit(spark, root) // v2
    assert(SqlCatalog.registerLakeTail(spark, root, cursor, "t14e")
      == Seq(2L))
    assert(spark.sql("SELECT k FROM t14e").collect()
      .map(_.getLong(0)).toSeq == Seq(3L))
    SqlCatalog.advanceLakeTail(spark, cursor, 2L)
    // compaction crosses the next range: the tail refuses
    Snapshots.compact(spark, root, targetBytes = 1L << 26) // v3
    intercept[IllegalArgumentException] {
      SqlCatalog.registerLakeTail(spark, root, cursor, "t14e")
    }
  }

  // ---------------------------------------------------------------
  // CrossChecks memoization contract
  // ---------------------------------------------------------------

  test("CrossChecks.once memoizes SUCCESS only: a failed check is not " +
    "cached (a retry re-runs it), and a passed check runs exactly once") {
    var runs = 0
    val tag = s"r14spec-${System.identityHashCode(this)}"
    intercept[RuntimeException] {
      CrossChecks.once(tag, "sfX") { runs += 1; sys.error("boom") }
    }
    intercept[RuntimeException] {
      CrossChecks.once(tag, "sfX") { runs += 1; sys.error("boom") }
    }
    assert(runs == 2, "a failed check must re-run on retry")
    var ok = 0
    CrossChecks.once(tag + "-ok", "sfX") { ok += 1 }
    CrossChecks.once(tag + "-ok", "sfX") { ok += 1 }
    assert(ok == 1, "a passed check must run once per (tag, sfDir)")
    CrossChecks.once(tag + "-ok", "sfY") { ok += 1 }
    assert(ok == 2, "a different sf dir is a different memo key")
  }

  // ---------------------------------------------------------------
  // temperature-scaled source mixing
  // ---------------------------------------------------------------

  test("temperatureMix up-weights small sources (∝ √n), is " +
    "deterministic, caps rates at 1, and drops NULL sources") {
    import graft.llmdata.Sampling
    // big source: 3200 rows; small source: 200 rows; one NULL source
    val df = (spark.range(0, 3200).select(col("id"), lit("big").as("s"))
      unionByName spark.range(10000, 10200)
        .select(col("id"), lit("small").as("s"))
      unionByName spark.range(20000, 20010)
        .select(col("id"), lit(null.asInstanceOf[String]).as("s")))
    val kept = Sampling.temperatureMix(df, "id", "s", targetRows = 800L)
      .groupBy(col("s")).agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // weights: √3200 : √200 = 4 : 1 → targets 640 / 160; rates
    // 640/3200 = 0.2 and 160/200 = 0.8 — the small source keeps a 4x
    // LARGER fraction. md5 selection is ~uniform; allow wide slack
    assert(!kept.contains(null), "NULL sources must drop")
    val fracBig = kept("big").toDouble / 3200.0
    val fracSmall = kept("small").toDouble / 200.0
    assert(fracSmall > 2.0 * fracBig,
      s"small source must be up-weighted: $fracSmall vs $fracBig")
    assert(math.abs(kept.values.sum - 800L) < 200L,
      s"total should land near the target: ${kept.values.sum}")
    // determinism
    val again = Sampling.temperatureMix(df, "id", "s", 800L).count()
    assert(again == kept.values.sum)
    // a target past the corpus caps every rate at 1 (no oversampling)
    assert(Sampling.temperatureMix(df, "id", "s", 1000000L).count()
      == 3400L)
  }

  // ---------------------------------------------------------------
  // RTBF on the sequenced merge-on-read lake
  // ---------------------------------------------------------------

  test("Deletes.purgeMatching erases a subject from every op of a " +
    "sequenced lake — adds, time travel, AND the tombstone keys — " +
    "while every other row's history stays bit-stable") {
    import graft.incremental.Deletes
    val root = tmp("morpurge") + "/lake"
    val base = (1L to 30L).map(k => (k, s"v0-$k")).toDF("k", "v")
    Deletes.initBase(spark, root, base, 2)
    // op1 updates keys 1..10; op2 updates 5..15 (subject 7 in both)
    Deletes.upsert(spark, root,
      (1L to 10L).map(k => (k, s"v1-$k")).toDF("k", "v"), Seq("k"))
    Deletes.upsert(spark, root,
      (5L to 15L).map(k => (k, s"v2-$k")).toDF("k", "v"), Seq("k"))
    val preAsOf1 = Deletes.readMergedAsOf(spark, root, 1L)
      .filter(col("k") =!= 7L && col("k") =!= 20L).collect().toSet
    val subjects = Seq(7L, 20L, 999L).toDF("k") // 999 matches nothing
    val rep = Deletes.purgeMatching(spark, root, subjects, Seq("k"))
      .head()
    // 7 lives in add-0/add-1/add-2, 20 in add-0 → rows_purged = 4;
    // tombstones: d=1 (keys 1..10) and d=2 (keys 5..15) carry 7
    assert(rep.getLong(2) == 4L, s"rows_purged: $rep")
    assert(rep.getLong(3) == 2L, s"tombstone_keys_purged: $rep")
    // merged + every as-of view subject-free
    (0L to 2L).foreach { op =>
      assert(Deletes.readMergedAsOf(spark, root, op)
        .filter(col("k").isin(7L, 20L)).count() == 0L, s"op $op")
    }
    // other rows' history bit-stable
    assert(Deletes.readMergedAsOf(spark, root, 1L)
      .filter(col("k") =!= 7L && col("k") =!= 20L)
      .collect().toSet == preAsOf1)
    assert(Deletes.readMerged(spark, root).count() == 28L)
    // the tombstone FILES no longer carry the subject key
    assert(Deletes.deleteKeys(spark, root).get
      .filter(col("k").isin(7L, 20L)).count() == 0L)
    // re-run is a no-op
    val rep2 = Deletes.purgeMatching(spark, root, subjects, Seq("k"))
      .head()
    assert(rep2.getLong(2) == 0L && rep2.getLong(3) == 0L)
  }

  test("Deletes.purgeMatching repairs an interrupted directory swap " +
    "before running (crash contract)") {
    import graft.incremental.Deletes
    import org.apache.hadoop.fs.Path
    val root = tmp("morrepair") + "/lake"
    val base = (1L to 10L).map(k => (k, k * 10.0)).toDF("k", "x")
    Deletes.initBase(spark, root, base, 1)
    val fs = new Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate a mid-swap crash: staged rewrite exists, visible dir
    // renamed to trash, promote never happened
    val add0 = new Path(s"$root/add-0")
    val staged = new Path(s"$root/.purge-add-0-deadbeef")
    spark.read.parquet(add0.toString).filter(col("k") =!= 3L)
      .write.parquet(staged.toString)
    assert(fs.rename(add0, new Path(s"$root/.trash-add-0-deadbeef")))
    // the next purge run repairs first: the staged dir promotes (or
    // the trash restores — either way the lake reads consistently)
    val rep = Deletes.purgeMatching(spark, root,
      Seq(999L).toDF("k"), Seq("k")).head()
    assert(rep.getLong(2) == 0L)
    val n = Deletes.readMerged(spark, root).count()
    assert(n == 9L || n == 10L,
      s"repair must leave a consistent lake (9 if promoted, 10 if " +
        s"restored), got $n")
    // no hidden swap debris survives
    val leftovers = fs.listStatus(new Path(root))
      .map(_.getPath.getName)
      .filter(nm => nm.startsWith(".purge-") || nm.startsWith(".trash-"))
    assert(leftovers.isEmpty, leftovers.mkString(", "))
  }

  // ---------------------------------------------------------------
  // O(delta) incremental ANALYZE
  // ---------------------------------------------------------------

  test("analyzeIncremental ≡ full analyze (bottom-k-of-union), " +
    "tolerates an empty delta, refuses a compaction-crossed range, " +
    "and raises without base stats") {
    import graft.incremental.Snapshots
    val root = tmp("incan") + "/lake"
    spark.range(0, 300).select((col("id") % 40).as("k"))
      .coalesce(1).write.parquet(root)
    Snapshots.commit(spark, root) // v1
    Snapshots.analyze(spark, root, 1L, Seq("k"))
    spark.range(300, 600).select((col("id") % 90).as("k"))
      .coalesce(1).write.mode("append").parquet(root)
    Snapshots.commit(spark, root) // v2
    // full-analyze reference, captured before the incremental overwrite
    Snapshots.analyze(spark, root, 2L, Seq("k"))
    val full = Snapshots.ndvStats(spark, root, 2L, Seq("k")).collect()
      .toSeq
    Snapshots.analyzeIncremental(spark, root, 1L, 2L, Seq("k"))
    val inc = Snapshots.ndvStats(spark, root, 2L, Seq("k")).collect()
      .toSeq
    assert(inc == full, s"incremental merge diverged: $inc vs $full")
    // empty delta: a re-commit of the unchanged lake merges to the same
    Snapshots.commit(spark, root) // v3, same file set
    Snapshots.analyzeIncremental(spark, root, 2L, 3L, Seq("k"))
    assert(Snapshots.ndvStats(spark, root, 3L, Seq("k")).collect()
      .toSeq == full)
    // missing base stats raise
    intercept[IllegalArgumentException] {
      Snapshots.analyzeIncremental(spark, root, 1L, 2L, Seq("never"))
    }
    // a compaction-crossed range refuses (addedBetween contract)
    Snapshots.compact(spark, root, targetBytes = 1L << 26) // v4
    intercept[IllegalArgumentException] {
      Snapshots.analyzeIncremental(spark, root, 3L, 4L, Seq("k"))
    }
  }

  // ---------------------------------------------------------------
  // ANALYZE catalog as a planner input (VERDICT r13 #6)
  // ---------------------------------------------------------------

  test("ndvOf reads the ANALYZE catalog with ZERO Spark jobs, and the " +
    "stat flips keyedDeleteInsert's broadcast-vs-shuffle plan without " +
    "scanning any data") {
    import graft.incremental.{Snapshots, Writers}
    val root = tmp("ndv") + "/lake"
    spark.range(0, 1000).select((col("id") % 50).as("k"),
        col("id").as("x"))
      .coalesce(1).write.parquet(root)
    Snapshots.commit(spark, root) // v1
    Snapshots.analyze(spark, root, 1L, Seq("k"))
    var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    val ndv =
      try {
        val n = Snapshots.ndvOf(spark, root, 1L, "k")
        Thread.sleep(500) // let the listener bus drain
        n
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(ndv.contains(50.0), s"50 distinct keys, exact regime: $ndv")
    assert(jobs == 0, s"the stats read must cost zero Spark jobs: $jobs")
    assert(Snapshots.ndvOf(spark, root, 1L, "x").isEmpty,
      "a never-analyzed column has no stats row")
    // the decision flips on the stat alone (auto-broadcast off, so
    // the only broadcast source is the stats-driven hint)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val existing = spark.range(0, 10000)
        .select(col("id").as("k"), lit(1L).as("x"))
      val incoming = Snapshots.readVersion(spark, root, 1L)
      val hinted = Writers.keyedDeleteInsert(Some(existing), incoming,
        Seq("k"), keyNdv = ndv)
      val unhinted = Writers.keyedDeleteInsert(Some(existing), incoming,
        Seq("k"), keyNdv = Some(1e12)) // catalog says: too big
      assert(hinted.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin"),
        "small catalog NDV must broadcast the key side")
      assert(!unhinted.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin"),
        "huge catalog NDV must leave the anti-join shuffled")
      // both plans produce identical rows — the stat changes shape only
      assert(hinted.exceptAll(unhinted).isEmpty
        && unhinted.exceptAll(hinted).isEmpty)
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("readVersionHinted broadcasts iff the version's pinned bytes " +
    "(fs metadata, no scan) fit the gate") {
    import graft.incremental.Snapshots
    val root = tmp("rvh") + "/lake"
    spark.range(0, 500).select(col("id").as("k")).coalesce(1)
      .write.parquet(root)
    Snapshots.commit(spark, root)
    val bytes = Snapshots.pinnedBytes(spark, root, 1L)
    assert(bytes > 0L)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val fact = spark.range(0, 5000).select((col("id") % 500).as("k"))
      val small = fact.join(
        Snapshots.readVersionHinted(spark, root, 1L), Seq("k"))
      assert(small.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin"))
      val tooBig = fact.join(Snapshots.readVersionHinted(spark, root,
        1L, maxBytes = bytes - 1), Seq("k"))
      assert(!tooBig.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin"))
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  // ---------------------------------------------------------------
  // value-lattice global windows: continuous keys refuse loudly
  // ---------------------------------------------------------------

  test("moodMedian refuses a continuous value column (lattice ≈ rows) " +
    "instead of collapsing the cumulative window onto one task " +
    "(VERDICT r13 #3)") {
    import graft.operators.{PlanAudit, Robust}
    val n = PlanAudit.MaxLatticeRows + 2
    val df = spark.range(0, n, 1, 8)
      .select((col("id") % 2).as("g"), col("id").as("v"))
    val e = intercept[Exception] {
      Robust.moodMedian(df, "g", "v").collect()
    }
    def chain(t: Throwable): String =
      if (t == null) "" else t.toString + "\n" + chain(t.getCause)
    assert(chain(e).contains("moodMedian") && chain(e).contains("lattice"),
      s"expected the lattice refusal, got: ${chain(e).take(500)}")
  }

  test("logRankParts refuses a continuous duration column " +
    "(VERDICT r13 #3); a discretized lattice on the same data passes") {
    import graft.operators.{PlanAudit, Survival}
    val n = PlanAudit.MaxLatticeRows + 2
    val units = spark.range(0, n, 1, 8)
      .select((col("id") % 2 === 0).as("a"), col("id").as("dur"),
        lit(true).as("ev"))
    val e = intercept[Exception] {
      // consume n_risk_a (count() would prune the window AND the
      // guard — the lint only holds for consumed columns)
      Survival.logRankParts(units, col("a"), "dur", "ev")
        .agg(sum(col("n_risk_a"))).collect()
    }
    def chain(t: Throwable): String =
      if (t == null) "" else t.toString + "\n" + chain(t.getCause)
    assert(chain(e).contains("logRankParts") &&
      chain(e).contains("lattice"),
      s"expected the lattice refusal, got: ${chain(e).take(500)}")
    // the documented remediation: bucket the continuous key first
    val bucketed = units.withColumn("dur",
      (col("dur") / 100000L).cast("long"))
    assert(Survival.logRankParts(bucketed, col("a"), "dur", "ev")
      .agg(sum(col("n_risk_a"))).head().getLong(0) > 0L)
  }

  // ---------------------------------------------------------------
  // blocked DTW: mixed lengths must ALWAYS raise
  // ---------------------------------------------------------------

  test("dtwTopKBlocked raises loudly on mixed series lengths (the " +
    "guard rides the equi-join key, so no plan pruning or zip_with " +
    "null-padding can silently thin the candidate cover)") {
    import graft.operators.Timeseries
    // three 4-point series plus one 3-point series
    val rows = (Seq("a", "b", "c").flatMap(k =>
        (1 to 4).map(x => (k, x.toLong, (x * 10).toDouble))) ++
        (1 to 3).map(x => ("short", x.toLong, 5.0)))
      .toDF("k", "x", "v")
    val e = intercept[Exception] {
      Timeseries.dtwTopKBlocked(rows, "k", "x", "v",
        band = 2, k = 1, nSeg = 2, cellCents = 1000L).collect()
    }
    def chain(t: Throwable): String =
      if (t == null) "" else t.toString + "\n" + chain(t.getCause)
    assert(chain(e).contains("equal"),
      s"expected the equal-length refusal, got: ${chain(e)}")
  }

  test("ErrorIfExists manifest write refuses an existing version dir " +
    "and stages nothing nested inside it (commit-race guard)") {
    import graft.incremental.Snapshots
    import org.apache.hadoop.fs.Path
    val root = tmp("race") + "/lake"
    Seq((1L, "x")).toDF("k", "v").write.parquet(root)
    Snapshots.commit(spark, root) // v1
    intercept[IllegalStateException] {
      // commitAt(1) targets the same version dir with overwrite=true —
      // exercise the refusal through a plain re-commit race instead:
      // a second commit of v1 via the ErrorIfExists path
      graft.incremental.SnapshotIo.writeStrings(
        spark.sparkContext.hadoopConfiguration,
        s"$root/_graft_snapshots/v=1", "path", Seq("phantom"),
        overwrite = false)
    }
    // the losing write must leave the winner's manifest intact and
    // nothing nested inside it
    assert(Snapshots.readVersion(spark, root, 1L).count() == 1L)
    val fs = new Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val nested = fs.listStatus(new Path(s"$root/_graft_snapshots/v=1"))
      .filter(_.isDirectory)
    assert(nested.isEmpty, s"no nested staging may survive: " +
      nested.map(_.getPath.getName).mkString(", "))
  }
}
