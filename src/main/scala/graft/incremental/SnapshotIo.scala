package graft.incremental

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** Driver-side snapshot-manifest I/O (round-13): the snapshot log is
  * file-count-scale METADATA, and reading it through `spark.read`
  * costs a full Spark job (scheduling + task launch + collect) per
  * lookup — a commit/branch/merge cycle was paying a dozen jobs of
  * pure overhead on tables of a few hundred rows. Real lakehouse
  * engines (Iceberg, Delta) read their manifests on the coordinator
  * and reserve the cluster for DATA scans; this does the same with
  * parquet-hadoop's example Group API (already on Spark's classpath).
  *
  * Compatibility: reads any parquet the old Spark-written log
  * produced (same column names/types); writes single-file parquet
  * dirs whose VISIBILITY contract matches Spark's committer — the
  * file is staged in a hidden `.tmp-*` sibling and the DIRECTORY
  * renamed into place, so a crashed write leaves no readable
  * version (the [[Snapshots]] discovery rule), and `ErrorIfExists`
  * maps to the rename's refusal to clobber an existing dir. A
  * `_SUCCESS` marker is included for parity with Spark-written dirs.
  * Overwrites are crash-safe: the old dir renames aside to a hidden
  * `.trash-*` sibling before the new one renames in — nothing is
  * deleted until the replacement is live, so no crash window can
  * lose a manifest permanently ([[Snapshots.vacuum]] sweeps
  * `.trash-*`/`.tmp-*` leftovers).
  *
  * Scale note: a manifest of F files × V versions is MBs at 100 TB
  * scale (Iceberg's own ballpark); if a log ever outgrew the driver,
  * the read shape — not the contract — would move to ranged manifest
  * files, exactly as Iceberg splits manifests. */
private[graft] object SnapshotIo {

  import org.apache.parquet.example.data.Group
  import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
  import org.apache.parquet.hadoop.ParquetReader

  private def dataFiles(conf: Configuration, dir: String): Seq[Path] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet")
        && !st.getPath.getName.startsWith("_")
        && !st.getPath.getName.startsWith("."))
      .map(_.getPath).sortBy(_.getName)
  }

  /** Every value of required/optional column `column` across the
    * dir's parquet files, driver-side, zero Spark jobs. Strings come
    * back as String, INT64 as java.lang.Long (callers pick the view
    * they need). Missing dir -> empty. */
  private def readValues(conf: Configuration, dir: String,
                         column: String): Seq[Any] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    dataFiles(conf, dir).foreach { file =>
      val reader: ParquetReader[Group] = ParquetReader
        .builder(new GroupReadSupport(), file).withConf(conf).build()
      try {
        var g = reader.read()
        while (g != null) {
          val schema = g.getType
          val idx = schema.getFieldIndex(column)
          if (g.getFieldRepetitionCount(idx) > 0) {
            val prim = schema.getType(idx).asPrimitiveType()
              .getPrimitiveTypeName.toString
            out += (prim match {
              case "BINARY" => g.getString(idx, 0)
              case "INT64" => java.lang.Long.valueOf(g.getLong(idx, 0))
              case "INT32" => java.lang.Long.valueOf(g.getInteger(idx, 0).toLong)
              case other => throw new IllegalArgumentException(
                s"SnapshotIo: unsupported manifest column type $other")
            })
          }
          g = reader.read()
        }
      } finally reader.close()
    }
    out.toSeq
  }

  def readStrings(conf: Configuration, dir: String,
                  column: String): Seq[String] =
    readValues(conf, dir, column).map(_.asInstanceOf[String])

  def readLongs(conf: Configuration, dir: String,
                column: String): Seq[Long] =
    readValues(conf, dir, column).map(_.asInstanceOf[java.lang.Long].longValue())

  /** Does the directory exist with at least a completed write? */
  def exists(conf: Configuration, dir: String): Boolean = {
    val p = new Path(dir)
    p.getFileSystem(conf).exists(p)
  }

  /** Write a single-column manifest dir atomically: stage in a
    * hidden sibling, rename the DIR into place (a crashed write
    * leaves no readable dir). `overwrite = false` refuses an existing
    * dest — the ErrorIfExists commit-race guard. */
  def writeStrings(conf: Configuration, dir: String, column: String,
                   values: Seq[String], overwrite: Boolean,
                   sidecar: Option[(String, String)] = None): Unit =
    writeAtomic(conf, dir, overwrite,
      s"message manifest { required binary $column (UTF8); }",
      values.map(v => (g: Group) => { g.append(column, v); () }),
      sidecar)

  def writeLongs(conf: Configuration, dir: String, column: String,
                 values: Seq[Long], overwrite: Boolean): Unit =
    writeAtomic(conf, dir, overwrite,
      s"message manifest { required int64 $column; }",
      values.map(v => (g: Group) => { g.append(column, v); () }))

  /** Read a sidecar text file committed atomically WITH a manifest
    * dir ([[writeStrings]]' `sidecar`) — how a snapshot carries its
    * recorded table schema: the schema and the pin list become
    * visible in the same directory rename or not at all. */
  def readSidecar(conf: Configuration, dir: String,
                  name: String): Option[String] = {
    val p = new Path(dir, name)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val bytes = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](8192)
        var n = in.read(buf)
        while (n >= 0) { bytes.write(buf, 0, n); n = in.read(buf) }
        Some(new String(bytes.toByteArray,
          java.nio.charset.StandardCharsets.UTF_8))
      } finally in.close()
    }
  }

  private def writeAtomic(conf: Configuration, dir: String,
                          overwrite: Boolean, schemaStr: String,
                          rows: Seq[Group => Unit],
                          sidecar: Option[(String, String)] = None): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.schema.MessageTypeParser
    val dest = new Path(dir)
    val fs = dest.getFileSystem(conf)
    val parent = dest.getParent
    fs.mkdirs(parent)
    val token = java.util.UUID.randomUUID().toString.take(8)
    val tmp = new Path(parent, s".tmp-${dest.getName}-$token")
    // the staged part file carries THIS write's token, so the
    // commit probe below can only be satisfied by this write's own
    // file — a racing writer's committed dir (whose rename-into-dir
    // nests the loser's tmp INSIDE it) holds a differently-named
    // part and fails the probe loudly instead of silently passing
    // (round-14 ADVICE: the old fixed-name probe could see the
    // WINNER's part file and report the loser's discarded write as
    // success)
    val partName = s"part-00000-$token.parquet"
    val schema = MessageTypeParser.parseMessageType(schemaStr)
    val factory = new SimpleGroupFactory(schema)
    val writer = ExampleParquetWriter.builder(
        org.apache.parquet.hadoop.util.HadoopOutputFile
          .fromPath(new Path(tmp, partName), conf))
      .withConf(conf).withType(schema).build()
    try rows.foreach { fill =>
      val g = factory.newGroup(); fill(g); writer.write(g)
    } finally writer.close()
    sidecar.foreach { case (name, text) =>
      val out = fs.create(new Path(tmp, name), true)
      try out.write(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    fs.create(new Path(tmp, "_SUCCESS"), true).close()
    def raceFail(): Nothing = {
      // a nested rename leaves the loser's tmp INSIDE dest — reclaim
      // both debris locations before failing
      fs.delete(new Path(dest, tmp.getName), true)
      fs.delete(tmp, true)
      throw new IllegalStateException(
        s"SnapshotIo: commit race on $dir — another writer won; " +
          "re-read the log and retry against the new head")
    }
    if (fs.exists(dest)) {
      if (!overwrite) {
        fs.delete(tmp, true)
        throw new IllegalStateException(
          s"SnapshotIo: commit race — $dir already exists (the " +
            "ErrorIfExists guard: another writer won this version)")
      }
      // crash-safe overwrite (round-14 ADVICE): the old manifest
      // RENAMES aside — never deletes before the new one is live —
      // so a crash at any point leaves the content recoverable: both
      // renames done -> new manifest live; crash between them -> the
      // old manifest sits intact in the hidden .trash sibling (a
      // re-run of the maintenance op rewrites dest and [[Snapshots
      // .vacuum]] sweeps the trash). The previous delete-then-rename
      // ordering could lose a version manifest permanently.
      val trash = new Path(parent, s".trash-${dest.getName}-$token")
      if (!fs.rename(dest, trash)) {
        fs.delete(tmp, true)
        throw new IllegalStateException(
          s"SnapshotIo: could not stage the old manifest aside at $dir")
      }
      if (!fs.rename(tmp, dest) || !fs.exists(new Path(dest, partName))) {
        // a racing dest appeared between the renames: restore the old
        // manifest only if the slot is free again; otherwise the
        // trash sibling keeps the pre-overwrite content recoverable
        fs.delete(new Path(dest, tmp.getName), true)
        if (!fs.exists(dest)) fs.rename(trash, dest)
        fs.delete(tmp, true)
        throw new IllegalStateException(
          s"SnapshotIo: commit race on $dir — another writer won; " +
            s"pre-overwrite manifest retained at $trash")
      }
      fs.delete(trash, true)
    } else if (!fs.rename(tmp, dest) ||
        !fs.exists(new Path(dest, partName))) raceFail()
  }
}
