package graft.perfbench

import java.io.File
import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

/** Filesystem and content views of a lake directory. */
object Lake {

  /** Tables a monthly load writes, with the columns that legitimately
    * differ between two loads of the same data (run ids and wall-clock
    * stamps). */
  val tables: Seq[(String, Seq[String])] = Seq(
    "staging" -> Nil, "bronze" -> Nil, "silver" -> Nil,
    "gold_daily" -> Nil, "gold_monthly" -> Nil, "gold_zone" -> Nil,
    "gold_vendor" -> Nil, "gold_payment" -> Nil,
    "metadata" -> Seq("id", "run_id", "runtime_seconds", "created_at", "updated_at"),
    "metadata_checks" -> Seq("run_id", "checked_at"))

  /** (rows, order-independent content hash) of one table. */
  def fingerprint(spark: SparkSession, path: String, drop: Seq[String]): (Long, String) = {
    val df = spark.read.parquet(path).drop(drop: _*)
    val cols = df.columns.sorted.map(col).toSeq
    val r = df.select(xxhash64(cols: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(0).cast("decimal(38,0)")))
      .first()
    (r.getLong(0), r.get(1).toString)
  }

  /** Data files (not hidden, not markers) under `root`. */
  def dataFiles(root: String): Seq[File] = {
    val p = new File(root).toPath
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.map(_.toFile)
        .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
        .toList
      finally s.close()
    }
  }

  def bytes(root: String): Long = dataFiles(root).map(_.length).sum

  def copy(from: String, to: String): Unit = {
    val src = new File(from).toPath
    val s = Files.walk(src)
    try s.iterator().asScala.foreach { p =>
      val d = new File(to).toPath.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(d)
      else Files.copy(p, d, StandardCopyOption.REPLACE_EXISTING)
    } finally s.close()
  }

  def delete(root: String): Unit = {
    val p = new File(root).toPath
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toList.reverse.foreach((x: Path) => Files.deleteIfExists(x))
      finally s.close()
    }
  }
}

/** Order-independent fingerprint of collected result rows: row count and
  * the wrapping sum of a 64-bit hash of each row's rendering. */
object RowPrint {
  private def render(v: Any): String = v match {
    case null => "\u0000"
    case a: scala.collection.Seq[_] => a.map(render).mkString("[", ",", "]")
    case a: Array[_] => a.map(render).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case x => x.toString
  }

  def of(rows: Array[Row]): String = {
    var h = 0L
    rows.foreach { r =>
      val s = render(r)
      val hi = scala.util.hashing.MurmurHash3.stringHash(s, 0x5eed)
      val lo = scala.util.hashing.MurmurHash3.stringHash(s, 0xbeef)
      h += (hi.toLong << 32) ^ (lo.toLong & 0xffffffffL)
    }
    f"${rows.length}%d:$h%016x"
  }
}

/** Heap the process retains once its ops are done: heap in use after
  * a full collection past the last op. Nothing is collected between ops,
  * so an op's garbage is collected, and timed, as it would be without the
  * meter. Spark's cleaner drops the cached blocks of unreachable frames
  * only after a collection finds them, and asynchronously, so the meter
  * waits (up to 2 s) for those blocks to go and collects until the heap
  * stops shrinking; blocks a live frame holds count. */
final class HeapMeter(sc: org.apache.spark.SparkContext) {
  import java.lang.management.ManagementFactory

  private var retained = 0L

  def measure(): Unit = {
    def collect(): Long = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    collect()
    val deadline = System.nanoTime() + 2000000000L
    while (sc.getRDDStorageInfo.nonEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    var prev = Long.MaxValue
    var used = collect()
    var rounds = 1
    while (rounds < 6 && prev - used > (4L << 20)) {
      Thread.sleep(100)
      prev = used
      used = collect()
      rounds += 1
    }
    retained = used
  }

  def retainedMb: Double = retained / (1024.0 * 1024.0)
}
