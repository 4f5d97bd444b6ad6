package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session: one JVM-wide local session (getOrCreate), UTC, small
  * shuffle fan-out for tiny test frames. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session()

  def sf(name: String) = s"/root/testdata/sf0.001/$name.parquet"
}

object SparkSpec {
  def session(): SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.warehouse.dir", "/tmp/graft-warehouse")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
