package graft.perfbench

import java.sql.Timestamp
import java.time.{YearMonth, ZoneOffset}
import java.util.SplittableRandom

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Seeded synthetic yellow-taxi trips in the reference's raw staging
  * schema, one month at a time, carrying the dirt the reference's
  * silver layer exists to clean:
  *
  *  - negative fares (whole rows negated, the TLC refund shape) and NULL
  *    surcharges;
  *  - `payment_type` outside 1..6 (0, 9 and NULL);
  *  - exact duplicate rows;
  *  - late rows: a month's file also carries a few trips picked up in the
  *    previous month.
  *
  * Every non-duplicate trip has its own pickup second, so the silver
  * surrogate key never collides by accident: the expected silver rows of
  * a month are exactly its distinct in-month rows with a valid payment
  * type. Money is generated in whole cents. The same (seed, month) always
  * yields the same rows in the same order. */
final case class TripGen(seed: Long, tripsPerMonth: Int) {
  import TripGen._

  private val nLate = math.max(1, (tripsPerMonth * LateFrac).toInt)
  private val nDups = math.max(1, (tripsPerMonth * DupFrac).toInt)

  /** Rows in each month's raw file: trips, late rows and duplicates. */
  def rowsPerMonth: Int = tripsPerMonth + nLate + nDups

  def month(ym: YearMonth): IndexedSeq[Row] = {
    val r = new SplittableRandom(seed * 1000003L + ym.getYear * 12L + ym.getMonthValue)
    val base = trips(r, ym, tripsPerMonth)
    val late = trips(r, ym.minusMonths(1), nLate)
    val dups = IndexedSeq.fill(nDups)(base(r.nextInt(base.size)))
    shuffle(r, base ++ late ++ dups)
  }

  private def trips(r: SplittableRandom, ym: YearMonth, n: Int): IndexedSeq[Row] = {
    val start = ym.atDay(1).atStartOfDay().toEpochSecond(ZoneOffset.UTC)
    val secs = ym.lengthOfMonth().toLong * 86400L
    val step = math.max(1L, secs / n)
    IndexedSeq.tabulate(n)(i => trip(r, start + i * step + r.nextLong(step)))
  }

  private def trip(r: SplittableRandom, pickup: Long): Row = {
    val sign = if (r.nextDouble() < NegFrac) -1 else 1
    def money(cents: Long): java.lang.Double = java.lang.Double.valueOf(sign * cents / 100.0)
    def maybeNull(cents: Long): java.lang.Double = if (r.nextDouble() < NullFrac) null else money(cents)
    val fare = 250L + r.nextLong(6750L)
    val extra = Seq(0L, 50L, 100L, 250L)(r.nextInt(4))
    val tip = if (r.nextDouble() < 0.6) r.nextLong(2000L) else 0L
    val tolls = if (r.nextDouble() < 0.05) 694L else 0L
    val congestion = if (r.nextDouble() < 0.7) 250L else 0L
    val airport = if (r.nextDouble() < 0.1) 175L else 0L
    val pay: Integer = {
      val u = r.nextDouble()
      if (u < BadPayFrac / 3) null
      else if (u < 2 * BadPayFrac / 3) Integer.valueOf(0)
      else if (u < BadPayFrac) Integer.valueOf(9)
      else Integer.valueOf(1 + r.nextInt(6))
    }
    val passengers: Integer = if (r.nextDouble() < NullFrac) null else Integer.valueOf(1 + r.nextInt(6))
    Row(
      Integer.valueOf(1 + r.nextInt(2)),
      new Timestamp(pickup * 1000L),
      new Timestamp((pickup + 60L + r.nextLong(3540L)) * 1000L),
      passengers,
      java.lang.Double.valueOf((30L + r.nextLong(2000L)) / 100.0),
      Integer.valueOf(1 + r.nextInt(6)),
      if (r.nextDouble() < 0.02) "Y" else "N",
      Integer.valueOf(1 + r.nextInt(265)),
      Integer.valueOf(1 + r.nextInt(265)),
      pay,
      money(fare), maybeNull(extra), money(50L), money(tip), money(tolls),
      money(100L),
      money(fare + extra + 50L + tip + tolls + 100L + congestion + airport),
      maybeNull(congestion), maybeNull(airport))
  }

  private def shuffle(r: SplittableRandom, xs: IndexedSeq[Row]): IndexedSeq[Row] = {
    val a = xs.toArray
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toIndexedSeq
  }
}

object TripGen {
  val NegFrac = 0.03
  val NullFrac = 0.02
  val BadPayFrac = 0.03
  val DupFrac = 0.01
  val LateFrac = 0.005

  /** The reference's raw staging schema (19 nullable columns). */
  val schema: StructType = StructType(Seq(
    StructField("vendorid", IntegerType),
    StructField("tpep_pickup_datetime", TimestampType),
    StructField("tpep_dropoff_datetime", TimestampType),
    StructField("passenger_count", IntegerType),
    StructField("trip_distance", DoubleType),
    StructField("ratecodeid", IntegerType),
    StructField("store_and_fwd_flag", StringType),
    StructField("pulocationid", IntegerType),
    StructField("dolocationid", IntegerType),
    StructField("payment_type", IntegerType),
    StructField("fare_amount", DoubleType),
    StructField("extra", DoubleType),
    StructField("mta_tax", DoubleType),
    StructField("tip_amount", DoubleType),
    StructField("tolls_amount", DoubleType),
    StructField("improvement_surcharge", DoubleType),
    StructField("total_amount", DoubleType),
    StructField("congestion_surcharge", DoubleType),
    StructField("airport_fee", DoubleType)))

  val moneyColumns: Seq[String] = Seq("fare_amount", "extra", "mta_tax", "tip_amount",
    "tolls_amount", "improvement_surcharge", "congestion_surcharge", "airport_fee")

  /** Months loaded in order from the pipeline's initial month. */
  def monthAt(i: Int): YearMonth = YearMonth.of(2024, 1).plusMonths(i.toLong)
}
