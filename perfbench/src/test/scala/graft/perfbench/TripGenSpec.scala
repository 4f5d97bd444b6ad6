package graft.perfbench

import java.time.{YearMonth, ZoneOffset}

import org.scalatest.funsuite.AnyFunSuite

class TripGenSpec extends AnyFunSuite {
  private val ym = YearMonth.of(2024, 3)

  test("the same seed yields the same rows in the same order") {
    assert(TripGen(7, 2000).month(ym) == TripGen(7, 2000).month(ym))
  }

  test("another seed or another month yields other rows") {
    val a = TripGen(7, 2000).month(ym)
    assert(a != TripGen(8, 2000).month(ym))
    assert(a != TripGen(7, 2000).month(ym.plusMonths(1)))
  }

  test("a month carries the reference's dirt: duplicates, late rows, bad payments, negative money") {
    val n = 5000
    val rows = TripGen(3, n).month(ym)
    assert(rows.size == n + (n * TripGen.LateFrac).toInt + (n * TripGen.DupFrac).toInt)
    assert(rows.distinct.size == n + (n * TripGen.LateFrac).toInt)
    val start = ym.atDay(1).atStartOfDay().toEpochSecond(ZoneOffset.UTC) * 1000L
    val end = ym.plusMonths(1).atDay(1).atStartOfDay().toEpochSecond(ZoneOffset.UTC) * 1000L
    val pickups = rows.map(_.getTimestamp(1).getTime)
    assert(pickups.count(t => t < start) == (n * TripGen.LateFrac).toInt)
    assert(pickups.forall(_ < end))
    val pay = rows.map(r => Option(r.get(9)).map(_.asInstanceOf[Int]))
    assert(pay.exists(_.isEmpty) && pay.flatten.exists(p => p < 1 || p > 6))
    assert(rows.exists(_.getDouble(10) < 0))
    assert(rows.exists(_.isNullAt(17)))
    // every in-month, non-duplicate trip has its own pickup second
    assert(rows.distinct.map(_.getTimestamp(1)).distinct.size == rows.distinct.size)
  }
}
