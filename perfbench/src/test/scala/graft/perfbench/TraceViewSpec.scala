package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceViewSpec extends AnyFunSuite {
  private def view(spans: Seq[Span], jobs: Seq[JobRun] = Nil) =
    new TraceView(spans, jobs, _ => new SparkWork)

  test("self time is the duration minus what the children cover, overlaps counted once") {
    val root = Span(1, "pipeline.run", 0, 0, 100)
    val kids = Seq(
      Span(2, "a", 1, 10, 30),
      Span(3, "b", 1, 20, 40),   // overlaps a: [10, 40) covered once
      Span(4, "c", 1, 90, 120),  // runs past the parent: only [90, 100) counts
      Span(5, "d", 3, 0, 1000))  // grandchild: not a child of root
    val v = view(root +: kids)
    assert(v.selfNs(root) == 100 - 30 - 10)
    assert(v.selfNs(kids(1)) == 20 - 20)
    assert(v.selfNs(kids(0)) == 20)
  }

  test("driver-only time is the part of a span no job of its subtree covers") {
    val root = Span(1, "pipeline.run", 0, 0, 100)
    val child = Span(2, "incremental.silver_merge", 1, 10, 60)
    val other = Span(3, "elsewhere", 0, 0, 100)
    val jobs = Seq(
      JobRun(0, 1, 5, 15),   // root's own job
      JobRun(1, 2, 12, 30),  // child's job, overlaps the first
      JobRun(2, 2, 50, 70),  // child's job, straddles nothing beyond root
      JobRun(3, 3, 80, 95))  // another span's job: not root's
    val v = view(Seq(root, child, other), jobs)
    // covered: [5, 30) and [50, 70) = 45 of 100
    assert(v.driverOnlyNs(root) == 55)
    // child [10, 60): covered [12, 30) and [50, 60) = 28
    assert(v.driverOnlyNs(child) == 22)
    assert(v.driverOnlyNs(other) == 85)
  }

  test("interval union merges touching and nested intervals") {
    assert(Intervals.covered(Seq((0L, 10L), (10L, 20L), (2L, 5L), (30L, 31L))) == 21)
    assert(Intervals.covered(Seq((5L, 5L), (7L, 6L))) == 0)
    assert(Intervals.uncovered(0, 10, Nil) == 10)
  }
}
