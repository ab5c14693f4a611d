package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("percentile interpolates between closest ranks and reports its sample count") {
    val xs = Seq(40.0, 10.0, 30.0, 20.0)
    assert(Stats.percentile(xs, 50) == Stats.Pct(25.0, 4))
    assert(Stats.percentile(xs, 90).value == 37.0)
    assert(Stats.percentile(xs, 0).value == 10.0)
    assert(Stats.percentile(xs, 100).value == 40.0)
    assert(Stats.percentile(Seq(7.0), 90) == Stats.Pct(7.0, 1))
    assertThrows[IllegalArgumentException](Stats.percentile(Nil, 50))
  }

  test("union length counts overlapping intervals once") {
    assert(Stats.unionLength(Seq((0.0, 10.0), (5.0, 15.0), (20.0, 25.0))) == 20.0)
    assert(Stats.unionLength(Seq((0.0, 10.0), (2.0, 3.0))) == 10.0)
    assert(Stats.unionLength(Seq((3.0, 3.0), (5.0, 4.0))) == 0.0)
    assert(Stats.unionLength(Nil) == 0.0)
  }

  test("self time subtracts the union of overlapping children, clipped to the parent") {
    // parent [0, 100]; children overlap each other and one runs past the end
    val children = Seq((10.0, 40.0), (30.0, 50.0), (90.0, 120.0))
    assert(Stats.uncovered(0, 100, children) == 100 - (40 + 10))
    assert(Stats.uncovered(0, 100, Nil) == 100.0)
  }

  test("driver gap is wall time minus the union of job intervals") {
    val root = Span(0, "op", 0, -1, 1000.0, 1100.0)
    val child = Span(1, "phase", 0, 0, 1010.0, 1090.0)
    def job(id: Int, tag: Int, start: Double, end: Double) = {
      val j = new JobStats(id, Some(tag), start); j.endMs = end; j
    }
    // two concurrent jobs [1020, 1050] and [1040, 1060], one untagged-by-root
    val r = new TraceReport(Seq(root, child), Seq(job(1, 1, 1020, 1050), job(2, 0, 1040, 1060)))
    assert(r.driverGap(root) == 100.0 - 40.0)
    assert(r.jobsUnder(root).map(_.jobId).sorted == Seq(1, 2))
    assert(r.selfTime(root) == 20.0)
  }

  test("spans nest: children inside their parent, siblings apart") {
    val root = Span(0, "op", 0, -1, 0.0, 100.0)
    def kid(id: Int, s: Double, e: Double) = Span(id, "phase", 0, 0, s, e)
    val ok = new TraceReport(Seq(root, kid(1, 10, 40), kid(2, 40, 90), Span(3, "x", 0, 2, 50, 60)), Nil)
    assert(ok.nested(root))
    assert(ok.subtree(root).map(ok.selfTime).sum == root.duration)
    assert(!new TraceReport(Seq(root, kid(1, 10, 40), kid(2, 30, 90)), Nil).nested(root))
    assert(!new TraceReport(Seq(root, kid(1, 90, 120)), Nil).nested(root))
    assert(!new TraceReport(Seq(root, kid(1, 10, 40), Span(2, "x", 0, 1, 35, 45)), Nil).nested(root))
  }

  test("a job carrying a stale tag goes to the innermost span open at its submission") {
    val old = Span(0, "op", 0, -1, 0.0, 10.0)
    val root = Span(1, "op", 1, -1, 100.0, 200.0)
    val inner = Span(2, "phase", 1, 1, 120.0, 180.0)
    val stale = new JobStats(7, Some(0), 150.0)
    val r = new TraceReport(Seq(old, root, inner), Seq(stale))
    assert(r.jobsOf.get(2).map(_.map(_.jobId)).contains(Seq(7)))
    assert(r.jobsOf.get(0).isEmpty)
  }

  test("bytes per user byte") {
    assert(Stats.bytesPerUserByte(300, 100) == 3.0)
    assertThrows[IllegalArgumentException](Stats.bytesPerUserByte(300, 0))
  }

  test("stratified sizes vary with the seed but keep their total") {
    val a = Stats.stratified(new scala.util.Random(1), 10, 1000, 2000)
    val b = Stats.stratified(new scala.util.Random(2), 10, 1000, 2000)
    assert(a != b)
    Seq(a, b).foreach { s =>
      assert(s.forall(x => x >= 1000 && x <= 2000))
      assert(math.abs(s.sum - 15000) <= 500)
    }
  }
}
