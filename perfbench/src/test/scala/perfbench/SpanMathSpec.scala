package perfbench

import org.scalatest.funsuite.AnyFunSuite

class SpanMathSpec extends AnyFunSuite {

  private def span(id: Long, parent: Long, start: Double, end: Double, name: String = "s") =
    Span(id, parent, 1L, name, start, end)

  test("coverage is the union of intervals clipped to the window") {
    assert(SpanMath.coverage(0, 100, Nil) == 0.0)
    assert(SpanMath.coverage(0, 100, Seq((10.0, 20.0), (15.0, 30.0), (50.0, 60.0))) == 30.0)
    assert(SpanMath.coverage(0, 100, Seq((-10.0, 5.0), (95.0, 120.0))) == 10.0)
    assert(SpanMath.coverage(0, 100, Seq((20.0, 30.0), (20.0, 30.0))) == 10.0)
    assert(SpanMath.coverage(0, 100, Seq((200.0, 300.0))) == 0.0)
  }

  test("self time is duration minus the children's coverage") {
    // op [0,100] -> read [0,30], plan [30,40], exec [40,95] -> two
    // overlapping jobs [45,80] and [60,90]
    val spans = Seq(span(1, 0, 0, 100, "op"), span(2, 1, 0, 30), span(3, 1, 30, 40),
      span(4, 1, 40, 95), span(5, 4, 45, 80, "exec.job"), span(6, 4, 60, 90, "exec.job"))
    val self = SpanMath.selfTimes(spans)
    assert(self(1) == 5.0)
    assert(self(2) == 30.0)
    assert(self(3) == 10.0)
    assert(self(4) == 10.0) // 55 minus the 45 the jobs cover together
    assert(self(5) == 35.0 && self(6) == 30.0)
    assert(SpanMath.childCoverage(spans(3), spans) == 45.0)
    // the tree's self times plus each span's job union make up the op
    val benchSpans = spans.filterNot(_.name == "exec.job")
    val accounted = benchSpans.map(s => self(s.id) + SpanMath.coverage(s.startMs, s.endMs,
      spans.filter(j => j.parent == s.id && j.name == "exec.job").map(j => (j.startMs, j.endMs)))).sum
    assert(accounted == 100.0)
  }
}
