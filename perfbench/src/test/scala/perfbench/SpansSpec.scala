package perfbench

import org.scalatest.funsuite.AnyFunSuite

class SpansSpec extends AnyFunSuite {

  private def span(id: Int, parent: Int, name: String, s: Double, e: Double, trace: String = "t") =
    Span(trace, id, parent, name, s, e)

  test("self time is the parent minus the union of its children") {
    val parent = span(0, -1, "query", 0, 100)
    val kids = Seq(span(1, 0, "a", 10, 30), span(2, 0, "b", 20, 50), span(3, 0, "c", 70, 80))
    // union of [10,30] [20,50] [70,80] is 40 + 10 = 50
    assert(Spans.selfMs(parent, kids) == 50.0)
  }

  test("children are clipped to the parent's interval") {
    val parent = span(0, -1, "exec", 100, 200)
    val kids = Seq(span(1, 0, "job", 50, 120), span(2, 0, "job", 190, 260))
    assert(Spans.selfMs(parent, kids) == 70.0)
  }

  test("a span covered entirely by children has no self time") {
    val parent = span(0, -1, "job", 0, 10)
    assert(Spans.selfMs(parent, Seq(span(1, 0, "stage", 0, 6), span(2, 0, "stage", 4, 10))) == 0.0)
  }

  test("nested spans only subtract their direct children") {
    val spans = Seq(
      span(0, -1, "query", 0, 100),
      span(1, 0, "exec", 20, 100),
      span(2, 1, "job", 30, 90),
      span(3, 2, "stage", 40, 60))
    val self = Spans.selfByName(spans)
    assert(self("query") == 20.0)
    assert(self("exec") == 20.0)
    assert(self("job") == 40.0)
    assert(self("stage") == 20.0)
    // self times of one trace add up to the root's duration
    assert(self.values.sum == 100.0)
  }

  test("spans of different traces never count as each other's children") {
    val spans = Seq(span(0, -1, "query", 0, 10, "t1"), span(0, -1, "query", 0, 10, "t2"),
      span(1, 0, "exec", 0, 10, "t2"))
    val self = Spans.selfByName(spans)
    assert(self("query") == 10.0)
    assert(self("exec") == 10.0)
  }

  test("empty and degenerate intervals") {
    assert(Spans.coveredMs(Nil, 0, 10) == 0.0)
    assert(Spans.coveredMs(Seq((5.0, 5.0), (8.0, 3.0)), 0, 10) == 0.0)
    assert(span(0, -1, "x", 10, 5).durationMs == 0.0)
  }
}
