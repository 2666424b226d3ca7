package graft.pipebench

import org.scalatest.funsuite.AnyFunSuite

class SpansSpec extends AnyFunSuite {

  private def span(id: Int, parent: Option[Int], start: Long, end: Long, layer: String = "x") =
    Span(id, parent, layer, s"s$id", "r1", start, end)

  test("self time subtracts the children's union, clipped to the span") {
    // root [0, 100): children [10, 30) and [20, 50) overlap, [90, 120)
    // runs past the root's end; grandchild [12, 18) sits inside child 1
    val spans = Seq(
      span(0, None, 0, 100),
      span(1, Some(0), 10, 30),
      span(2, Some(0), 20, 50),
      span(3, Some(0), 90, 120),
      span(4, Some(1), 12, 18))
    val self = Spans.selfTimes(spans)
    assert(self(4) == 6)
    assert(self(1) == 20 - 6)
    assert(self(2) == 30)
    assert(self(3) == 30)
    // covered by children: [10, 50) and [90, 100) = 50
    assert(self(0) == 100 - 50)
  }

  test("self times add up to the root's duration when children nest") {
    val spans = Seq(
      span(0, None, 0, 1000),
      span(1, Some(0), 5, 400),
      span(2, Some(1), 10, 100),
      span(3, Some(1), 100, 390),
      span(4, Some(3), 200, 300),
      span(5, Some(0), 400, 999))
    assert(Spans.selfTimes(spans).values.sum == 1000)
  }

  test("a leaf's self time is its duration; the union handles gaps and nesting") {
    assert(Spans.selfTimes(Seq(span(0, None, 7, 19)))(0) == 12)
    assert(Spans.covered(Seq((0L, 10L), (20L, 30L))) == 20)
    assert(Spans.covered(Seq((0L, 30L), (5L, 10L))) == 30)
    assert(Spans.covered(Nil) == 0)
  }
}
