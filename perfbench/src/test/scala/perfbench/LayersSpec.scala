package perfbench

import org.scalatest.funsuite.AnyFunSuite

class LayersSpec extends AnyFunSuite {
  private def span(start: Long, end: Long) = Span(0L, 0L, "s", start, end)

  test("self time is the span's duration minus the union of its children") {
    val parent = span(0, 100)
    assert(Layers.selfUs(parent, Nil) == 100)
    // Overlapping children count once; a child sticking out is clipped.
    assert(Layers.selfUs(parent, Seq(span(10, 30), span(20, 40), span(90, 120))) == 100 - 30 - 10)
    // Disjoint children.
    assert(Layers.selfUs(parent, Seq(span(0, 10), span(50, 60))) == 80)
  }
}
