package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  private def span(id: Int, start: Long, end: Long, parent: Int = -1) =
    Span(id, 1L, s"s$id", start, end, parent)

  test("self time without children is the whole span") {
    assert(Span.selfNs(span(0, 10, 50), Nil) == 40)
  }

  test("nested children are subtracted once each") {
    val p = span(0, 0, 100)
    val kids = Seq(span(1, 10, 30, 0), span(2, 50, 60, 0))
    assert(Span.selfNs(p, kids) == 70)
  }

  test("overlapping children are subtracted as their union") {
    val p = span(0, 0, 100)
    val kids = Seq(span(1, 10, 40, 0), span(2, 30, 60, 0), span(3, 35, 50, 0))
    assert(Span.selfNs(p, kids) == 50)
  }

  test("children sticking out of the parent count only inside it") {
    val p = span(0, 20, 80)
    val kids = Seq(span(1, 0, 30, 0), span(2, 70, 120, 0))
    assert(Span.selfNs(p, kids) == 40)
  }

  test("a child covering the parent leaves no self time") {
    assert(Span.selfNs(span(0, 20, 80), Seq(span(1, 0, 100, 0))) == 0)
  }

  test("the tracer nests spans and ties them to the current op") {
    val t = new Tracer(enabled = true)
    val op = t.newOp()
    val r = t.span("outer") {
      t.span("inner")(Thread.sleep(2))
      7
    }
    assert(r == 7)
    val Seq(outer, inner) = t.all
    assert(outer.parent == -1 && inner.parent == outer.id)
    assert(outer.op == op && inner.op == op)
    assert(inner.start >= outer.start && inner.end <= outer.end)
    assert(Span.selfNs(outer, Seq(inner)) == outer.durNs - inner.durNs)
    assert(t.durationsMs("inner") == Seq(inner.durNs / 1e6))
  }

  test("a disabled tracer records nothing") {
    val t = new Tracer(enabled = false)
    assert(t.span("x")(3) == 3)
    assert(t.all.isEmpty)
  }
}
