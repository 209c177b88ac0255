package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  test("self time subtracts the union of child intervals, clipped to the parent") {
    val spans = Seq(
      Span(1, 0, "pass", 0, 100),
      Span(2, 1, "query", 10, 30),
      Span(3, 1, "query", 20, 50), // overlaps the first child
      Span(4, 1, "query", 90, 120), // runs past the parent's end
      Span(5, 2, "exec", 12, 28))
    val self = Tracer.selfTimes(spans)
    assert(self(1) == 100 - 40 - 10)
    assert(self(2) == 20 - 16)
    assert(self(3) == 30)
    assert(self(4) == 30)
    assert(self(5) == 16)
  }

  test("a span without children is all self time") {
    assert(Tracer.selfTimes(Seq(Span(7, 0, "x", 5, 9))) == Map(7 -> 4L))
  }

  test("spans nest under the innermost open span and share the run id") {
    val t = new Tracer("run-1", enabled = true)
    t.span("pass") {
      t.span("query") { t.span("exec") { () } }
      t.span("query") { () }
    }
    val byName = t.spans.groupBy(_.name)
    val pass = byName("pass").head
    assert(pass.parent == 0)
    assert(byName("query").forall(_.parent == pass.id))
    assert(byName("exec").head.parent == byName("query").map(_.id).min)
    val sum = Tracer.summary(t.spans)
    assert(sum("query")._1 == 2)
    assert(sum("pass")._3 <= sum("pass")._2)
    assert(t.runId == "run-1")
  }

  test("a disabled or switched-off tracer records nothing") {
    val off = new Tracer("r", enabled = false)
    assert(off.span("x")(42) == 42)
    off.record("y", 0, 1)
    assert(off.spans.isEmpty)
    val paused = new Tracer("r", enabled = true)
    paused.on = false
    paused.span("x")(())
    assert(paused.spans.isEmpty)
  }
}
