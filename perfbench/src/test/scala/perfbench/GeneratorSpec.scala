package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GeneratorSpec extends AnyFunSuite {

  private def gen = new Generator(
    (0 until 100).map(i => Ev(i, s"u${i % 7}", i % 5 == 0, 100, i * 1000L)),
    seed = 3, rate = 10, ramp = 10, pacedS = 5, shifts = true)

  // rate 10/s and 1 s micro-batches: a sawtooth between ~10 and ~20
  test("a steady sawtooth backlog passes the growth check") {
    val g = gen
    g.queued ++= Seq.fill(10)(Seq(12L, 20L, 10L, 19L)).flatten
    assert(g.backlogEnds == (20L, 10L))
    assert(!g.backlogGrew(batchS = 1.0))
  }

  test("a host that slows every batch alike is not a queue") {
    val g = gen
    g.queued ++= Seq.fill(5)(Seq(12L, 20L, 10L, 19L)).flatten ++
      Seq.fill(5)(Seq(24L, 40L, 20L, 38L)).flatten
    assert(!g.backlogGrew(batchS = 1.5))
  }

  test("a backlog that keeps climbing fails the growth check") {
    val g = gen
    g.queued ++= (0 until 40).map(i => 10L + 4L * i)
    assert(g.backlogGrew(batchS = 1.0))
  }

  test("re-deliveries and shifts keep every event, in a seeded order") {
    val a = gen.arrivals
    assert(a == gen.arrivals)
    assert(a.map(_.eventId).distinct.sorted == (0L until 100L))
  }
}
