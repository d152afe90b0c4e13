package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {
  private def sp(id: Int, parent: Int, name: String, a: Long, b: Long) =
    Span(id, parent, 0, name, a, b)

  test("self time subtracts nested children") {
    val spans = Seq(
      sp(0, -1, "bench.op", 0, 100),
      sp(1, 0, "plans.plan", 10, 30),
      sp(2, 0, "queries.exec", 30, 90),
      sp(3, 2, "lake.read", 40, 50))
    val self = Trace.selfTimes(spans)
    assert(self == Map(0 -> 20L, 1 -> 20L, 2 -> 50L, 3 -> 10L))
    assert(self.values.sum == 100L)
    assert(Trace.selfByLayer(spans) ==
      Map("bench" -> 20L, "plans" -> 20L, "queries" -> 50L, "lake" -> 10L))
  }

  test("overlapping children are subtracted once, and clipped to the parent") {
    val spans = Seq(
      sp(0, -1, "bench.op", 0, 100),
      sp(1, 0, "ml.a", 10, 50),
      sp(2, 0, "ml.b", 40, 70),   // overlaps ml.a by 10
      sp(3, 0, "ml.c", 90, 120))  // sticks out of the parent by 20
    assert(Trace.selfTimes(spans)(0) == 100 - (60 + 10))
  }

  test("union length of intervals") {
    assert(Trace.unionLength(Nil) == 0)
    assert(Trace.unionLength(Seq((5L, 10L), (0L, 3L), (2L, 6L), (20L, 21L))) == 11)
  }

  test("the tracer records spans only while active and nests them") {
    val tr = new Tracer
    tr.root(0, "bench.op")(tr("plans.plan")(1))
    assert(tr.all.isEmpty)
    tr.active = true
    val (v, _) = tr.root(7, "bench.op") { tr("plans.plan")(tr("queries.exec")(2)) + 1 }
    assert(v == 3)
    val byName = tr.all.map(s => s.name -> s).toMap
    assert(byName("bench.op").parent == -1)
    assert(byName("plans.plan").parent == byName("bench.op").id)
    assert(byName("queries.exec").parent == byName("plans.plan").id)
    assert(tr.all.forall(_.trace == 7))
  }

  test("the tail is the highest percentile with at least ten samples beyond it") {
    assert(Stats.tail((1 to 19).map(_.toDouble)).isEmpty)
    assert(Stats.tail((1 to 20).map(_.toDouble)) == Some((0.5, 10.0)))
    assert(Stats.tail((1 to 40).map(_.toDouble)) == Some((0.75, 30.0)))
    assert(Stats.tail((1 to 100).map(_.toDouble)) == Some((0.9, 90.0)))
    assert(Stats.tail((1 to 1000).map(_.toDouble)) == Some((0.99, 990.0)))
    for (n <- 20 to 2000; (p, _) <- Stats.tail(Seq.fill(n)(1.0)))
      assert(Stats.samplesAbove(n, p) >= 10, s"n=$n p=$p")
  }

  test("nearest-rank percentiles") {
    val xs = Seq(5.0, 1.0, 3.0, 2.0, 4.0)
    assert(Stats.median(xs) == 3.0)
    assert(Stats.percentile(xs, 1.0) == 5.0)
    assert(Stats.percentile(xs, 0.0) == 1.0)
  }
}
