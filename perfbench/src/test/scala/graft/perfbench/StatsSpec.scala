package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

import graft.perfbench.Stats.Span

class StatsSpec extends AnyFunSuite {

  test("median and p90 by the (n+1)p rule, clamped to the sample") {
    val xs = (1 to 10).map(_.toDouble)
    assert(Stats.median(xs) == 5.5)
    assert(math.abs(Stats.p90(xs) - 9.9) < 1e-12)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    // too few values for a 90th percentile between two of them: the max
    assert(Stats.p90(Seq(1.0, 2.0, 3.0)) == 3.0)
    assert(Stats.p90(Seq(7.0)) == 7.0)
  }

  test("quartiles match Python's statistics.quantiles(n=4)") {
    // reference values printed by CPython 3.11
    assert(Stats.quartiles((1 to 10).map(_.toDouble)) == ((2.75, 8.25)))
    assert(Stats.quartiles(Seq(1.0, 2.0)) == ((0.75, 2.25)))
    assert(Stats.quartiles(Seq(3.0, 1.0, 2.0)) == ((1.0, 3.0)))
    assert(Stats.quartiles(Seq(5.0, 1.0, 4.0, 2.0, 3.0)) == ((1.5, 4.5)))
    assert(Stats.iqrShare(Seq(5.0, 1.0, 4.0, 2.0, 3.0)) == 1.0)
  }

  test("latency counts from the due time, so a consumer stall reaches later messages") {
    // one message due per second; the consumer stalls from t=2 to t=8,
    // then acks the whole backlog at t=8.5; otherwise 0.5 s after due
    val due = (0 until 10).map(_.toDouble)
    val ack = due.map(d => if (d >= 2 && d < 8.5) 8.5 else d + 0.5)
    val lat = Stats.latencies(due, ack)
    assert(lat == Seq(0.5, 0.5, 6.5, 5.5, 4.5, 3.5, 2.5, 1.5, 0.5, 0.5))
    assert(Stats.median(lat) == 2.0)
    assert(Stats.p90(lat) > 6.0)
  }

  test("backlog over time and its slope") {
    val publishes = (0 until 100).map(_ * 0.1)       // 10 messages/s for 10 s
    val keepingUp = publishes.map(_ + 0.5)             // each acked 0.5 s later
    val at = (10 until 100).map(_ * 0.1 + 0.05)
    val flat = Stats.backlog(publishes, keepingUp, at)
    assert(flat.forall(b => b >= 4 && b <= 6))
    assert(math.abs(Stats.slope(at.zip(flat))) < 0.2)
    val halfSpeed = (0 until 50).map(_ * 0.2 + 0.1)    // only 5 acks/s
    val growing = Stats.backlog(publishes, halfSpeed, at)
    assert(math.abs(Stats.slope(at.zip(growing)) - 5.0) < 0.3)
    assert(Stats.slope(Seq((1.0, 3.0))) == 0.0)
  }

  test("self time subtracts the union of overlapping, clipped children") {
    val spans = Seq(
      Span(1, "parent", -1, "", 0, 100),
      Span(2, "a", 1, "", 10, 40),
      Span(3, "b", 1, "", 30, 60),     // overlaps a
      Span(4, "c", 1, "", 90, 120),    // sticks out of the parent
      Span(5, "grandchild", 2, "", 15, 25))
    val self = Stats.selfTimes(spans)
    assert(self(1) == 100 - (50 + 10))
    assert(self(2) == 30 - 10)
    assert(self(3) == 30)
    assert(self(4) == 30)
    assert(self(5) == 10)
  }
}
