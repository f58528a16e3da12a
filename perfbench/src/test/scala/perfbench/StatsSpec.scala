package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("tail picks the highest percentile that leaves at least 10 samples above it") {
    val xs = (1 to 100).map(_.toDouble)
    val t = Stats.tail(xs).get
    assert(t.percentile == 90 && t.value == 90.0 && t.samples == 100)
    assert(xs.count(_ > t.value) >= 10)
    // One more percentile would leave only 9 samples beyond.
    assert(xs.count(_ > Stats.percentile(xs, t.percentile + 1)) < 10)
  }

  test("tail rests on at least 10 samples beyond for every sample count") {
    for (n <- 20 to 400) {
      val xs = scala.util.Random.shuffle((1 to n).map(_.toDouble))
      val t = Stats.tail(xs).get
      assert(xs.count(_ > t.value) >= 10, s"n=$n")
      if (t.percentile < 99)
        assert(xs.count(_ > Stats.percentile(xs, t.percentile + 1)) < 10, s"n=$n")
    }
  }

  test("tail is never below the median; tailOrMax falls back to the maximum") {
    val xs = (1 to 19).map(_.toDouble)
    assert(Stats.tail(xs).isEmpty)
    assert(Stats.tailOrMax(xs) == Stats.Tail(100, 19.0, 19))
    assert(Stats.tail(xs :+ 20.0) == Some(Stats.Tail(50, 10.0, 20)))
  }

  test("median and nearest-rank percentile") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(Stats.percentile(Seq(5.0, 1.0, 4.0, 2.0, 3.0), 50) == 3.0)
    assert(Stats.percentile(Seq(5.0, 1.0, 4.0, 2.0, 3.0), 100) == 5.0)
  }

  test("pairedOverhead compares traced and untraced ops within each kind") {
    // Fast reads and slow writes; more writes happen to be traced, which a
    // difference of whole-run medians would report as overhead.
    val ops = Seq(("read", true, 0.11), ("read", false, 0.10), ("read", false, 0.10),
      ("write", true, 1.02), ("write", true, 1.02), ("write", false, 1.00),
      ("insert", true, 5.0))
    val got = Stats.pairedOverhead(ops).get
    assert(math.abs(got - (3 * 0.01 + 3 * 0.02) / 6) < 1e-12)
    assert(Stats.pairedOverhead(Seq(("read", true, 1.0))).isEmpty)
  }

  test("unionLength counts overlapping intervals once") {
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 30L), (25L, 26L))) == 25L)
    assert(Stats.unionLength(Seq((3L, 3L), (7L, 2L))) == 0L)
    assert(Stats.unionLength(Nil) == 0L)
  }

  test("self time subtracts the union of a span's children") {
    val spans = Seq(Span(1, "op", 0, 100, 0, 1), Span(2, "read", 10, 40, 1, 1),
      Span(3, "read", 30, 50, 1, 1), Span(4, "job", 60, 70, 1, 1))
    val self = Spans.selfSeconds(spans)
    assert(self("op") == 50 / 1e9)
    assert(self("read") == 50 / 1e9)
    assert(self("job") == 10 / 1e9)
  }
}
