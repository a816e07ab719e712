package perfbench

import org.scalatest.funsuite.AnyFunSuite

class QuantileSpec extends AnyFunSuite {

  test("Harrell-Davis quantile stays within the samples and is symmetric") {
    val xs = Seq(0.1, 0.1, 0.3, 0.3, 0.5, 0.5, 0.7, 0.7)
    val m = Run.hdQuantile(xs, 0.5)
    assert(math.abs(m - 0.4) < 1e-9) // symmetric pool: the midpoint
    assert(math.abs(Run.hdQuantile(Seq.fill(5)(2.0), 0.7) - 2.0) < 1e-12)
    Seq(0.1, 0.5, 0.9).foreach { q =>
      val v = Run.hdQuantile(xs, q)
      assert(v >= xs.min && v <= xs.max)
    }
    assert(Run.hdQuantile(xs, 0.9) > Run.hdQuantile(xs, 0.5))
  }

  test("a pooled median moves little when one sample near it moves") {
    // ops of distinct cost: the plain median sits on the gap between two
    // ops and follows single samples; the Harrell-Davis estimate does not
    val a = Seq(0.1, 0.1, 0.1, 0.3, 0.3, 0.31, 0.6, 0.6, 0.6, 0.9, 0.9, 0.9)
    val b = a.updated(5, 0.5)
    val plain = math.abs(Run.quantile(b, 0.5) - Run.quantile(a, 0.5))
    val hd = math.abs(Run.hdQuantile(b, 0.5) - Run.hdQuantile(a, 0.5))
    assert(hd < plain / 2)
  }

  test("the tail quantile keeps ten samples beyond it, never below the median") {
    assert(Run.tailQuantile(10) == ((0.5, 5)))
    assert(Run.tailQuantile(40) == ((0.75, 10)))
    assert(Run.tailQuantile(100)._1 == 0.9)
  }
}
