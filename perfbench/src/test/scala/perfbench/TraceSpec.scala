package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {
  private def iv(s: Double, e: Double) = Interval(s, e)

  test("self time is the span less the union of its children") {
    val span = iv(0, 100)
    assert(Trace.selfTime(span, Nil) == 100)
    assert(Trace.selfTime(span, Seq(iv(10, 20), iv(30, 50))) == 70)
    // overlapping children count once
    assert(Trace.selfTime(span, Seq(iv(10, 40), iv(30, 60), iv(55, 70))) == 40)
    // nested children count once
    assert(Trace.selfTime(span, Seq(iv(10, 90), iv(20, 30))) == 20)
  }

  test("children are clipped to their parent") {
    val span = iv(100, 200)
    assert(Trace.covered(span, Seq(iv(50, 150))) == 50)
    assert(Trace.covered(span, Seq(iv(150, 400))) == 50)
    assert(Trace.covered(span, Seq(iv(0, 50), iv(250, 300))) == 0)
    assert(Trace.covered(span, Seq(iv(0, 1000), iv(120, 130))) == 100)
  }

  test("covered time never exceeds the parent's duration") {
    val rnd = new scala.util.Random(1)
    (1 to 200).foreach { _ =>
      val s = rnd.nextDouble() * 100
      val span = iv(s, s + rnd.nextDouble() * 100)
      val kids = Seq.fill(rnd.nextInt(8)) {
        val a = rnd.nextDouble() * 250 - 25
        iv(a, a + rnd.nextDouble() * 60)
      }
      val c = Trace.covered(span, kids)
      assert(c >= 0 && c <= span.duration + 1e-9)
      assert(Trace.selfTime(span, kids) >= -1e-9)
    }
  }

  test("tracer nests spans and closes them in time order") {
    val t = new Tracer
    val root = t.open("workload", -1)
    val child = t.open("op", root)
    Thread.sleep(2)
    t.close(child)
    t.close(root)
    val Seq(r, c) = t.all
    assert(c.parent == r.id)
    assert(r.start <= c.start && c.end <= r.end && c.duration > 0)
  }
}
