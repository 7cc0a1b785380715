package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("covered takes the union of intervals") {
    assert(Stats.covered(Seq.empty) == 0L)
    assert(Stats.covered(Seq((0L, 10L))) == 10L)
    // overlapping, nested, touching, disjoint and unordered
    assert(Stats.covered(Seq((5L, 15L), (0L, 10L))) == 15L)
    assert(Stats.covered(Seq((0L, 10L), (2L, 3L))) == 10L)
    assert(Stats.covered(Seq((0L, 10L), (10L, 12L))) == 12L)
    assert(Stats.covered(Seq((20L, 25L), (0L, 10L))) == 15L)
    // empty and inverted intervals (spans clipped away) count nothing
    assert(Stats.covered(Seq((4L, 4L), (9L, 3L), (0L, 1L))) == 1L)
  }

  test("attributed covers each thread's named top-level spans once") {
    val tr = new Tracer(true)
    tr.add("a", 1, 0L, 100L)
    tr.add("b", 1, 50L, 150L) // overlaps "a" on the same thread
    tr.add("a", 2, 0L, 40L)
    tr.add("other", 2, 40L, 200L) // not a named span
    assert(tr.attributed(0L, 1000L, Set("a", "b")) == 190L / 1e9)
    // clipped to the window
    assert(tr.attributed(100L, 120L, Set("a", "b")) == 20L / 1e9)
  }

  test("quantile interpolates between closest ranks") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.quantile(Seq(0.0, 10.0), 0.9) == 9.0)
  }
}
