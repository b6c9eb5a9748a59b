package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Profile.uncovered`: the driver-gap seconds of a run window are the
  * window minus the union of job spans clipped to it. */
class ProfileSpec extends AnyFunSuite {

  private val s = 1000000000L // one second in ns
  private def gap(spans: (Long, Long)*): Double =
    Profile.uncovered(10 * s, 20 * s, spans.map { case (a, b) => (a * s, b * s) })

  test("no spans: the whole window is driver gap") {
    assert(gap() === 10.0)
  }

  test("disjoint spans each cover their own length") {
    assert(gap((11, 12), (14, 16)) === 7.0)
    assert(gap((14, 16), (11, 12)) === 7.0)
  }

  test("overlapping spans count their union once") {
    assert(gap((11, 14), (13, 16)) === 5.0)
    assert(gap((13, 16), (11, 14), (12, 15)) === 5.0)
  }

  test("a nested span adds nothing to its enclosing span") {
    assert(gap((11, 18), (12, 13)) === 3.0)
    assert(gap((12, 13), (11, 18), (17, 19)) === 2.0)
  }

  test("spans outside the window are ignored and straddling ones clipped") {
    assert(gap((2, 5), (21, 30), (20, 25), (5, 10)) === 10.0)
    assert(gap((5, 11), (19, 30)) === 8.0)
    assert(gap((0, 30)) === 0.0)
  }
}
