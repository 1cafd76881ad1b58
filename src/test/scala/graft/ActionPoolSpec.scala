package graft

import org.scalatest.funsuite.AnyFunSuite

/** The shared cached action pool (r14 verdict #8) — pinned to actually
  * schedule concurrently (wall < sum of the parts), to survive NESTED
  * composition without deadlock (the failure mode the global-EC +
  * Await idiom risked), and to rethrow a thunk's failure with its
  * original cause. */
class ActionPoolSpec extends AnyFunSuite {

  test("inParallel overlaps its two thunks") {
    val t0 = System.nanoTime()
    val (a, b) = Graft.inParallel({ Thread.sleep(400); 1 },
      { Thread.sleep(400); 2 })
    val dt = (System.nanoTime() - t0) / 1e6
    assert((a, b) == (1, 2))
    assert(dt < 750, s"pair did not overlap: $dt ms")
  }

  test("nested composition cannot deadlock: an inParallel whose thunks " +
      "each run their own inParallel completes") {
    def pair(x: Int, y: Int): Int = {
      val (a, b) = Graft.inParallel({ Thread.sleep(100); x },
        { Thread.sleep(100); y })
      a + b
    }
    val (x, y) = Graft.inParallel(pair(1, 2), pair(3, 4))
    assert((x, y) == (3, 7))
  }

  test("a failing thunk rethrows its original cause") {
    val boom = intercept[IllegalStateException] {
      Graft.inParallel({ throw new IllegalStateException("boom"); 1 }, 2)
    }
    assert(boom.getMessage == "boom")
  }
}
