package graft.core

import java.util.concurrent.atomic.AtomicBoolean

import org.scalatest.funsuite.AnyFunSuite

/** `Par.both`'s result and error contract: both values come back; on
  * a failure the other side is joined before anything is rethrown
  * (its staged output must be settled, not still being written), the
  * rethrown exception is the side's own (never the `FutureTask`
  * wrapper), and when both sides fail `a`'s exception wins. */
class ParSpec extends AnyFunSuite {

  test("both sides return their values") {
    assert(Par.both(1 + 1, "b" * 3) == ((2, "bbb")))
  }

  test("a throws: b finishes before a's exception is rethrown") {
    val bDone = new AtomicBoolean(false)
    val boom = new IllegalStateException("a failed")
    val thrown = intercept[IllegalStateException] {
      Par.both[Int, Unit](throw boom,
        { Thread.sleep(300); bDone.set(true) })
    }
    assert(thrown eq boom)
    assert(bDone.get(), "b must be joined before a's failure surfaces")
  }

  test("b throws: its own exception is rethrown, not an ExecutionException") {
    val boom = new IllegalArgumentException("b failed")
    val thrown = intercept[IllegalArgumentException] {
      Par.both[Int, Int](7, throw boom)
    }
    assert(thrown eq boom)
  }

  test("both throw: a's exception wins") {
    val boomA = new IllegalStateException("a failed")
    val boomB = new IllegalArgumentException("b failed")
    // b fails first in time; a's failure still wins
    val thrown = intercept[IllegalStateException] {
      Par.both[Int, Int]({ Thread.sleep(200); throw boomA }, throw boomB)
    }
    assert(thrown eq boomA)
  }
}
