package graft

import graft.ops.Storage
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.atomic.AtomicBoolean

class InParallelSpec extends AnyFunSuite {

  test("both sides failing surface as one exception with the other suppressed") {
    val e = intercept[IllegalStateException] {
      Storage.inParallel[Int, Int](
        throw new IllegalStateException("a failed"),
        throw new IllegalArgumentException("b failed"))
    }
    assert(e.getMessage == "a failed")
    assert(e.getSuppressed.length == 1)
    assert(e.getSuppressed.head.getMessage == "b failed")
  }

  test("a fast failure still waits for the sibling to finish") {
    val bDone = new AtomicBoolean(false)
    intercept[IllegalStateException] {
      Storage.inParallel[Int, Int](
        throw new IllegalStateException("a failed"),
        { Thread.sleep(500); bDone.set(true); 1 })
    }
    assert(bDone.get, "inParallel returned while the sibling was still running")
  }
}
