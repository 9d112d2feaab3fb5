package graft

import java.util.concurrent.atomic.AtomicBoolean

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.StoreCompaction

/** `StoreCompaction.inParallel`, the fork the stores use for their
  * concurrent writers: an empty fork is a no-op, and a failure is only
  * rethrown once every sibling writer has stopped. */
class StoreCompactionSpec extends AnyFunSuite {

  test("inParallel with no tasks returns at once") {
    StoreCompaction.inParallel()
  }

  test("inParallel rethrows the first failure only after every sibling " +
      "has finished, with later failures suppressed") {
    val slowDone = new AtomicBoolean(false)
    val first = new IllegalStateException("first")
    val second = new IllegalArgumentException("second")
    val e = intercept[IllegalStateException] {
      StoreCompaction.inParallel(
        () => throw first,
        () => { Thread.sleep(500); slowDone.set(true) },
        () => { Thread.sleep(100); throw second })
    }
    assert(e eq first)
    assert(slowDone.get(), "rethrown while a sibling task was still running")
    assert(e.getSuppressed.toSeq == Seq(second))
  }
}
