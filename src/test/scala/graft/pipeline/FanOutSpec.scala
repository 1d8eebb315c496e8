package graft.pipeline

import java.util.concurrent.atomic.AtomicBoolean

import org.scalatest.funsuite.AnyFunSuite

/** The join contract of the stage fan-out: results in submission order,
  * every sibling ended before a failure surfaces, and the first failure
  * in submission order rethrown unwrapped.
  */
class FanOutSpec extends AnyFunSuite {

  test("results come back in submission order, whatever order tasks end in") {
    val got = FanOut.all((1 to 10).map(i => () => {
      Thread.sleep((10 - i) * 20L)
      i
    }))
    assert(got == (1 to 10))
  }

  test("the first failure in submission order is rethrown as thrown, after every sibling ends") {
    val slowSiblingDone = new AtomicBoolean(false)
    val e = intercept[IllegalStateException](FanOut.all(Seq(
      () => { Thread.sleep(200); throw new IllegalStateException("first") },
      () => throw new IllegalArgumentException("second"),
      () => { Thread.sleep(400); slowSiblingDone.set(true) })))
    assert(e.getMessage == "first")
    assert(slowSiblingDone.get, "threw before a sibling task had ended")
  }

  test("an empty stage runs nothing") {
    assert(FanOut.all(Seq.empty[() => Int]).isEmpty)
  }
}
