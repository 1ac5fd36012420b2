package graft.util

import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.atomic.AtomicBoolean

class FanOutSpec extends AnyFunSuite {

  private val name = "fan-out-spec"
  private def live: Int = Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread])
    .count(t => t.getName == name && t.isAlive)

  test("results come back in task order, whatever order the tasks end in") {
    val tasks = (0 until 6).map(i => () => { Thread.sleep((6 - i) * 10L); i })
    assert(FanOut.all(name, 3)(tasks) === (0 until 6))
    assert(FanOut.all(name, 1)(Nil) === Nil)
    assert(live === 0)
  }

  test("a lone task runs on the calling thread") {
    val caller = Thread.currentThread().getName
    assert(FanOut.all(name, 4)(Seq(() => Thread.currentThread().getName)) === Seq(caller))
    // more than one task: each runs on a thread created for the call
    assert(FanOut.all(name, 4)(Seq.fill(2)(() => Thread.currentThread().getName)) ===
      Seq(name, name))
  }

  test("a fast failure waits for the slow task, then throws") {
    val slowDone = new AtomicBoolean(false)
    val err = intercept[IllegalStateException](FanOut.all(name, 2)(Seq(
      () => throw new IllegalStateException("fast"),
      () => { Thread.sleep(300); slowDone.set(true) })))
    assert(err.getMessage === "fast")
    assert(slowDone.get)
    assert(live === 0)
  }

  test("the first failure in task order is thrown, the later ones suppressed") {
    val err = intercept[IllegalArgumentException](FanOut.all(name, 2)(Seq[() => Int](
      () => 1,
      () => { Thread.sleep(200); throw new IllegalArgumentException("second") },
      () => throw new IllegalStateException("third"),
      () => throw new UnsupportedOperationException("fourth"))))
    assert(err.getMessage === "second")
    assert(err.getSuppressed.map(_.getMessage).toSeq === Seq("third", "fourth"))
    assert(live === 0)
  }

  test("no thread of the call is alive after a success or a failure") {
    assert(FanOut.all(name, 8)((1 to 8).map(i => () => i)).sum === 36)
    assert(live === 0)
    intercept[RuntimeException](FanOut.all(name, 8)((1 to 8).map(i =>
      () => if (i % 2 == 0) throw new RuntimeException(s"task $i") else i)))
    assert(live === 0)
  }
}
