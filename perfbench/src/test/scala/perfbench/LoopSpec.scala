package perfbench

import org.scalatest.funsuite.AnyFunSuite

class LoopSpec extends AnyFunSuite {

  test("a throwing operation is counted as failed and never timed as a success") {
    val loop = new Loop(60)
    loop.start()
    assert(loop.timed("ok")(5L))
    assert(!loop.timed("boom")(throw new IllegalStateException("injected")))
    loop.stop()
    val Seq(ok, boom) = loop.results
    assert(ok.ok && ok.items == 5L)
    assert(!boom.ok && boom.items == 0L)
    assert(boom.error.contains("IllegalStateException") && boom.error.contains("injected"))
    assert(loop.results.count(o => !o.ok).toDouble / loop.results.size == 0.5)
  }

  test("untimed work does not use up the window") {
    val loop = new Loop(0.2)
    loop.start()
    loop.untimed(Thread.sleep(400))
    assert(loop.open)
    Thread.sleep(250)
    assert(!loop.open)
    loop.stop()
    assert(loop.busySeconds >= 0.2 && loop.busySeconds < 0.4)
  }
}
