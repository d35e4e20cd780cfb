package perfbench

import org.scalatest.funsuite.AnyFunSuite

class LoopSpec extends AnyFunSuite {
  private val ms = 1000000L

  test("lateness is measured from the due time and never negative") {
    val dues = Seq(0L, 100 * ms, 200 * ms)
    val starts = Seq(0L, 150 * ms, 190 * ms)
    assert(Loop.latenessMs(dues, starts) == Seq(0.0, 50.0, 0.0))
  }

  test("an overrunning send delays the next one, and the delay is recorded") {
    val t0 = System.nanoTime() + 20 * ms
    val dues = (0 until 4).map(i => t0 + i * 10 * ms)
    val starts = Loop.openLoop(dues, () => false) { i =>
      if (i == 1) Thread.sleep(40) // overruns slots 2 and 3
    }
    val late = Loop.latenessMs(dues, starts)
    assert(starts.size == 4)
    assert(late(0) < 10 && late(1) < 10)
    assert(late(2) >= 20, s"lateness $late")
    assert(late(3) >= 10, s"lateness $late")
    assert(starts.zip(dues).forall { case (s, d) => s >= d })
  }

  test("the loop stops sending once told to") {
    val t0 = System.nanoTime()
    var sent = 0
    Loop.openLoop((0 until 10).map(i => t0 + i * ms), () => sent >= 3)(_ => sent += 1)
    assert(sent == 3)
  }

  test("the lead puts the last due time at the asked phase of the interval") {
    for (now <- Seq(0L, 1704067200123L, 999L); offset <- Seq(0L, 1125L); phase <- Seq(0L, 31L, 469L)) {
      val lead = Loop.leadToPhaseMs(now, offset, phase, 500L, minLeadMs = 200L)
      assert(lead >= 200L && lead < 700L)
      assert((now + lead + offset) % 500L == phase)
    }
  }

  test("a post is visible at the first poll whose count covers it") {
    val dues = IndexedSeq(0L, 100 * ms, 200 * ms)
    val cumulative = IndexedSeq(10L, 20L, 30L)
    val polls = Seq(Loop.Poll(50 * ms, 0L), Loop.Poll(150 * ms, 10L),
      Loop.Poll(400 * ms, 30L), Loop.Poll(300 * ms, 20L))
    assert(Loop.visibleMs(dues, cumulative, polls) ==
      IndexedSeq(Some(150.0), Some(200.0), Some(200.0)))
    assert(Loop.visibleMs(dues, cumulative, polls.take(2)) ==
      IndexedSeq(Some(150.0), None, None))
  }
}
