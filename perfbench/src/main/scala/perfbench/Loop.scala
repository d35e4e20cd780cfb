package perfbench

/** Open-loop sending and the accounting that goes with it. */
object Loop {

  /** Send `n` requests, request i no earlier than `dues(i)` (System.nanoTime
    * clock), stopping early once `stop` holds. A send that overruns its slot
    * delays the next one; that delay is recorded, never skipped, so every
    * latency measured from the due time includes it. Returns each sent
    * request's actual start time.
    */
  def openLoop(dues: IndexedSeq[Long], stop: () => Boolean)(send: Int => Unit)
      : Vector[Long] = {
    val starts = Vector.newBuilder[Long]
    var i = 0
    while (i < dues.size && !stop()) {
      // park in slices so a stop is seen while waiting; spin out the rest
      var waitNs = dues(i) - System.nanoTime()
      while (waitNs > 1000000L && !stop()) {
        java.util.concurrent.locks.LockSupport.parkNanos(math.min(waitNs - 1000000L, 50000000L))
        waitNs = dues(i) - System.nanoTime()
      }
      while (System.nanoTime() < dues(i)) Thread.onSpinWait()
      if (!stop()) {
        starts += System.nanoTime()
        send(i)
        i += 1
      }
    }
    starts.result()
  }

  /** The lead, at least `minLeadMs`, to put before a schedule's first due
    * time so that its last, `lastOffsetMs` after the first, falls
    * `phaseMs` past a multiple of `intervalMs` on the epoch clock, where
    * `nowMs` is the epoch time now. */
  def leadToPhaseMs(nowMs: Long, lastOffsetMs: Long, phaseMs: Long, intervalMs: Long,
      minLeadMs: Long): Long =
    minLeadMs + Math.floorMod(phaseMs - (nowMs + minLeadMs + lastOffsetMs), intervalMs)

  /** Generator lateness in ms: how long after its due time each request
    * actually started (never negative). */
  def latenessMs(dues: Seq[Long], starts: Seq[Long]): Seq[Double] =
    dues.zip(starts).map { case (d, s) => math.max(0L, s - d) / 1e6 }

  /** One poll's reply: when it arrived and the row count it reported. */
  final case class Poll(replyNs: Long, count: Long)

  /** Post-to-visible latency, per post, in ms. Posts reach the store in send
    * order (the spool is read oldest file first, each file in one
    * micro-batch), so post i is visible once a poll reports at least
    * `cumulative(i)` rows, the surviving events of posts 0..i. Its latency
    * is the reply time of the first such poll minus the post's due time;
    * None if no poll ever saw it.
    */
  def visibleMs(dues: IndexedSeq[Long], cumulative: IndexedSeq[Long],
      polls: Seq[Poll]): IndexedSeq[Option[Double]] = {
    val ps = polls.sortBy(_.replyNs)
    dues.indices.map { i =>
      ps.find(p => p.count >= cumulative(i) && p.replyNs >= dues(i))
        .map(p => (p.replyNs - dues(i)) / 1e6)
    }
  }
}
