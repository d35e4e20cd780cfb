package perfbench

/** Per-layer metrics the traced run derives from what it recorded at the
  * layer boundaries over a measured window. */
object Layers {

  /** sources.*: the daemon's receive path, seen from the client side. The
    * `.p50` is a plain median: `stream_bulk` sends 8 posts in its window,
    * too few for a refusing percentile (so is `gen.late_ms.p50`). */
  def sources(ctx: Ctx, replies: Seq[Reply], backlogFiles: Double): Unit = {
    val r = ctx.report
    r.put("sources.posts", replies.size.toDouble, "count")
    r.put("sources.post_failed", replies.count(!_.ok).toDouble, "count")
    r.put("sources.post_ms.p50", Stats.median(replies.map(_.ms)), "ms")
    r.put("sources.post_ms.max", Stats.maxOr0(replies.map(_.ms)), "ms")
    r.put("sources.spool_backlog_files", backlogFiles, "count")
  }

  /** streaming.*: the fold of every StreamingQueryProgress in the window.
    * The `.p50`s are plain medians: a `stream_bulk` window has about 15
    * progress events (Spark reports an idle trigger only every 10 s), fewer
    * than the 20 a refusing percentile needs. */
  def streaming(ctx: Ctx, fromNs: Long, toNs: Long, dropped: Long): Unit = {
    val r = ctx.report
    val from = ctx.trace.epochMs(fromNs).toLong
    val to = ctx.trace.epochMs(toNs).toLong
    val ps = ctx.trace.progressIn(from, to)
    val data = ps.filter(_.rows > 0)
    def d(p: Trace.Progress, k: String): Double = p.durations.getOrElse(k, 0L).toDouble
    r.put("streaming.batches", data.size.toDouble, "count")
    r.put("streaming.rows_per_batch.p50", Stats.median(data.map(_.rows.toDouble)), "count")
    r.put("streaming.trigger_ms.p50", Stats.median(data.map(d(_, "triggerExecution"))), "ms")
    r.put("streaming.trigger_ms.max", Stats.maxOr0(data.map(d(_, "triggerExecution"))), "ms")
    r.put("streaming.latest_offset_ms.p50", Stats.median(ps.map(d(_, "latestOffset"))), "ms")
    r.put("streaming.plan_ms.p50", Stats.median(data.map(d(_, "queryPlanning"))), "ms")
    r.put("streaming.add_batch_ms.p50", Stats.median(data.map(d(_, "addBatch"))), "ms")
    r.put("streaming.add_batch_ms.max", Stats.maxOr0(data.map(d(_, "addBatch"))), "ms")
    r.put("streaming.wal_commit_ms.p50",
      Stats.median(data.map(p => d(p, "walCommit") + d(p, "commitOffsets"))), "ms")
    val busy = ps.map(d(_, "triggerExecution")).sum
    r.put("streaming.idle_frac",
      math.min(1.0, math.max(0.0, 1 - busy / math.max(1L, to - from))), "ratio")
    r.put("streaming.dropped", dropped.toDouble, "count")
    ctx.report.details("streaming_triggers") = ps.size.toString
  }

  /** spark.*, host.*, gen.*, jvm.* over the window. */
  def engineAndHost(ctx: Ctx, open: Host.Stamp, close: Host.Stamp,
      lateMs: Seq[Double]): Unit = {
    val r = ctx.report
    val from = ctx.trace.epochMs(open.wallNs).toLong
    val to = ctx.trace.epochMs(close.wallNs).toLong
    ctx.trace.sparkMetrics(from, to).foreach { case (k, (v, u)) => r.put(k, v, u) }
    ctx.report.details("spark_by_job_class") = ctx.trace.sparkByClass(from, to)
      .map { case (cls, m) => Http.quote(cls) + ":" +
        m.map { case (k, v) => f"${Http.quote(k)}:$v%.3f" }.mkString("{", ",", "}") }
      .mkString("{", ",", "}")
    val w = Host.window(open, close)
    r.put("host.others_cores", w.othersCores, "cores")
    r.put("host.steal_cores", w.stealCores, "cores")
    r.put("jvm.heap_peak_mb", Host.heapPeakMb(), "MB")
    r.put("gen.late_ms.p50", Stats.median(lateMs), "ms")
    r.put("gen.late_ms.max", Stats.maxOr0(lateMs), "ms")
  }
}
