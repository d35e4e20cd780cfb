package perfbench

import java.util.SplittableRandom
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.config.IngestionSpec

/** One open-loop stream workload: what it posts and how it is checked.
  *
  * @param roundPosts posts per measured round; the window is split into
  *   rounds of this many posts, each followed by its drain
  * @param relativeStamps event stamps are offsets from the post's due time
  *   (a real-time stream) rather than absolute (a backfill)
  * @param checks extra correctness checks, run after the drain
  * @param mix the query templates the traced run times under two
  *   closed-loop clients, `mixCycles` times each per client
  * @param probeQueries queries for the traced run's plan / execute split
  */
final case class StreamWorkload(ds: String, spec: IngestionSpec, postsPerS: Double,
    postEvents: Int, roundPosts: Int, warmupPosts: Int, relativeStamps: Boolean,
    withUsers: Boolean, post: SplittableRandom => Gen.StampedPost,
    checks: (Ctx, Int, Map[(Long, String), Cell]) => Unit,
    mix: Seq[SplittableRandom => Query], mixCycles: Int, probeQueries: Seq[Query])

/** Both workloads share one shape. The measured window is a fixed number of
  * rounds. In each round one connection posts `roundPosts` fixed-size
  * `async=true` batches on a fixed schedule, below the saturation knee.
  * Once the last is acknowledged, it asks `/druid/v2/sql` for `SUM(cnt)`
  * every 100 ms until a poll has seen every event of the round; the next
  * round starts when that poll replies.
  *
  * Every query drains the stream first, so the covering poll waits for the
  * round's last micro-batch and one idle trigger. The program's part of a
  * round is its drain: from the last post's due time to the reply of the
  * first poll that covers it. `drain_ms` is the median over the rounds.
  * The schedule sets the amount of work, so `cpu_s` is the cost of a fixed
  * amount of ingest.
  */
object OpenStream {
  val PollEveryMs = 100L
  /** The daemon's processing-time trigger interval. Spark starts a trigger
    * on a multiple of it on the epoch clock. */
  val TriggerMs = 500L
  /** Closed-loop clients of the traced run's query phase. */
  val Clients = 2

  /** One open-loop stretch of posts and the polls that saw them. */
  final case class Stretch(dues: IndexedSeq[Long], starts: Vector[Long],
      replies: IndexedSeq[Reply], polls: Vector[Loop.Poll],
      cumulative: IndexedSeq[Long], open: Host.Stamp, close: Host.Stamp,
      bodies: IndexedSeq[Array[Byte]], backlogMax: Double) {
    /** Post-to-visible latency of each post, in ms. */
    def visible: IndexedSeq[Option[Double]] = Loop.visibleMs(dues, cumulative, polls)
  }

  def run(ctx: Ctx, w: StreamWorkload): Unit = {
    val r = ctx.report
    val rounds = math.round(w.postsPerS * ctx.seconds / w.roundPosts).toInt
    require(rounds >= 1, s"--seconds ${ctx.seconds} is shorter than one round")
    // post 0 primes the store synchronously; posts 1..warmupPosts warm up
    val (h, posts, setupS) = Stack.setUp(ctx, w.spec) {
      val rng = new SplittableRandom(ctx.seed)
      Vector.fill(1 + w.warmupPosts + rounds * w.roundPosts)(w.post(rng))
    }
    r.put("setup_s", setupS, "s")
    Stack.log("set up")
    val sent = mutable.ArrayBuffer.empty[Gen.StampedPost]
    val http = new Http(h.port)
    var closed = false
    try {
      val primer = if (w.relativeStamps) posts(0).shift(System.currentTimeMillis()) else posts(0)
      sent += primer
      val p0 = http.post(s"/v1/post/${w.ds}", Gen.ndjson(primer.all))
      r.attempt(p0.ok, s"primer post: HTTP ${p0.code} ${p0.body.take(200)}")
      val warm = stretch(ctx, w, h.port, posts, 1, 1 + w.warmupPosts,
        primer.kept.size.toLong, sent, 0L)
      val first = 1 + w.warmupPosts
      // round j's last post is due at phase (j + 1/2) / rounds of the
      // trigger interval, so the rounds sample every phase evenly
      val ss = (0 until rounds).foldLeft(Vector(warm)) { (acc, j) =>
        val from = first + j * w.roundPosts
        acc :+ stretch(ctx, w, h.port, posts, from, from + w.roundPosts,
          acc.last.cumulative.last, sent, (2 * j + 1) * TriggerMs / (2 * rounds))
      }.tail
      val (open, close) = (ss.head.open, ss.last.close)

      val vis = ss.flatMap(_.visible)
      vis.zipWithIndex.foreach { case (v, i) =>
        r.attempt(v.isDefined, s"post ${first + i} never became visible")
      }
      val drains = ss.flatMap(_.visible.last)
      r.put("drain_ms", Stats.median(drains), "ms")
      r.put("cpu_s", Stack.cpuS(ctx, open, close), "s")
      // the post-to-visible view, for the details file only: it is the
      // schedule's position of a post in its round plus that round's drain
      val lat = vis.flatten
      r.details("visible_median_ms") = Stats.median(lat).toString
      r.details("drain_ms") = drains.map(d => f"$d%.1f").mkString("[", ",", "]")
      r.details("drain_mean_ms") = (drains.sum / drains.size).toString
      r.details("rounds") = rounds.toString
      r.details("polls") = ss.map(_.polls.size).sum.toString
      Stack.log(s"measured $rounds rounds, ${lat.size} posts")

      // correctness, outside the timed window
      val ref = Gen.rollup(sent.flatMap(_.kept))
      val status = Stack.checkCounters(ctx, http, w.ds,
        events = sent.map(_.all.size.toLong).sum, late = sent.map(_.late.size.toLong).sum)
      val checks = Seq(
        Stack.thread("check-rows")(Stack.check(ctx, new Http(h.port),
          Templates.sqlAllRows(w.ds, w.withUsers), "check-rows", ref)),
        Stack.thread("check-workload")(w.checks(ctx, h.port, ref)))
      Stack.check(ctx, http, Templates.sqlCount(w.ds), "check-count", ref)
      checks.foreach(_.join())
      Stack.log("checked")

      if (ctx.trace.enabled) {
        ss.zipWithIndex.foreach { case (s, j) =>
          s.visible.zipWithIndex.foreach { case (v, i) =>
            v.foreach(ms => ctx.trace.add(s"post-${first + j * w.roundPosts + i}",
              "visible", "post", s.dues(i), s.dues(i) + (ms * 1e6).toLong))
          }
        }
        r.put("trace.drain_ms", Stats.median(drains), "ms")
        Layers.sources(ctx, ss.flatMap(_.replies), ss.map(_.backlogMax).max)
        Layers.streaming(ctx, open.wallNs, close.wallNs, status.dropped)
        Layers.engineAndHost(ctx, open, close,
          ss.flatMap(s => Loop.latenessMs(s.dues, s.starts)))
        queryMix(ctx, w, h.port)
        val t0 = System.nanoTime()
        h.close()
        closed = true
        r.put("sink.flush_ms", (System.nanoTime() - t0) / 1e6, "ms")
        val store = Stack.storeDir(ctx, w.spec)
        Probe.pipelineAndSink(ctx, w.spec, ss.flatMap(_.bodies).take(16), store)
        Probe.queries(ctx, w.spec, store, w.probeQueries)
      }
    } finally if (!closed) h.close()
  }

  /** queries.<template>.p50_ms: [[Clients]] closed-loop clients, each
    * cycling `mixCycles` times through the templates from its own offset,
    * on the quiet stream after the checks. The median of each template's
    * samples. */
  private def queryMix(ctx: Ctx, w: StreamWorkload, port: Int): Unit = {
    val lat = new ConcurrentLinkedQueue[(String, Double)]()
    (0 until Clients).map { c =>
      val rng = new SplittableRandom(ctx.seed + 1 + c)
      val http = new Http(port)
      Stack.thread(s"client-$c") {
        for (k <- 0 until w.mixCycles * w.mix.size) {
          val q = w.mix((c * w.mix.size / Clients + k) % w.mix.size)(rng)
          val (rep, rows) = Stack.query(ctx, http, q, s"q$c-$k")
          if (rows.isDefined) lat.add((q.template, rep.ms))
        }
      }
    }.foreach(_.join())
    lat.asScala.groupBy(_._1).foreach { case (t, xs) =>
      ctx.report.put(s"queries.$t.p50_ms", Stats.median(xs.map(_._2).toSeq), "ms") }
    ctx.report.details("query_mix_samples") = lat.size.toString
  }

  /** Post `posts[from, until)` on schedule from one connection, then poll
    * until a poll has seen every surviving event of them. The last post is
    * due at `phaseMs` past a multiple of [[TriggerMs]] (epoch ms). */
  private def stretch(ctx: Ctx, w: StreamWorkload, port: Int,
      posts: IndexedSeq[Gen.StampedPost], from: Int, until: Int, base: Long,
      sent: mutable.ArrayBuffer[Gen.StampedPost], phaseMs: Long): Stretch = {
    val n = until - from
    val periodNs = (1e9 / w.postsPerS).toLong
    // anchor the schedule; a real-time stream stamps events by due time
    val (nowNs, nowMs) = (System.nanoTime(), System.currentTimeMillis())
    val leadMs = Loop.leadToPhaseMs(nowMs, (n - 1) * periodNs / 1000000L, phaseMs,
      TriggerMs, minLeadMs = 200L)
    val t0Ns = nowNs + leadMs * 1000000L
    val t0Ms = nowMs + leadMs
    val postedBefore = sent.map(_.all.size.toLong).sum
    val dues = (0 until n).map(i => t0Ns + i * periodNs)
    val stamped = (0 until n).map { i =>
      if (w.relativeStamps) posts(from + i).shift(t0Ms + i * periodNs / 1000000L)
      else posts(from + i)
    }
    sent ++= stamped
    val bodies = stamped.map(p => Gen.ndjson(p.all))
    val cumulative = stamped.scanLeft(base)((c, p) => c + p.kept.size).tail
    val target = cumulative.last

    val pollQ = Templates.sqlCount(w.ds)
    val polls = Vector.newBuilder[Loop.Poll]
    var seen = 0L
    val acked = new java.util.concurrent.atomic.AtomicLong(postedBefore)
    @volatile var backlogMax = 0.0
    @volatile var done = false
    // traced run only: the spool backlog in posts, sampled from the ingest
    // counters every 100 ms (a poll can block for the whole round)
    val sampler = Stack.thread("backlog") {
      val statusHttp = new Http(port)
      while (ctx.trace.enabled && !done) {
        Stack.status(statusHttp, w.ds).foreach { st =>
          backlogMax = math.max(backlogMax, (acked.get - st.received).toDouble / w.postEvents)
        }
        Thread.sleep(PollEveryMs)
      }
    }
    val http = new Http(port)
    val replies = new Array[Reply](n)
    val open = Host.stamp()
    val starts = Loop.openLoop(dues, () => false) { i =>
      val rep = http.post(s"/v1/post/${w.ds}?async=true", bodies(i))
      replies(i) = rep
      if (rep.ok) acked.addAndGet(stamped(i).all.size)
      ctx.trace.add(s"post-${from + i}", "post", "", rep.startNs, rep.endNs)
      ctx.report.attempt(rep.ok, s"post ${from + i}: HTTP ${rep.code} ${rep.body.take(200)}")
    }
    // once the last post is acknowledged, poll until a poll covers them all
    val t1Ns = System.nanoTime()
    val deadline = t1Ns + 60000000000L
    val pollDues = (0 until (60000 / PollEveryMs).toInt).map(j => t1Ns + j * PollEveryMs * 1000000L)
    Loop.openLoop(pollDues, () => seen >= target || System.nanoTime() > deadline) { j =>
      val (reply, rows) = Stack.query(ctx, http, pollQ, s"poll-$from-$j")
      rows.flatMap(_.elements.asScala.toSeq.headOption).map(_.get("c").asLong).foreach { c =>
        polls += Loop.Poll(reply.endNs, c)
        seen = c
      }
    }
    val close = Host.stamp()
    done = true
    sampler.join()
    ctx.report.attempt(seen >= target, s"posts $from..${until - 1}: polls saw $seen of $target rows")
    Stretch(dues, starts, replies.toIndexedSeq, polls.result(), cumulative, open,
      close, bodies, backlogMax)
  }
}
