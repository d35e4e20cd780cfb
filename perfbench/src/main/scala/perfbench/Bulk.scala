package perfbench

import java.util.SplittableRandom

import graft.config.SpecLoader

/** stream_bulk: a backfill. Large posts of events stamped over January 2024
  * in random order, so every micro-batch writes a partial into about 30 DAY
  * segments and the store accumulates many partials that every read merges.
  * A round is one post, so each round's drain holds exactly one data
  * trigger. Every run checks the query templates against the reference;
  * the traced run also times them under two closed-loop clients.
  */
object Bulk {
  val Ds = "bulk"
  // frozen workload constants
  val PostEvents = 4000

  // the windowPeriod must admit the backfill's 2024 stamps
  val spec = SpecLoader.fromJson(s"""{
    "dataSchema": {"dataSource": "$Ds",
      "timestampSpec": {"column": "ts", "format": "auto"},
      "dimensionsSpec": {"dimensions": ["event_type"]},
      "metricsSpec": [{"type": "count", "name": "cnt"},
        {"type": "doubleSum", "name": "sum_value", "fieldName": "value"},
        {"type": "hllSketch", "name": "users", "fieldName": "user_id"}],
      "granularitySpec": {"segmentGranularity": "DAY",
        "queryGranularity": "MINUTE", "rollup": true}},
    "tuning": {"windowPeriod": "P3650D"}}""")

  private val mix = Templates.mix(Ds)

  // two cycles per client, four samples a template: twenty would take
  // about 150 s of queries on 4 cores, over the run's time limit
  val workload = StreamWorkload(Ds, spec, postsPerS = 0.8, postEvents = PostEvents,
    roundPosts = 1, warmupPosts = 1, relativeStamps = false, withUsers = true,
    post = rng => Gen.StampedPost(Gen.backfill(rng, PostEvents), Vector.empty),
    checks = checkTemplates, mix = mix :+ (_ => Templates.sqlCount(Ds)), mixCycles = 2,
    probeQueries = { val rng = new SplittableRandom(1); Seq.fill(3)(mix).flatten.map(_(rng)) })

  /** Each template once, on parameters from the check seed. */
  private def checkTemplates(ctx: Ctx, port: Int, ref: Map[(Long, String), Cell]): Unit = {
    val rng = new SplittableRandom(ctx.checkSeed)
    mix.map(_(rng)).zipWithIndex.map { case (q, i) =>
      Stack.thread(s"check-$i")(Stack.check(ctx, new Http(port), q, s"check-${q.template}", ref))
    }.foreach(_.join())
  }
}
