package perfbench

import graft.config.SpecLoader

/** stream_steady: a real-time stream, the paper's latency path. Small posts
  * stamped with their due time; rollup work is tiny, so per-trigger fixed
  * cost dominates. */
object Steady {
  val Ds = "steady"
  // frozen workload constants (the knee they sit under is in the README)
  val PostEvents = 25
  val LateShare = 0.02
  val OutOfOrderShare = 0.05
  val LateMs: Long = 20 * Gen.MinuteMs

  val spec = SpecLoader.fromJson(s"""{
    "dataSchema": {"dataSource": "$Ds",
      "timestampSpec": {"column": "ts", "format": "auto"},
      "dimensionsSpec": {"dimensions": ["event_type"]},
      "metricsSpec": [{"type": "count", "name": "cnt"},
        {"type": "doubleSum", "name": "sum_value", "fieldName": "value"}],
      "granularitySpec": {"segmentGranularity": "HOUR",
        "queryGranularity": "MINUTE", "rollup": true}},
    "tuning": {"windowPeriod": "PT10M"}}""")

  val workload = StreamWorkload(Ds, spec, postsPerS = 8.0, postEvents = PostEvents,
    roundPosts = 10, warmupPosts = 10, relativeStamps = true, withUsers = false,
    post = rng => Gen.steadyPost(rng, PostEvents, LateShare, OutOfOrderShare, LateMs),
    checks = (_, _, _) => (), mix = Seq(_ => Templates.sqlCount(Ds)), mixCycles = 10,
    probeQueries = Seq.fill(20)(Templates.sqlCount(Ds)))
}
