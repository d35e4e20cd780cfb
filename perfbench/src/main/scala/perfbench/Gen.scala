package perfbench

import java.util.SplittableRandom

/** One generated event, in the shape of the `events` table the engine's
  * registry queries read: `value` is carried as whole cents so the
  * reference sums are exact. */
final case class Event(tsMs: Long, userId: Long, eventType: String,
    cents: Long, k: Int) {
  def json: String =
    s"""{"ts":"${java.time.Instant.ofEpochMilli(tsMs)}","user_id":$userId,""" +
      s""""event_type":"$eventType","value":${cents / 100}.${f"${cents % 100}%02d"},""" +
      s""""props":"{\\"k\\": $k}"}"""
}

/** Reference rollup cell: what the store must hold for one
  * (bucket, event_type) after every partial is merged. */
final case class Cell(cnt: Long, cents: Long, users: Set[Long]) {
  def +(e: Event): Cell = Cell(cnt + 1, cents + e.cents, users + e.userId)
}

/** Seeded input generator. Everything a run sends is derived from the
  * seed here, in set-up, before the timed window opens. */
object Gen {
  val EventTypes: Vector[String] = Vector("click", "view", "purchase", "signup", "error")
  val Users = 1500
  val MinuteMs = 60000L
  val DayMs = 86400000L
  /** 2024-01-01T00:00:00Z, the first instant of the backfill month. */
  val Jan2024Ms = 1704067200000L

  /** The value schema every body is read with (explicit, never inferred). */
  val ValueSchemaDdl =
    "ts STRING, user_id BIGINT, event_type STRING, value DOUBLE, props STRING"

  /** Distributions follow the repository's `events` table: users uniform
    * over 1500 ids, types uniform over five, values exponential with mean
    * 50 (median about 35, p90 about 115), props `{"k": 0..99}`. */
  def event(rng: SplittableRandom, tsMs: Long): Event =
    Event(tsMs, rng.nextLong(Users), EventTypes(rng.nextInt(EventTypes.size)),
      math.round(-math.log(1 - rng.nextDouble()) * 5000), rng.nextInt(100))

  /** `n` events stamped uniformly over the 30 days from 2024-01-01, in
    * random order, so every post spans the whole month. */
  def backfill(rng: SplittableRandom, n: Int): Vector[Event] =
    Vector.fill(n)(event(rng, Jan2024Ms + rng.nextLong(30 * DayMs)))

  /** A post of the steady stream, with event stamps relative to its due
    * time (0). `late` events sit `lateMs` before it, past the windowPeriod,
    * and must be dropped; out-of-order ones sit one to five minutes before
    * it, inside the window; the rest up to 200 ms before it. */
  final case class StampedPost(kept: Vector[Event], late: Vector[Event]) {
    def all: Vector[Event] = kept ++ late
    def shift(ms: Long): StampedPost = StampedPost(
      kept.map(e => e.copy(tsMs = e.tsMs + ms)), late.map(e => e.copy(tsMs = e.tsMs + ms)))
  }

  def steadyPost(rng: SplittableRandom, size: Int, lateShare: Double,
      outOfOrderShare: Double, lateMs: Long): StampedPost = {
    val (late, kept) = Vector.fill(size) {
      val u = rng.nextDouble()
      if (u < lateShare) (true, event(rng, -lateMs))
      else if (u < lateShare + outOfOrderShare)
        (false, event(rng, -(MinuteMs + rng.nextLong(4 * MinuteMs))))
      else (false, event(rng, -rng.nextLong(200)))
    }.partition(_._1)
    StampedPost(kept.map(_._2), late.map(_._2))
  }

  def ndjson(events: Seq[Event]): Array[Byte] =
    events.iterator.map(_.json).mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)

  /** Reference rollup computed in plain Scala from the events sent:
    * (bucket start ms, event_type) → count, value cents and distinct users. */
  def rollup(events: Iterable[Event], bucketMs: Long = MinuteMs)
      : Map[(Long, String), Cell] =
    events.foldLeft(Map.empty[(Long, String), Cell]) { (m, e) =>
      val key = (Math.floorDiv(e.tsMs, bucketMs) * bucketMs, e.eventType)
      m.updated(key, m.getOrElse(key, Cell(0, 0, Set.empty)) + e)
    }
}
