package perfbench

import java.util.SplittableRandom

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  private def ev(ts: Long, user: Long, t: String, cents: Long) = Event(ts, user, t, cents, 0)

  test("reference rollup: per (minute, event_type) count, cents and distinct users") {
    val m = Gen.MinuteMs
    val evs = Seq(
      ev(0, 1, "click", 150), ev(59999, 1, "click", 250), ev(30000, 2, "click", 1),
      ev(10, 3, "view", 99), ev(m, 1, "click", 5), ev(-1, 4, "click", 7))
    val r = Gen.rollup(evs)
    assert(r((0L, "click")) == Cell(3, 401, Set(1L, 2L)))
    assert(r((0L, "view")) == Cell(1, 99, Set(3L)))
    assert(r((m, "click")) == Cell(1, 5, Set(1L)))
    // floor, not truncation toward zero, for stamps before the epoch
    assert(r((-m, "click")) == Cell(1, 7, Set(4L)))
    assert(r.size == 4)
    assert(Gen.rollup(evs, Gen.DayMs).keySet == Set((-Gen.DayMs, "click"),
      (0L, "click"), (0L, "view")))
  }

  test("the same seed gives the same inputs") {
    def draw(seed: Long) = {
      val rng = new SplittableRandom(seed)
      (Gen.backfill(rng, 500), Vector.fill(5)(Gen.steadyPost(rng, 25, 0.02, 0.05, 1200000L)))
    }
    assert(draw(7) == draw(7))
    assert(draw(7) != draw(8))
  }

  test("steady posts: late events sit past the window, the rest inside it") {
    val rng = new SplittableRandom(1)
    val posts = Vector.fill(400)(Gen.steadyPost(rng, 25, 0.02, 0.05, 1200000L))
    val late = posts.flatMap(_.late)
    val kept = posts.flatMap(_.kept)
    assert(late.nonEmpty && late.forall(_.tsMs == -1200000L))
    assert(kept.forall(e => e.tsMs <= 0 && e.tsMs > -5 * Gen.MinuteMs))
    assert(posts.forall(p => p.kept.size + p.late.size == 25))
    val share = late.size.toDouble / (late.size + kept.size)
    assert(share > 0.01 && share < 0.03, s"late share $share")
    val shifted = posts.head.shift(1000L)
    assert(shifted.all.map(_.tsMs) == posts.head.all.map(_.tsMs + 1000L))
  }

  test("bodies are NDJSON with the value carried exactly") {
    val body = new String(Gen.ndjson(Seq(ev(1704067200123L, 7, "view", 1205),
      ev(1704067200000L, 8, "click", 5))), "UTF-8")
    val lines = body.split("\n").map(Http.json)
    assert(lines(0).get("ts").asText == "2024-01-01T00:00:00.123Z")
    assert(lines(0).get("value").asDouble == 12.05 && lines(1).get("value").asDouble == 0.05)
    assert(lines(0).get("props").asText == """{"k": 0}""")
  }
}
