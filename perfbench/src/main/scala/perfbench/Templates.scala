package perfbench

import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode

/** One query of the mix: where it goes, its body, and how to check its
  * answer against the reference rollup. */
final case class Query(template: String, path: String, body: String => String,
    check: (JsonNode, Map[(Long, String), Cell]) => Option[String])

/** The query templates, each drawing its parameters from a seeded stream.
  * Every answer is checked against [[Gen.rollup]] of the events sent. */
object Templates {
  val Sql = "/druid/v2/sql"
  val Native = "/druid/v2"

  def sqlBody(sql: String, maxRows: Int = 10000)(id: String): String =
    s"""{"query":${Http.quote(sql)},"context":{"sqlQueryId":${Http.quote(id)},"maxQueryRows":$maxRows}}"""

  /** `SUM(cnt)` over the whole dataSource: the steady stream's poll. */
  def sqlCount(ds: String): Query = Query("sql_count", Sql,
    sqlBody(s"SELECT SUM(cnt) AS c FROM $ds"),
    (rows, ref) => {
      val want = ref.values.map(_.cnt).sum
      val got = rows.elements.asScala.toSeq.headOption.map(_.get("c").asLong).getOrElse(0L)
      if (got == want) None else Some(s"count $got, expected $want")
    })

  /** Every stored row: the per-(bucket, event_type) store check. */
  def sqlAllRows(ds: String, withUsers: Boolean): Query = Query("sql_all_rows", Sql,
    sqlBody(s"SELECT __time, event_type, cnt, sum_value${if (withUsers) ", users" else ""} FROM $ds",
      maxRows = 10000000),
    (rows, ref) => {
      val got = rows.elements.asScala.map { r =>
        (time(r.get("__time")), r.get("event_type").asText) -> r }.toMap
      val missing = ref.keySet -- got.keySet
      val extra = got.keySet -- ref.keySet
      val wrong = ref.iterator.filter { case (k, c) => got.get(k).exists { r =>
        r.get("cnt").asLong != c.cnt || cents(r.get("sum_value")) != c.cents ||
          (withUsers && math.round(r.get("users").asDouble) != c.users.size) } }.map(_._1).toSeq
      if (missing.isEmpty && extra.isEmpty && wrong.isEmpty) None
      else Some(s"${missing.size} rows missing, ${extra.size} unexpected, " +
        s"${wrong.size} differ (first: ${(missing ++ extra ++ wrong).headOption.getOrElse("")})")
    })

  /** The stream_bulk mix. Intervals are whole days of January 2024. */
  def mix(ds: String): Seq[SplittableRandom => Query] = Seq(
    rng => { val (a, b) = days(rng); Query("sql_timeseries", Sql,
      sqlBody(s"SELECT TIME_FLOOR(__time, 'P1D') AS d, SUM(cnt) AS cnt, " +
        s"SUM(sum_value) AS v FROM $ds WHERE ${where(a, b)} GROUP BY 1"),
      (rows, ref) => sameBy(rows, "d", byDay(ref, a, b))) },
    rng => { val (a, b) = days(rng); Query("sql_topn", Sql,
      sqlBody(s"SELECT event_type, SUM(cnt) AS cnt, SUM(sum_value) AS v FROM $ds " +
        s"WHERE ${where(a, b)} GROUP BY 1 ORDER BY v DESC LIMIT 3"),
      (rows, ref) => top3(rows, ref, a, b)) },
    rng => { val (a, b) = days(rng); val t = Gen.EventTypes(rng.nextInt(5)); Query(
      "sql_dim_filter", Sql,
      sqlBody(s"SELECT SUM(cnt) AS cnt, SUM(sum_value) AS v FROM $ds " +
        s"WHERE event_type = '$t' AND ${where(a, b)}"),
      (rows, ref) => {
        val want = cellsIn(ref, a, b).filter(_._1._2 == t).values
        same(rows.elements.asScala.toSeq.headOption, want.map(_.cnt).sum,
          want.map(_.cents).sum, s"$t days $a..$b")
      }) },
    rng => { val (a, b) = days(rng); Query("sql_distinct", Sql,
      sqlBody(s"SELECT event_type, SUM(users) AS u FROM $ds WHERE ${where(a, b)} GROUP BY 1"),
      (rows, ref) => {
        val want = cellsIn(ref, a, b).groupBy(_._1._2).map { case (t, cs) =>
          t -> cs.values.map(_.users.size.toLong).sum }
        val got = rows.elements.asScala.map(r =>
          r.get("event_type").asText -> math.round(r.get("u").asDouble)).toMap
        if (got == want) None else Some(s"distinct users $got, expected $want")
      }) },
    rng => { val (a, b) = days(rng); Query("native_timeseries", Native,
      id => s"""{"queryType":"timeseries","dataSource":"$ds","granularity":"day",""" +
        s""""intervals":["${interval(a, b)}"],"aggregations":[$aggs],""" +
        s""""context":{"queryId":${Http.quote(id)}}}""",
      (rows, ref) => sameBy(rows, "__time", byDay(ref, a, b))) },
    rng => { val (a, b) = days(rng); Query("native_topn", Native,
      id => s"""{"queryType":"topN","dataSource":"$ds","dimension":"event_type",""" +
        s""""metric":"v","threshold":3,"granularity":"all",""" +
        s""""intervals":["${interval(a, b)}"],"aggregations":[$aggs],""" +
        s""""context":{"queryId":${Http.quote(id)}}}""",
      (rows, ref) => top3(rows, ref, a, b)) },
    rng => { val (a, b) = days(rng); Query("native_groupby", Native,
      id => s"""{"queryType":"groupBy","dataSource":"$ds","dimensions":["event_type"],""" +
        s""""granularity":"all","intervals":["${interval(a, b)}"],"aggregations":[$aggs],""" +
        s""""context":{"queryId":${Http.quote(id)}}}""",
      (rows, ref) => sameBy(rows, "event_type", cellsIn(ref, a, b)
        .groupBy(_._1._2).map { case (t, cs) =>
          t -> (cs.values.map(_.cnt).sum, cs.values.map(_.cents).sum) })) })

  private val aggs = """{"type":"longSum","name":"cnt","fieldName":"cnt"},""" +
    """{"type":"doubleSum","name":"v","fieldName":"sum_value"}"""

  /** [a, b) in whole days from 2024-01-01, one to seven days long. */
  private def days(rng: SplittableRandom): (Int, Int) = {
    val len = 1 + rng.nextInt(7)
    val a = rng.nextInt(30 - len + 1)
    (a, a + len)
  }

  private def dayMs(d: Int): Long = Gen.Jan2024Ms + d * Gen.DayMs
  private def iso(d: Int): String = java.time.Instant.ofEpochMilli(dayMs(d)).toString
  private def interval(a: Int, b: Int): String = s"${iso(a)}/${iso(b)}"
  private def where(a: Int, b: Int): String = {
    def lit(d: Int) = s"TIMESTAMP '${iso(d).replace("T", " ").stripSuffix("Z")}'"
    s"__time >= ${lit(a)} AND __time < ${lit(b)}"
  }

  private def cellsIn(ref: Map[(Long, String), Cell], a: Int, b: Int) =
    ref.filter { case ((t, _), _) => t >= dayMs(a) && t < dayMs(b) }

  private def byDay(ref: Map[(Long, String), Cell], a: Int, b: Int): Map[String, (Long, Long)] =
    cellsIn(ref, a, b).groupBy { case ((t, _), _) => Math.floorDiv(t, Gen.DayMs) * Gen.DayMs }
      .map { case (d, cs) => d.toString -> (cs.values.map(_.cnt).sum, cs.values.map(_.cents).sum) }

  /** Rows keyed by `key` (a time column is keyed by its epoch ms) must carry
    * exactly the expected (cnt, cents) per key. */
  private def sameBy(rows: JsonNode, key: String, want: Map[String, (Long, Long)])
      : Option[String] = {
    val got = rows.elements.asScala.map { r =>
      val k = r.get(key)
      (if (k.isTextual && key != "event_type") time(k).toString else k.asText) ->
        (r.get("cnt").asLong, cents(r.get("v")))
    }.toMap
    if (got == want) None else Some(s"by $key: got $got, expected $want")
  }

  private def top3(rows: JsonNode, ref: Map[(Long, String), Cell], a: Int, b: Int)
      : Option[String] = {
    val want = cellsIn(ref, a, b).groupBy(_._1._2).map { case (t, cs) =>
      (t, cs.values.map(_.cnt).sum, cs.values.map(_.cents).sum) }
      .toSeq.sortBy(-_._3).take(3)
    val got = rows.elements.asScala.map(r =>
      (r.get("event_type").asText, r.get("cnt").asLong, cents(r.get("v")))).toSeq
    if (got == want) None else Some(s"top 3 $got, expected $want")
  }

  private def same(row: Option[JsonNode], cnt: Long, c: Long, what: String): Option[String] = {
    val got = row.map(r => (r.get("cnt").asLong, cents(r.get("v")))).getOrElse((0L, 0L))
    if (got == ((cnt, c))) None else Some(s"$what: got $got, expected ${(cnt, c)}")
  }

  /** A sum of values carried as whole cents, read back from a double. */
  def cents(n: JsonNode): Long = if (n == null || n.isNull) 0L else math.round(n.asDouble * 100)

  /** Epoch ms of a rendered timestamp: ISO text (with or without zone,
    * UTC assumed) or epoch millis. */
  def time(n: JsonNode): Long =
    if (n.isNumber) n.asLong
    else {
      val s = n.asText
      if (s.endsWith("Z")) java.time.Instant.parse(s).toEpochMilli
      else java.time.LocalDateTime.parse(s.replace(" ", "T"))
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    }
}
