package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{DataType, StructType}

import graft.Daemon
import graft.config.IngestionSpec

/** What one run reports: metrics by name with unit, plus every attempted
  * operation and every failure, each failure named. */
final class Report {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** workload-specific detail for the trace file, as JSON values */
  val details = mutable.LinkedHashMap.empty[String, String]
  private val attemptedN = new AtomicLong
  private val failedN = new AtomicLong
  val failures = new ConcurrentLinkedQueue[String]()

  def put(name: String, value: Double, unit: String): Unit =
    synchronized { metrics(name) = (value, unit) }

  /** Count one operation; a failed one is named in `failures`. */
  def attempt(ok: Boolean, what: => String): Boolean = {
    attemptedN.incrementAndGet()
    if (!ok) { failedN.incrementAndGet(); failures.add(what) }
    ok
  }

  def attempted: Long = attemptedN.get
  def failed: Long = failedN.get
}

/** Everything a workload needs: the session, its seed and run length, the
  * trace, and where to write. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Int, trace: Trace,
    cpus: Int, work: Path, report: Report) {
  /** Second seed, recorded with the run: parameters of the held-out
    * correctness queries come from it, never from the load seed. */
  val checkSeed: Long = seed * 0x5DEECE66DL + 0xBL
}

/** The daemon under test and the HTTP calls the workloads share. */
object Stack {
  val schema: StructType = DataType.fromDDL(Gen.ValueSchemaDdl).asInstanceOf[StructType]

  /** `graft.Daemon.run` with its shipped defaults (500 ms processing-time
    * trigger, `now = current_timestamp()`, 16 files per trigger), ready once
    * its stream has completed a first trigger. */
  def start(ctx: Ctx, dir: Path, spec: IngestionSpec): Daemon.Handle = {
    val h = Daemon.run(ctx.spark, dir.toString, schema, Seq(spec))
    val q = h.streams.values.head.activeQuery.get
    val deadline = System.nanoTime() + 60000000000L
    while (q.lastProgress == null) {
      q.exception.foreach(e => throw e)
      require(System.nanoTime() < deadline, "stream made no first trigger in 60 s")
      Thread.sleep(2)
    }
    h
  }

  /** How many times a run sets up; `setup_s` is their median. */
  val SetUps = 7

  /** Set up [[SetUps]] times, each time generating the inputs and starting
    * a fresh daemon in the run's session; every set-up but the last is
    * closed again. Returns the last daemon, its inputs and the median
    * set-up seconds. */
  def setUp[I](ctx: Ctx, spec: IngestionSpec)(gen: => I): (Daemon.Handle, I, Double) = {
    var last: Option[(Daemon.Handle, I)] = None
    val secs = (1 to SetUps).map { i =>
      val t0 = System.nanoTime()
      val inputs = gen
      val h = start(ctx, ctx.work.resolve(s"daemon-$i"), spec)
      val s = (System.nanoTime() - t0) / 1e9
      if (i < SetUps) {
        h.close()
        deleteTree(ctx.work.resolve(s"daemon-$i"))
      } else last = Some((h, inputs))
      s
    }
    (last.get._1, last.get._2, Stats.median(secs))
  }

  /** The store of the daemon [[setUp]] kept. */
  def storeDir(ctx: Ctx, spec: IngestionSpec): Path =
    ctx.work.resolve(s"daemon-$SetUps/stores/${spec.dataSchema.dataSource}")

  final case class Status(received: Long, sent: Long, dropped: Long)

  def status(http: Http, ds: String): Option[Status] = {
    val r = http.get("/status")
    if (!r.ok) None
    else Option(Http.json(r.body).path("dataSources").get(ds)).map(n =>
      Status(n.get("received").asLong, n.get("sent").asLong, n.get("dropped").asLong))
  }

  /** Run one query, record its span and job-group id, count it. */
  def query(ctx: Ctx, http: Http, q: Query, id: String): (Reply, Option[com.fasterxml.jackson.databind.JsonNode]) = {
    val r = http.postJson(q.path, q.body(id))
    ctx.trace.add(id, "query", q.template, r.startNs, r.endNs)
    val rows = if (r.ok) scala.util.Try(Http.json(r.body)).toOption.filter(_.isArray) else None
    ctx.report.attempt(rows.isDefined, s"${q.template} $id: HTTP ${r.code} ${r.body.take(300)}")
    (r, rows)
  }

  /** Run `q` once more outside any timed window and check its answer. */
  def check(ctx: Ctx, http: Http, q: Query, id: String,
      ref: Map[(Long, String), Cell]): Unit = {
    val (_, rows) = query(ctx, http, q, id)
    rows.foreach { js =>
      val verdict = scala.util.Try(q.check(js, ref))
        .fold(e => Some(s"answer not checkable: $e"), identity)
      ctx.report.attempt(verdict.isEmpty, s"${q.template} $id: ${verdict.getOrElse("")}")
    }
  }

  /** Checks on the ingest counters: received = sent + dropped, and both
    * match what the generator sent and what it stamped late. */
  def checkCounters(ctx: Ctx, http: Http, ds: String, events: Long, late: Long): Status = {
    val s = status(http, ds).getOrElse(Status(-1, -1, -1))
    ctx.report.attempt(s.received == s.sent + s.dropped,
      s"status: received ${s.received} != sent ${s.sent} + dropped ${s.dropped}")
    ctx.report.attempt(s.received == events, s"status: received ${s.received}, posted $events")
    ctx.report.attempt(s.dropped == late, s"status: dropped ${s.dropped}, generator stamped $late late")
    s
  }

  def countFiles(dir: Path, keep: Path => Boolean): Long =
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.iterator.asScala.count(p => Files.isRegularFile(p) && keep(p)).toLong
      finally s.close()
    }

  def deleteTree(dir: Path): Unit = if (Files.exists(dir)) {
    val s = Files.walk(dir)
    try s.iterator.asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }

  /** This JVM's CPU seconds over the timed window, with the contention
    * stamps beside it in the run's details (reported, never filtered on). */
  def cpuS(ctx: Ctx, open: Host.Stamp, close: Host.Stamp): Double = {
    val w = Host.window(open, close)
    ctx.report.details("host_others_cores") = f"${w.othersCores}%.3f"
    ctx.report.details("host_steal_cores") = f"${w.stealCores}%.3f"
    ctx.report.details("process_cpu_s") = f"${w.cpuS}%.3f"
    w.cpuS
  }

  /** A progress line in the run's log, stamped with JVM uptime. */
  def log(msg: String): Unit = System.err.println(
    f"perfbench: ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.1f s: $msg")

  /** Failures that escaped a load or check thread; each counts as failed. */
  val crashed = new ConcurrentLinkedQueue[String]()

  def thread(name: String)(body: => Unit): Thread = {
    val t = new Thread(() =>
      try body catch { case e: Throwable => crashed.add(s"$name crashed: $e") }, name)
    t.setDaemon(true)
    t.start()
    t
  }
}
