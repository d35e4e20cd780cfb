package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** A span at a layer boundary. Times are epoch milliseconds. Spans of one
  * post or query share `id`; `parent` names the span that caused it. */
final case class Span(id: String, name: String, parent: String,
    startMs: Double, endMs: Double)

/** Trace recording for the traced run: spans kept in memory and written at
  * the end, a SparkListener keyed on the daemon's per-request job groups,
  * and a fold of every `StreamingQueryProgress`. Everything is recorded from
  * the benchmark's side of the layers' public entry points. With
  * `enabled = false` nothing is registered or recorded.
  */
final class Trace(val enabled: Boolean) {
  import Trace._

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val nanoOrigin = System.nanoTime()
  private val epochOrigin = System.currentTimeMillis().toDouble
  /** time spent inside the trace's own bookkeeping: its tracing overhead */
  @volatile private var selfNs = 0L

  def epochMs(nanoTime: Long): Double = epochOrigin + (nanoTime - nanoOrigin) / 1e6

  def add(id: String, name: String, parent: String, startNs: Long, endNs: Long): Unit =
    if (enabled) timed(spans.add(Span(id, name, parent, epochMs(startNs), epochMs(endNs))))

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    val d = System.nanoTime() - t0
    synchronized { selfNs += d }
  }

  def overheadMs: Double = selfNs / 1e6

  // ------------------------------------------------------------ spark tasks

  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val stageClass = new java.util.concurrent.ConcurrentHashMap[Int, String]()

  /** `query:<id>` for daemon requests (job group `graft-query-<id>-<n>`),
    * `stream` for micro-batches, `other` for direct calls. */
  private def classify(props: java.util.Properties): String = {
    val group = Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    val stream = Option(props).flatMap(p => Option(p.getProperty("sql.streaming.queryId")))
    group.filter(_.startsWith("graft-query-")) match {
      case Some(g) => "query:" + g.stripPrefix("graft-query-").replaceAll("-\\d+$", "")
      case None => if (stream.isDefined) "stream" else "other"
    }
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      val cls = classify(e.properties)
      e.stageIds.foreach(s => stageClass.put(s, cls))
      jobStarts.put(e.jobId, (e.time, cls))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      Option(jobStarts.remove(e.jobId)).foreach { case (t, cls) =>
        val id = if (cls.startsWith("query:")) cls.stripPrefix("query:") else cls
        val parent = if (cls.startsWith("query:")) "query" else cls
        spans.add(Span(id, s"spark.job", parent, t.toDouble, e.time.toDouble))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      val m = e.taskMetrics
      if (m != null) tasks.add(TaskRec(e.taskInfo.finishTime,
        stageClass.getOrDefault(e.stageId, "other"), e.stageId,
        e.taskInfo.duration, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()

  // ------------------------------------------------------ streaming progress

  private val progress = new ConcurrentLinkedQueue[Progress]()

  private val streamListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = timed {
      val p = e.progress
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      progress.add(Progress(start, p.numInputRows, d))
      // children laid end to end in MicroBatchExecution's order
      val id = s"batch-${p.batchId}"
      spans.add(Span(id, "streaming.trigger", "", start.toDouble,
        (start + d.getOrElse("triggerExecution", 0L)).toDouble))
      var at = start.toDouble
      for (k <- Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
          "addBatch", "commitOffsets"); v <- d.get(k)) {
        spans.add(Span(id, s"streaming.$k", "streaming.trigger", at, at + v))
        at += v
      }
    }
  }

  def install(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
  }

  def uninstall(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
  }

  def tasksIn(fromMs: Long, toMs: Long): Seq[TaskRec] =
    tasks.asScala.filter(t => t.finishMs >= fromMs && t.finishMs <= toMs).toSeq

  def progressIn(fromMs: Long, toMs: Long): Seq[Progress] =
    progress.asScala.filter(p => p.startMs >= fromMs && p.startMs <= toMs)
      .toSeq.sortBy(_.startMs)

  /** Spark-layer metrics over the tasks that finished inside a window. */
  def sparkMetrics(fromMs: Long, toMs: Long): Map[String, (Double, String)] = {
    val ts = tasksIn(fromMs, toMs)
    // skew: per stage with ≥ 2 tasks, slowest task over median task; the
    // median of that over stages
    val skews = ts.groupBy(_.stage).values.filter(_.size >= 2).map { st =>
      val med = Stats.median(st.map(_.durationMs.toDouble))
      st.map(_.durationMs).max / math.max(med, 1.0)
    }.toSeq
    Map(
      "spark.executor_cpu_s" -> (ts.map(_.cpuNs).sum / 1e9, "s"),
      "spark.gc_ms" -> (ts.map(_.gcMs).sum.toDouble, "ms"),
      "spark.shuffle_write_mb" -> (ts.map(_.shuffleWriteBytes).sum / 1048576.0, "MB"),
      "spark.spill_mb" -> (ts.map(_.spillBytes).sum / 1048576.0, "MB"),
      "spark.tasks" -> (ts.size.toDouble, "count"),
      "spark.task_skew" -> (Stats.medianOr0(skews), "ratio"))
  }

  /** Per job-class breakdown for the trace file. */
  def sparkByClass(fromMs: Long, toMs: Long): Map[String, Map[String, Double]] =
    tasksIn(fromMs, toMs).groupBy(t => if (t.cls.startsWith("query:")) "query" else t.cls)
      .map { case (cls, ts) => cls -> Map(
        "tasks" -> ts.size.toDouble,
        "executor_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
        "gc_ms" -> ts.map(_.gcMs).sum.toDouble,
        "shuffle_write_mb" -> ts.map(_.shuffleWriteBytes).sum / 1048576.0) }

  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = spans.asScala.toSeq.sortBy(_.startMs).map { s =>
      f"""{"id":${Http.quote(s.id)},"name":${Http.quote(s.name)},"parent":${Http.quote(s.parent)},"start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Trace {
  /** One finished task, classified by what launched its job. */
  final case class TaskRec(finishMs: Long, cls: String, stage: Int,
      durationMs: Long, cpuNs: Long, gcMs: Long, shuffleWriteBytes: Long,
      spillBytes: Long)

  /** The fields of one `StreamingQueryProgress` the layer metrics use. */
  final case class Progress(startMs: Long, rows: Long, durations: Map[String, Long])
}
