package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run:
  * `--workload <stream_steady|stream_bulk> --seed <n> --seconds <s>
  *  --trace <0|1> --cpus <n> --work <dir> --out <dir>`.
  *
  * Prints, as its last stdout line, `{"correct", "attempted", "failed",
  * "metrics"}`: the end-to-end metrics untraced, the per-layer metrics
  * traced. Writes the run's details (and, traced, its spans) under `--out`.
  */
object Main {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "cpu_s" -> "s", "drain_ms" -> "ms")

  /** Every per-layer metric, each workload reports all of them; a layer a
    * workload does not exercise reports 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "sources.post_ms.p50" -> "ms", "sources.post_ms.max" -> "ms",
    "sources.posts" -> "count", "sources.post_failed" -> "count",
    "sources.spool_backlog_files" -> "count",
    "streaming.batches" -> "count", "streaming.rows_per_batch.p50" -> "count",
    "streaming.trigger_ms.p50" -> "ms", "streaming.trigger_ms.max" -> "ms",
    "streaming.latest_offset_ms.p50" -> "ms", "streaming.plan_ms.p50" -> "ms",
    "streaming.add_batch_ms.p50" -> "ms", "streaming.add_batch_ms.max" -> "ms",
    "streaming.wal_commit_ms.p50" -> "ms", "streaming.idle_frac" -> "ratio",
    "streaming.dropped" -> "count",
    "pipeline.ingest_ms" -> "ms", "pipeline.rollup_ms" -> "ms",
    "pipeline.rollup_ratio" -> "ratio",
    "sink.write_batch_ms" -> "ms", "sink.flush_ms" -> "ms",
    "sink.regenerate_stats_ms" -> "ms", "sink.partial_dirs" -> "count",
    "sink.files" -> "count", "sink.store_mb" -> "MB", "sink.read_ms" -> "ms") ++
    Seq("sql_count", "sql_timeseries", "sql_topn", "sql_dim_filter", "sql_distinct",
      "native_timeseries", "native_topn", "native_groupby")
      .map(t => s"queries.$t.p50_ms" -> "ms") ++ Seq(
    "queries.plan_ms.p50" -> "ms", "queries.exec_ms.p50" -> "ms",
    "queries.failed" -> "count",
    "spark.executor_cpu_s" -> "s", "spark.gc_ms" -> "ms",
    "spark.shuffle_write_mb" -> "MB", "spark.spill_mb" -> "MB",
    "spark.tasks" -> "count", "spark.task_skew" -> "ratio",
    "gen.late_ms.p50" -> "ms", "gen.late_ms.max" -> "ms",
    "host.others_cores" -> "cores", "host.steal_cores" -> "cores",
    "jvm.heap_peak_mb" -> "MB", "error_rate" -> "ratio",
    "trace.drain_ms" -> "ms",
    "trace.listener_ms" -> "ms")

  val Workloads: Map[String, Ctx => Unit] =
    Map("stream_steady" -> (OpenStream.run(_, Steady.workload)),
      "stream_bulk" -> (OpenStream.run(_, Bulk.workload)))

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts.getOrElse("workload", "")
    val run = Workloads.getOrElse(workload, {
      System.err.println(s"unknown workload '$workload' (${Workloads.keys.mkString(", ")})")
      sys.exit(2)
    })
    val seed = opts("seed").toLong
    val traced = opts.getOrElse("trace", "0") == "1"
    val cpus = opts("cpus").toInt
    val out = Files.createDirectories(Paths.get(opts("out")))

    // configured as Daemon.main configures its session, with local[nproc]
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val trace = new Trace(traced)
    trace.install(spark)
    val report = new Report
    if (traced) PerLayer.foreach { case (n, u) => report.put(n, 0.0, u) }
    val ctx = Ctx(spark, seed, opts("seconds").toInt, trace, cpus,
      Files.createDirectories(Paths.get(opts("work"))), report)
    report.details("session_s") = sessionS.toString
    try run(ctx)
    catch { case e: Throwable =>
      e.printStackTrace()
      sys.exit(1)
    }
    Stack.log("workload done")
    trace.uninstall(spark)
    Stack.crashed.forEach(c => report.attempt(ok = false, c))

    val failures = report.failures.asScala.toSeq
    report.put("queries.failed", failures.count(f =>
      f.startsWith("sql_") || f.startsWith("native_")).toDouble, "count")
    report.put("error_rate", report.failed.toDouble / math.max(1L, report.attempted), "ratio")
    report.put("trace.listener_ms", trace.overheadMs, "ms")
    failures.foreach(f => System.err.println(s"FAILED: $f"))

    val names = if (traced) PerLayer else EndToEnd
    val missing = names.filterNot(n => report.metrics.contains(n._1))
    require(missing.isEmpty, s"metrics not measured: ${missing.map(_._1).mkString(", ")}")
    def num(v: Double) = if (v.isNaN || v.isInfinite) "null" else v.toString
    val metrics = names.map { case (n, _) =>
      val (v, u) = report.metrics(n)
      s"${Http.quote(n)}:{\"value\":${num(v)},\"unit\":${Http.quote(u)}}"
    }.mkString("{", ",", "}")
    val stem = s"$workload-seed$seed-${if (traced) "traced" else "untraced"}"
    if (traced) trace.writeSpans(out.resolve(s"$stem-spans.jsonl"))
    val detail = s"""{"workload":${Http.quote(workload)},"seed":$seed,""" +
      s""""check_seed":${ctx.checkSeed},"cpus":$cpus,""" +
      s""""attempted":${report.attempted},"failed":${report.failed},""" +
      s""""failures":${failures.map(Http.quote).mkString("[", ",", "]")},""" +
      report.details.map { case (k, v) => s"${Http.quote(k)}:$v," }.mkString +
      s""""metrics":${report.metrics.map { case (n, (v, u)) =>
        s"${Http.quote(n)}:{\"value\":${num(v)},\"unit\":${Http.quote(u)}}" }
        .mkString("{", ",", "}")}}"""
    Files.writeString(out.resolve(s"$stem.json"), detail + "\n")
    println(s"""{"correct":${report.failed == 0},"attempted":${report.attempted},""" +
      s""""failed":${report.failed},"metrics":$metrics}""")
    System.out.flush()
    spark.stop()
    sys.exit(0)
  }
}
