package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, current_timestamp}

import graft.config.IngestionSpec
import graft.pipeline.Pipeline
import graft.sink.{SegmentSink, SegmentStore}
import graft.tools.Force

/** The traced run's direct calls into the layers the daemon hides: one
  * batch of up to 16 recorded posts (the most one trigger reads) replayed
  * through the public `Pipeline` calls and written by `SegmentSink` into a
  * copy of the run's store, and the query templates compiled and executed
  * through `DruidSql` / `DruidQueryCompiler` with the plan / execute split.
  * Runs after the timed window. */
object Probe {
  private def timedMs[A](ctx: Ctx, name: String)(body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    val t1 = System.nanoTime()
    ctx.trace.add("probe", name, "probe", t0, t1)
    (a, (t1 - t0) / 1e6)
  }

  /** pipeline.* and sink.* from `batch` (the request bodies of the posts)
    * and the daemon's closed store at `store`. */
  def pipelineAndSink(ctx: Ctx, spec: IngestionSpec, batch: Seq[Array[Byte]],
      store: Path): Unit = {
    val r = ctx.report
    val dir = ctx.work.resolve("probe")
    val in = Files.createDirectories(dir.resolve("batch"))
    batch.zipWithIndex.foreach { case (b, i) => Files.write(in.resolve(s"post-$i.json"), b) }

    // the files a store read lists: parquet outside the `_`-prefixed
    // sidecar and staging directories at the store root
    val isData = (p: Path) => p.toString.endsWith(".parquet") &&
      !store.relativize(p).getName(0).toString.startsWith("_")
    r.put("sink.files", Stack.countFiles(store, isData).toDouble, "count")
    r.put("sink.partial_dirs", partialDirs(store).toDouble, "count")
    r.put("sink.store_mb", bytes(store) / 1048576.0, "MB")

    val spark = ctx.spark
    val p = new Pipeline(spec)
    val raw = spark.read.schema(Stack.schema).json(in.toString)
    val projected = p.project(p.windowFilter(p.extractTimestamp(raw), current_timestamp()))
      .persist()
    val rolled = p.withSegment(p.rollup(projected))
      .repartition(math.max(1, spec.tuning.partitions), col(Pipeline.SegmentCol))
      .persist()
    try {
      r.put("pipeline.ingest_ms", timedMs(ctx, "pipeline.ingest")(Force.noop(projected))._2, "ms")
      r.put("pipeline.rollup_ms", timedMs(ctx, "pipeline.rollup")(Force.noop(rolled))._2, "ms")
      r.put("pipeline.rollup_ratio",
        projected.count().toDouble / math.max(1L, rolled.count()), "ratio")

      val copy = dir.resolve("store")
      copyTree(store, copy)
      r.put("sink.write_batch_ms", timedMs(ctx, "sink.writeMicroBatch")(
        SegmentSink.writeMicroBatch(copy.toString, withStats = false)(rolled, 1000000L))._2, "ms")
      r.put("sink.regenerate_stats_ms", timedMs(ctx, "sink.regenerateStats")(
        SegmentSink.regenerateStats(spark, copy.toString))._2, "ms")
      r.put("sink.read_ms", timedMs(ctx, "sink.read")(
        Force.noop(SegmentStore.read(spark, copy.toString, spec)))._2, "ms")
    } finally {
      rolled.unpersist()
      projected.unpersist()
    }
  }

  /** queries.plan_ms.p50 / queries.exec_ms.p50: each query compiled against
    * the store's query view (the same frame the daemon routes to), its
    * physical plan built, then forced through the noop sink. */
  def queries(ctx: Ctx, spec: IngestionSpec, store: Path, qs: Seq[Query]): Unit = {
    val ds = spec.dataSchema.dataSource
    def frame(): DataFrame = SegmentStore.read(ctx.spark, store.toString, spec)
      .drop(Pipeline.SegmentCol).withColumnRenamed(Pipeline.TsCol, "__time")
    val split = qs.zipWithIndex.map { case (q, i) =>
      val body = Http.json(q.body(s"probe-$i"))
      val df =
        if (q.path == Templates.Sql) graft.queries.DruidSql.run(body.get("query").asText, Map(ds -> frame()))
        else graft.queries.DruidQueryCompiler.compile(body.toString, _ => frame())
      val plan = timedMs(ctx, s"queries.plan.${q.template}")(df.queryExecution.executedPlan)._2
      val exec = timedMs(ctx, s"queries.exec.${q.template}")(Force.noop(df))._2
      (plan, exec)
    }
    ctx.report.put("queries.plan_ms.p50", Stats.percentile(split.map(_._1), 0.5), "ms")
    ctx.report.put("queries.exec_ms.p50", Stats.percentile(split.map(_._2), 0.5), "ms")
  }

  private def partialDirs(store: Path): Long = {
    def children(dir: Path): List[Path] = {
      val s = Files.list(dir)
      try s.iterator.asScala.toList finally s.close()
    }
    if (!Files.exists(store)) 0L
    else children(store).filter(_.getFileName.toString.startsWith(Pipeline.SegmentCol + "="))
      .map(seg => children(seg).count(_.getFileName.toString.startsWith("__batch_id=")).toLong)
      .sum
  }

  private def bytes(dir: Path): Long = {
    val s = Files.walk(dir)
    try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }

  private def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator.asScala.foreach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
    } finally s.close()
  }
}
