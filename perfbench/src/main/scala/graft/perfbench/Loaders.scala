package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.Instant

import scala.collection.mutable
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.config.{BadOutput, Batching, LoaderConfig, Output, Purpose}
import graft.model.SchemaKey
import graft.sinks.{BlobStore, HadoopBlobStore, RollingGzipWriter}
import graft.sources.Decompression
import graft.streaming.LoaderPipeline

/** Running one loader stream, and turning its progress events and Spark
  * jobs into layer metrics.
  */
object LoaderRun {

  final case class Stream(
      batches: Seq[Progress], startMs: Long, firstEventMs: Long, endMs: Long,
      replays: Boolean, goodDir: Path, badDir: Path, cfg: LoaderConfig)

  final case class Tracing(jobs: JobProbe, planning: PlanningProbe, logs: LogProbe)

  def config(out: Path, maxDelay: FiniteDuration): LoaderConfig =
    LoaderConfig.validate(LoaderConfig(
      Purpose.Enriched,
      Output(out.resolve("good").toUri.toString),
      BadOutput(out.resolve("bad").toUri.toString),
      Batching(maxDelay = maxDelay),
      checkpointLocation = Some(out.resolve("checkpoint").toString)))
      .fold(e => throw new IllegalArgumentException(e), identity)

  /** Start `LoaderPipeline.stream` over `df`, call `drive` while it runs
    * (it returns once the input it produced has been committed), stop it.
    */
  def runStream(spark: SparkSession, df: DataFrame, cfg: LoaderConfig, out: Path)(
      drive: ProgressProbe => Unit): Stream = {
    val probe = new ProgressProbe
    spark.streams.addListener(probe)
    val t0 = System.currentTimeMillis()
    val q = LoaderPipeline.stream(df, cfg, new HadoopBlobStore(Map.empty),
      new LoaderPipeline.Metrics).start()
    val firstEvent =
      try {
        while (probe.events.isEmpty && q.isActive &&
          System.currentTimeMillis() - t0 < 60000) Thread.sleep(5)
        val first = System.currentTimeMillis()
        drive(probe)
        q.exception.foreach(e => throw e)
        first
      } finally {
        q.stop()
        spark.streams.removeListener(probe)
      }
    val all = probe.events.toArray(new Array[Progress](0)).toSeq.filter(_.inputRows > 0)
    val replays = all.groupBy(_.batchId).exists(_._2.size > 1)
    Stream(probe.batches, t0, firstEvent, System.currentTimeMillis(), replays,
      out.resolve("good"), out.resolve("bad"), cfg)
  }

  def await(what: String, limitMs: Long)(done: => Boolean): Unit = {
    val t0 = System.currentTimeMillis()
    while (!done) {
      if (System.currentTimeMillis() - t0 > limitMs)
        throw new IllegalStateException(s"timed out waiting for $what")
      Thread.sleep(10)
    }
  }

  def tracing(spark: SparkSession): Tracing = {
    val t = Tracing(new JobProbe, new PlanningProbe, LogProbe.install())
    spark.sparkContext.addSparkListener(t.jobs)
    spark.listenerManager.register(t.planning)
    t
  }
  def untrace(spark: SparkSession, t: Tracing): Unit = {
    spark.sparkContext.removeSparkListener(t.jobs)
    spark.listenerManager.unregister(t.planning)
    LogProbe.uninstall(t.logs)
  }

  /** Layer metrics of one traced stream, plus its spans. Each batch's
    * trigger is laid out in Spark's phase order (latestOffset, walCommit,
    * getBatch, queryPlanning, addBatch, commitOffsets). A stream's jobs all
    * carry the call site of `start()`, so the jobs inside addBatch are told
    * apart by position and wall time: `LoaderPipeline.writeBatch` runs the
    * size estimate (which materializes decode and parse), the good write,
    * then the bad write. The longest job is taken as the good write and
    * the last as the bad write; both are `sinks`, the rest `operators`.
    * Jobs that start after the batch committed (the file source's listing
    * for the next trigger still carries the old batch id) are left out.
    */
  def layers(s: Stream, t: Tracing, cores: Int, inputMib: Double, spans: Spans): Map[String, Double] = {
    Thread.sleep(200) // let the listener bus deliver the last job events
    val jobs = t.jobs.snapshot.filter(_.batchId.isDefined)
    val byBatch = jobs.groupBy(_.batchId.get)
    val bs = s.batches
    def q(xs: Seq[Double], p: Double) = Stats.quantile(xs, p)
    val perBatch = bs.map { b =>
      val js = byBatch.getOrElse(b.batchId, Nil).filter(_.startMs <= b.commitMs)
      val id = s"batch-${b.batchId}"
      spans.add(Span("batch", "streaming", b.triggerStartMs, b.commitMs, "", id))
      var at = b.triggerStartMs
      Seq("latestOffset" -> "sources", "walCommit" -> "streaming", "getBatch" -> "sources",
        "queryPlanning" -> "streaming", "addBatch" -> "streaming",
        "commitOffsets" -> "streaming").foreach { case (phase, layer) =>
        spans.add(Span(phase, layer, at, at + b.d(phase), "batch", id))
        at += b.d(phase)
      }
      val goodWrite = if (js.isEmpty) None else Some(js.maxBy(j => j.endMs - j.startMs))
      val sinkJobs = (goodWrite ++ js.lastOption).map(_.id).toSet
      js.foreach { j =>
        spans.add(Span(s"job-${j.id}", if (sinkJobs(j.id)) "sinks" else "operators",
          j.startMs, j.endMs, "addBatch", id))
      }
      val write = goodWrite.flatMap(_.stages.sortBy(-_.id).headOption)
      (js.size.toDouble, js.flatMap(_.stages).map(_.tasks).sum.toDouble,
        b.d("triggerExecution") - JobProbe.activeMs(js).toDouble,
        write.map(_.tasks.toDouble),
        write.map(w => w.runMs / (cores * math.max(1.0, (w.doneMs - w.submitMs).toDouble))))
    }
    val wallS = bs.map(_.d("triggerExecution")).sum / 1000.0
    val ops = JobProbe.operatorMetrics(jobs, wallS)
    val from = s.startMs
    val to = s.endMs
    val (classes, compileMs) = t.logs.compileMs(from, to)
    val self = spans.selfSeconds
    Map(
      "streaming.batches" -> bs.size.toDouble,
      "streaming.trigger_ms_p50" -> q(bs.map(_.d("triggerExecution").toDouble), 0.5),
      "streaming.add_batch_ms_p50" -> q(bs.map(_.d("addBatch").toDouble), 0.5),
      "streaming.add_batch_ms_p90" -> q(bs.map(_.d("addBatch").toDouble), 0.9),
      "streaming.query_planning_ms_p50" -> q(bs.map(_.d("queryPlanning").toDouble), 0.5),
      "streaming.wal_commit_ms_p50" -> q(bs.map(_.d("walCommit").toDouble), 0.5),
      "streaming.commit_offsets_ms_p50" -> q(bs.map(_.d("commitOffsets").toDouble), 0.5),
      "streaming.jobs_per_batch" -> q(perBatch.map(_._1), 0.5),
      "streaming.tasks_per_batch" -> q(perBatch.map(_._2), 0.5),
      "streaming.driver_only_ms_p50" -> q(perBatch.map(_._3), 0.5),
      "streaming.write_stage_tasks" -> q(perBatch.flatMap(_._4), 0.5),
      "streaming.write_stage_busy_share" -> q(perBatch.flatMap(_._5), 0.5),
      "streaming.executor_cpu_s_per_mib" -> ops("operators.executor_cpu_s") / math.max(1e-9, inputMib),
      "streaming.shuffle_write_mib" -> ops("operators.shuffle_write_mib"),
      "streaming.self_s" -> self.getOrElse("streaming", 0.0),
      "sources.latest_offset_ms_p50" -> q(bs.map(_.d("latestOffset").toDouble), 0.5),
      "sources.latest_offset_ms_p90" -> q(bs.map(_.d("latestOffset").toDouble), 0.9),
      "sources.get_batch_ms_p50" -> q(bs.map(_.d("getBatch").toDouble), 0.5),
      "sources.self_s" -> self.getOrElse("sources", 0.0),
      "operators.self_s" -> self.getOrElse("operators", 0.0),
      "sinks.self_s" -> self.getOrElse("sinks", 0.0),
      "operators.planning_s" -> t.planning.planningMs(from, to) / 1000.0,
      "operators.codegen_classes" -> classes.toDouble,
      "operators.codegen_compile_s" -> compileMs / 1000.0,
      "functions.codegen_fallbacks" -> t.logs.fallbackCount(from, to).toDouble) ++ ops
  }

  /** Store that keeps only object sizes: the single-thread writer bench
    * measures compression and framing, not the file system.
    */
  final class SizeStore extends BlobStore {
    val sizes = mutable.ArrayBuffer.empty[Long]
    def write(path: String, bytes: Array[Byte]): Unit = sizes += bytes.length
  }

  /** Single-thread layer benches over one workload's records: decode
    * (sources), the rolling writer (sinks), a plain gzip stream of the
    * same lines (the floor the writer's output is compared with) and
    * timed object puts.
    */
  def sinkAndSourceBenches(
      records: Seq[Array[Byte]], goodBytesOut: Long,
      objects: Seq[Path], scratch: Path): Map[String, Double] = {
    val t0 = System.nanoTime()
    var decodedBytes = 0L
    val lines = mutable.ArrayBuffer.empty[Array[Byte]]
    records.foreach { r =>
      val d = Decompression.decode(r)
      d.records.foreach { x => decodedBytes += x.length; lines += x }
    }
    val decodeS = (System.nanoTime() - t0) / 1e9
    val lineMib = Stats.mib(lines.map(_.length.toDouble).sum)

    val store = new SizeStore
    val t1 = System.nanoTime()
    RollingGzipWriter.writeGroup(store,
      RollingGzipWriter.SinkConfig("file:///dev/null/bench"), SchemaKey.Atomic,
      Instant.now(), lines.iterator.map(l => (new String(l, UTF_8), null: java.lang.Long)))
    val writeS = (System.nanoTime() - t1) / 1e9

    val counted = new java.io.OutputStream {
      var n = 0L
      override def write(b: Int): Unit = n += 1
      override def write(b: Array[Byte], off: Int, len: Int): Unit = n += len
    }
    val gz = new java.util.zip.GZIPOutputStream(counted, 1 << 16)
    lines.foreach { l => gz.write(l); gz.write('\n') }
    gz.close()

    val put = new HadoopBlobStore(Map.empty)
    Files.createDirectories(scratch)
    val putMs = objects.zipWithIndex.flatMap { case (p, i) =>
      val bytes = Files.readAllBytes(p)
      (0 until 3).map { k =>
        val t = System.nanoTime()
        put.write(scratch.resolve(s"put-$i-$k").toUri.toString, bytes)
        (System.nanoTime() - t) / 1e6
      }
    }
    Map(
      "sources.decode_s" -> decodeS,
      "sources.decode_mib_s" -> Stats.mib(decodedBytes.toDouble) / math.max(1e-9, decodeS),
      "sinks.write_group_s" -> writeS,
      "sinks.write_group_mib_s" -> lineMib / math.max(1e-9, writeS),
      "sinks.gzip_overhead" -> goodBytesOut.toDouble / math.max(1L, counted.n),
      "sinks.put_ms_p50" -> Stats.median(putMs))
  }

  /** `LoaderPipeline.decode` + `parse` over a static frame of the same
    * records, written to noop: the operator layer without the stream.
    */
  def parseBench(spark: SparkSession, raw: DataFrame, rows: Long): Map[String, Double] = {
    val run = () => {
      val t0 = System.nanoTime()
      LoaderPipeline.parse(LoaderPipeline.decode(raw, Decompression.Limits()), Purpose.Enriched)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    run() // compile once; time the second pass
    val s = run()
    Map("operators.parse_s" -> s, "operators.parse_rows_s" -> rows / math.max(1e-9, s))
  }
}

/** enriched_backlog: a closed-loop catch-up over a backlog of compressed
  * frames that is all present when the stream starts.
  */
object Backlog {
  import LoaderRun._

  val Frames = 200
  /** Drains run before timing starts. In a fresh JVM on a 4-core host the
    * first drain ran at about 8 MiB/s and the second at 12–14 MiB/s, while
    * the JIT compiled the loader's hot paths; later drains ran at 13–15.6.
    */
  val WarmupDrains = 2
  /** About how long one warm drain takes; sizes the run to `--seconds`. */
  val NominalDrainS = 6.0
  val FramesPerBatch = 100
  val MaxDelay: FiniteDuration = 100.millis
  val MaxLineBytes = 16L * 1024

  val BinSchema: StructType = StructType(Seq(
    StructField("path", StringType), StructField("modificationTime", TimestampType),
    StructField("length", LongType), StructField("content", BinaryType)))

  def batchesFor(b: EnrichedGen.Backlog): Int = (b.frames + FramesPerBatch - 1) / FramesPerBatch

  final case class Drain(
      stream: Stream, check: OutputCheck.Result, backlog: EnrichedGen.Backlog, configMs: Long) {
    val bs = stream.batches
    /** The loader's set-up: config validation, building and starting the
      * stream, until its first trigger begins.
      */
    val setupS = (bs.head.triggerStartMs - configMs) / 1000.0
    val drainS = (bs.last.commitMs - bs.head.triggerStartMs) / 1000.0
    val mib = Stats.mib(backlog.goodBytes.toDouble)
    val rate = mib / drainS
    val warmupS = (bs.head.commitMs - stream.startMs) / 1000.0
    val failures = check.failures(stream.replays)
  }

  def drain(ctx: Ctx, backlog: EnrichedGen.Backlog, tag: String): Drain = {
    val spark = ctx.spark
    val out = ctx.work.resolve(s"drain-$tag")
    val df = spark.readStream.format("binaryFile").schema(BinSchema)
      .option("maxFilesPerTrigger", FramesPerBatch.toLong)
      .load(backlog.dir.toString).select(col("content").as("value"))
    val configMs = System.currentTimeMillis()
    val s = runStream(spark, df, config(out, MaxDelay), out) { probe =>
      // the file source admits exactly FramesPerBatch files per batch
      // (its numInputRows counts each of the batch's scans, so it can't be used)
      await("backlog drain", 150000)(probe.batches.size >= batchesFor(backlog))
    }
    val check = OutputCheck.check(s.goodDir, s.badDir, backlog.expected, backlog.corrupt,
      s.cfg.batching.maxBytes, MaxLineBytes)
    Drain(s, check, backlog, configMs)
  }

  def run(ctx: Ctx): Outcome = {
    val t0 = System.nanoTime()
    val backlog = EnrichedGen.writeBacklog(ctx.seed, Frames, ctx.work.resolve("backlog"), ctx.cores)
    val generateS = (System.nanoTime() - t0) / 1e9
    val out = if (ctx.trace) traced(ctx, backlog) else measured(ctx, backlog)
    out.copy(artifact = out.artifact ++ Json.obj("generate_s" -> generateS))
  }

  private def measured(ctx: Ctx, backlog: EnrichedGen.Backlog): Outcome = {
    ctx.heap.settle(); ctx.heap.reset()
    // A fixed number of drains per run: a count that depended on how many
    // drains fit in the window would tie the warm-up share to the speed.
    val measuredDrains = math.max(2, math.round(ctx.seconds / NominalDrainS).toInt)
    val all = (0 until WarmupDrains + measuredDrains).map { k =>
      val d = drain(ctx, backlog, s"d$k")
      Files2.deleteTree(ctx.work.resolve(s"drain-d$k"))
      ctx.heap.settle()
      d
    }
    val drains = all.drop(WarmupDrains)
    val batchS = drains.flatMap(_.bs.map(_.d("triggerExecution") / 1000.0))
    val metrics = Map(
      "setup_s" -> Stats.median(drains.map(_.setupS)),
      "peak_heap_mib" -> ctx.heap.peakMib,
      "throughput_mib_s" -> Stats.median(drains.map(_.rate)),
      "latency_p50_s" -> Stats.quantile(batchS, 0.5),
      "latency_p90_s" -> Stats.quantile(batchS, 0.9),
      "warmup_s" -> Stats.median(drains.map(_.warmupS)),
      "bytes_out_ratio" -> Stats.median(drains.map(d =>
        d.check.goodBytesOut.toDouble / backlog.goodBytes)))
    Outcome(
      all.size * (backlog.goodRecords + backlog.corrupt), all.map(_.failures).sum,
      metrics,
      Json.obj(
        "frames" -> backlog.frames, "corrupt_frames" -> backlog.corrupt,
        "good_records" -> backlog.goodRecords, "input_mib" -> Stats.mib(backlog.goodBytes.toDouble),
        "compressed_mib" -> Stats.mib(backlog.compressedBytes.toDouble),
        "drains" -> all.map(d => Json.obj(
          "setup_s" -> d.setupS, "drain_s" -> d.drainS, "mib_s" -> d.rate, "warmup_s" -> d.warmupS,
          "batches" -> d.bs.size, "batch_s" -> d.bs.map(_.d("triggerExecution") / 1000.0),
          "check" -> d.check.toJson)),
        "latency_samples" -> batchS.size))
  }

  private def traced(ctx: Ctx, backlog: EnrichedGen.Backlog): Outcome = {
    val warm = (0 until WarmupDrains).map(k => drain(ctx, backlog, s"warm-$k"))
    // untraced and traced drains alternate, so warm-up drift cancels out
    // of the overhead; the layer metrics come from the last traced drain
    val untraced = drain(ctx, backlog, "untraced-0")
    val t0 = tracing(ctx.spark)
    val tr0 = try drain(ctx, backlog, "traced-0") finally untrace(ctx.spark, t0)
    val untraced1 = drain(ctx, backlog, "untraced-1")
    val t = tracing(ctx.spark)
    val spans = new Spans
    val tr = try drain(ctx, backlog, "traced-1") finally untrace(ctx.spark, t)
    val layerMetrics = layers(tr.stream, t, ctx.cores, tr.mib, spans)
    val untracedS = (untraced.drainS + untraced1.drainS) / 2
    val tracedS = (tr0.drainS + tr.drainS) / 2

    val frames = Files2.listObjects(backlog.dir).map(p => Files.readAllBytes(p))
    val benches = sinkAndSourceBenches(frames, tr.check.goodBytesOut,
      Files2.listObjects(tr.stream.goodDir), ctx.work.resolve("puts"))
    val raw = ctx.spark.read.format("binaryFile").load(backlog.dir.toString)
      .select(col("content").as("value"))
    val parse = parseBench(ctx.spark, raw, backlog.goodRecords + backlog.corrupt)

    // single-threaded baseline: the same quarter backlog at all cores, then at one
    val quarter = EnrichedGen.writeBacklog(ctx.seed + 2, Frames / 4,
      ctx.work.resolve("backlog-quarter"), ctx.cores)
    val wide = drain(ctx, quarter, "quarter-wide")
    Session.restart(ctx, 1)
    val narrow = drain(ctx, quarter, "quarter-narrow")
    val efficiency = wide.rate / (ctx.cores * narrow.rate)
    Session.restart(ctx, ctx.cores) // the closing sentinel runs at full width

    val metrics = layerMetrics ++ benches ++ parse ++ Map(
      "sources.corrupt_frames" -> tr.check.corruptRows.toDouble,
      "operators.good_rows" -> tr.check.goodLines.toDouble,
      "operators.bad_rows" -> tr.check.badRows.toDouble,
      "sinks.objects" -> tr.check.goodObjects.toDouble,
      "sinks.bad_objects" -> tr.check.badObjects.toDouble,
      "streaming.parallel_efficiency" -> efficiency,
      "trace.overhead_share" -> (tracedS - untracedS) / untracedS)
    val all = warm ++ Seq(untraced, tr0, untraced1, tr, wide, narrow)
    Outcome(all.map(d => d.backlog.goodRecords + d.backlog.corrupt).sum,
      all.map(_.failures).sum, metrics,
      Json.obj(
        "untraced_drain_s" -> Seq(untraced.drainS, untraced1.drainS),
        "traced_drain_s" -> Seq(tr0.drainS, tr.drainS),
        "jobs" -> t.jobs.snapshot.map(j => Json.obj("id" -> j.id, "batch" -> j.batchId,
          "call_site" -> j.callSite, "ms" -> (j.endMs - j.startMs),
          "stage_tasks" -> j.stages.map(_.tasks))),
        "quarter_mib_s_wide" -> wide.rate, "quarter_mib_s_one_core" -> narrow.rate,
        "check" -> tr.check.toJson),
      spans)
  }
}
