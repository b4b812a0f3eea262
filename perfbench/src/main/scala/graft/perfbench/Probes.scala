package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Everything here observes the program from outside, through Spark's
  * public listener interfaces and the logging framework; nothing is
  * compiled into the loader itself.
  */

/** One finished Spark job with the metrics of the stages it ran. */
final case class JobRec(
    id: Int, startMs: Long, endMs: Long, batchId: Option[Long], callSite: String,
    stages: Seq[StageRec])

final case class StageRec(
    id: Int, tasks: Int, submitMs: Long, doneMs: Long, runMs: Long, cpuNs: Long,
    inputBytes: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long)

/** Job/stage/task listener. Jobs are kept whole so a caller can cut them
  * by time window (one query at a time) or by streaming batch id.
  */
final class JobProbe extends SparkListener {
  private val open = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Option[Long], String, Seq[Int])]()
  private val stageDone = new java.util.concurrent.ConcurrentHashMap[Int, StageRec]()
  val jobs = new ConcurrentLinkedQueue[JobRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val batch = props.flatMap(p => Option(p.getProperty("streaming.sql.batchId"))).map(_.toLong)
    // the call site of a job is the name of its final stage
    val site = e.stageInfos.sortBy(-_.stageId).headOption.map(_.name).getOrElse("")
    open.put(e.jobId, (e.time, batch, site, e.stageIds))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    val rec =
      if (m == null) StageRec(i.stageId, i.numTasks, 0, 0, 0, 0, 0, 0, 0, 0)
      else StageRec(i.stageId, i.numTasks,
        i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
        m.executorRunTime, m.executorCpuTime, m.inputMetrics.bytesRead,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled)
    stageDone.put(i.stageId, rec)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val o = open.remove(e.jobId)
    if (o != null) {
      val (start, batch, site, stageIds) = o
      // skipped stages (shuffle reuse) never complete and ran no tasks
      jobs.add(JobRec(e.jobId, start, e.time, batch, site,
        stageIds.flatMap(id => Option(stageDone.get(id)))))
    }
  }

  def snapshot: Seq[JobRec] = jobs.asScala.toVector.sortBy(_.startMs)
}

object JobProbe {
  /** Total time covered by the union of job intervals. */
  def activeMs(js: Seq[JobRec]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    js.map(j => (j.startMs, j.endMs)).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Summary of a set of jobs, the shape reported per query and per window. */
  def profile(js: Seq[JobRec], wallS: Double): mutable.LinkedHashMap[String, Any] = {
    val st = js.flatMap(_.stages)
    val activeS = activeMs(js) / 1000.0
    Json.obj(
      "jobs" -> js.size,
      "stages" -> st.size,
      "tasks" -> st.map(_.tasks).sum,
      "checkpoint_jobs" -> js.count(_.callSite.toLowerCase.contains("checkpoint")),
      "job_active_s" -> activeS,
      "driver_only_s" -> math.max(0.0, wallS - activeS),
      "executor_cpu_s" -> st.map(_.cpuNs).sum / 1e9,
      "input_mib" -> Stats.mib(st.map(_.inputBytes).sum.toDouble),
      "shuffle_read_mib" -> Stats.mib(st.map(_.shuffleReadBytes).sum.toDouble),
      "shuffle_write_mib" -> Stats.mib(st.map(_.shuffleWriteBytes).sum.toDouble),
      "spill_mib" -> Stats.mib(st.map(_.spillBytes).sum.toDouble))
  }

  /** The [[profile]] figures reported as `operators.*` layer metrics. */
  def operatorMetrics(js: Seq[JobRec], wallS: Double): Map[String, Double] =
    profile(js, wallS).iterator.collect {
      case (k, v: Int) if k != "input_mib" => s"operators.$k" -> v.toDouble
      case (k, v: Double) if k != "input_mib" => s"operators.$k" -> v
    }.toMap
}

/** Sums stage input bytes only: the one listener the untraced run keeps,
  * because the sweep's throughput figure needs it.
  */
final class InputBytesProbe extends SparkListener {
  val bytes = new java.util.concurrent.atomic.AtomicLong()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(e.stageInfo.taskMetrics).foreach(m => bytes.addAndGet(m.inputMetrics.bytesRead))
}

/** One streaming progress event, reduced to what the benchmark reads. */
final case class Progress(
    batchId: Long, triggerStartMs: Long, durations: Map[String, Long], inputRows: Long) {
  def d(k: String): Long = durations.getOrElse(k, 0L)
  def commitMs: Long = triggerStartMs + d("triggerExecution")
}

final class ProgressProbe extends StreamingQueryListener {
  val events = new ConcurrentLinkedQueue[Progress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    events.add(Progress(
      p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      p.numInputRows))
  }
  /** Progress of batches that read input, in batch order, deduplicated. */
  def batches: Seq[Progress] =
    events.asScala.toVector.filter(_.inputRows > 0).groupBy(_.batchId)
      .values.map(_.last).toVector.sortBy(_.batchId)
}

/** Planning-phase time (analysis, optimization, planning) per executed
  * query, from the query execution tracker.
  */
final class PlanningProbe extends QueryExecutionListener {
  val phases = new ConcurrentLinkedQueue[(Long, Long)]() // (end ms, planning ms)
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phases.add((System.currentTimeMillis(),
      qe.tracker.phases.values.map(_.durationMs).sum))
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  def planningMs(fromMs: Long, toMs: Long): Long =
    phases.asScala.filter { case (t, _) => t >= fromMs && t <= toMs }.map(_._2).sum
}

/** Log capture: whole-stage-codegen compile times (CodeGenerator logs one
  * "Code generated in X ms" line per compiled class) and codegen
  * fallbacks (compile failures that drop a plan to interpreted mode).
  */
final class LogProbe extends AbstractAppender(
    "perfbench-capture", null, null, true, Property.EMPTY_ARRAY) {
  val compiles = new ConcurrentLinkedQueue[(Long, Double)]() // (ms, compile ms)
  val fallbacks = new ConcurrentLinkedQueue[(Long, String)]()
  private val Generated = """Code generated in ([0-9.]+) ms""".r.unanchored

  override def append(e: LogEvent): Unit = {
    val msg = e.getMessage.getFormattedMessage
    val now = System.currentTimeMillis()
    msg match {
      case Generated(ms) => compiles.add((now, ms.toDouble))
      case _ =>
        val l = msg.toLowerCase
        if (l.contains("failed to compile") || l.contains("codegen disabled") ||
            l.contains("falling back"))
          fallbacks.add((now, msg.take(200)))
    }
  }

  def compileMs(fromMs: Long, toMs: Long): (Int, Double) = {
    val xs = compiles.asScala.filter { case (t, _) => t >= fromMs && t <= toMs }.map(_._2)
    (xs.size, xs.sum)
  }
  def fallbackCount(fromMs: Long, toMs: Long): Int =
    fallbacks.asScala.count { case (t, _) => t >= fromMs && t <= toMs }
}

object LogProbe {
  private val CodeGen = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"

  def install(): LogProbe = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    val probe = new LogProbe
    probe.start()
    cfg.addAppender(probe)
    cfg.getRootLogger.addAppender(probe, Level.WARN, null)
    // compile-time lines are INFO; route them to the probe only
    val lc = new LoggerConfig(CodeGen, Level.INFO, false)
    lc.addAppender(probe, Level.INFO, null)
    cfg.addLogger(CodeGen, lc)
    ctx.updateLoggers()
    probe
  }

  def uninstall(probe: LogProbe): Unit = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    cfg.removeLogger(CodeGen)
    cfg.getRootLogger.removeAppender(probe.getName)
    ctx.updateLoggers()
    probe.stop()
  }
}

/** Peak old-generation occupancy after a full collection. The benchmark
  * calls [[settle]] at the end of each unit of work (a drain, a sweep
  * pass), so the figure is the most heap the program kept live between
  * units: caches, state and leaks. Occupancy sampled after young
  * collections also counts promoted garbage and swung by half from run
  * to run, so it is not used.
  */
final class HeapProbe {
  private val old = ManagementFactory.getMemoryPoolMXBeans.asScala
    .find(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
  val settles = mutable.ArrayBuffer.empty[Double]

  /** Two collections apart: Spark's ContextCleaner frees the blocks of
    * broadcasts and RDDs only after a collection has found them
    * unreachable, so a single collection leaves a varying share of them
    * in the block manager.
    */
  def settle(): Unit = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    old.foreach(p => settles += Stats.mib(p.getUsage.getUsed.toDouble))
  }
  def reset(): Unit = settles.clear()
  def peakMib: Double = if (settles.isEmpty) 0.0 else settles.max
}

/** In-memory span log, written out when the run ends. */
final case class Span(name: String, layer: String, startMs: Long, endMs: Long,
    parent: String, id: String)

final class Spans {
  private val buf = mutable.ArrayBuffer.empty[Span]
  def add(s: Span): Span = synchronized { buf += s; s }
  def all: Seq[Span] = synchronized(buf.toVector)

  /** Self time per layer: each span's duration minus the part covered by
    * its children (spans naming it as parent within the same id).
    */
  def selfSeconds: Map[String, Double] = selfSeconds(_ => true)

  def selfSeconds(keep: Span => Boolean): Map[String, Double] = {
    val spans = all.filter(keep)
    val kids = spans.groupBy(s => (s.id, s.parent))
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val covered = kids.getOrElse((s.id, s.name), Nil)
          .map(c => math.max(0L, math.min(c.endMs, s.endMs) - math.max(c.startMs, s.startMs))).sum
        math.max(0L, (s.endMs - s.startMs) - covered)
      }.sum / 1000.0
    }
  }

  def toJson: Seq[mutable.LinkedHashMap[String, Any]] = all.map(s => Json.obj(
    "name" -> s.name, "layer" -> s.layer, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
    "parent" -> s.parent, "id" -> s.id))
}
