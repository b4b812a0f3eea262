package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What every workload gets: its arguments, a scratch directory inside
  * the checkout, and the session it runs in.
  */
final case class Ctx(
    workload: String, seed: Long, seconds: Double, trace: Boolean,
    work: Path, bench: Path, cores: Int, heap: HeapProbe) {
  @volatile var spark: SparkSession = Session.create(this, cores)
}

/** What a workload hands back: bare metric values by name. `run.py` takes
  * names and units from BENCHMARK.json, requires every end-to-end metric,
  * and reports a per-layer metric the workload does not exercise as 0.
  */
final case class Outcome(
    attempted: Long, failed: Long, metrics: Map[String, Double],
    artifact: mutable.LinkedHashMap[String, Any], spans: Spans = new Spans)

object Session {
  def create(ctx: Ctx, cores: Int): SparkSession = {
    val local = ctx.work.resolve("spark-local")
    Files.createDirectories(local)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${ctx.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", ctx.work.resolve("warehouse").toUri.toString)
      .config("spark.sql.streaming.stopTimeout", "30s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Seq("org.apache.spark.sql.execution.window.WindowExec", "org.apache.spark.rdd")
      .foreach(n => org.apache.log4j.Logger.getLogger(n).setLevel(org.apache.log4j.Level.ERROR))
    spark
  }

  def restart(ctx: Ctx, cores: Int): Unit = {
    ctx.spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    ctx.spark = create(ctx, cores)
  }
}

object Main {
  /** Every run uses `local[4]`, the core count the figures in the README
    * were measured at.
    */
  val Cores = 4

  /** Fixed, data-independent micro-job (the same one `graft.Bench` uses as
    * its contention sentinel); median of five.
    */
  def sentinel(spark: SparkSession, n: Int = 5): Seq[Double] = (0 until n).map { _ =>
    val t0 = System.nanoTime()
    spark.range(0, 1L << 20, 1, 8).selectExpr("sum(id * 3 % 7) as s").write
      .format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  def uptimeS: Double = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
  def log(msg: String): Unit = System.err.println(f"[perfbench] $uptimeS%.1f s: $msg")

  def main(args: Array[String]): Unit = {
    val startedS = uptimeS
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val work = Paths.get(a("work")).toAbsolutePath
    val heap = new HeapProbe
    val ctx = Ctx(workload, a("seed").toLong, a("seconds").toDouble, a("trace") == "1",
      work, Paths.get(a("bench")).toAbsolutePath, Cores, heap)
    a.get("dump").foreach { d =>
      Sweep.dump(ctx, Paths.get(d).toAbsolutePath)
      ctx.spark.stop()
      return
    }
    log("session ready")
    sentinel(ctx.spark, 1) // JIT-warm the sentinel path itself
    val before = sentinel(ctx.spark)
    log("sentinels done")
    val t0 = System.nanoTime()
    val outcome = workload match {
      case "enriched_backlog" => Backlog.run(ctx)
      case "query_sweep" => Sweep.run(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val workloadS = (System.nanoTime() - t0) / 1e9
    log("workload done")
    val after = sentinel(ctx.spark)
    val (sentMedian, contended) = graft.Bench.contentionStamp(before ++ after)

    val metrics = outcome.metrics ++ (if (ctx.trace) Map("host.sentinel_s" -> sentMedian) else Map())
    val artifact = Json.obj(
      "workload" -> workload, "seed" -> ctx.seed, "seconds" -> ctx.seconds,
      "trace" -> ctx.trace, "cores" -> ctx.cores,
      "correct" -> (outcome.failed == 0), "attempted" -> outcome.attempted,
      "failed" -> outcome.failed,
      "failed_share" -> outcome.failed.toDouble / math.max(1L, outcome.attempted),
      "metrics" -> metrics,
      "contention" -> Json.obj("sentinel_before_s" -> before, "sentinel_after_s" -> after,
        "sentinel_median_s" -> sentMedian, "contended" -> contended),
      "heap_settles_mib" -> heap.settles.toSeq,
      "wall_s" -> Json.obj("jvm_to_main" -> startedS, "workload" -> workloadS,
        "total" -> uptimeS),
      "detail" -> outcome.artifact)
    if (ctx.trace) artifact("spans") = outcome.spans.toJson
    Files.write(Paths.get(a("result")), Json.render(artifact).getBytes(UTF_8))
    log("result written")
    ctx.spark.stop()
  }
}
