package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.operators._

/** query_sweep: a closed loop over a fixed subset of `SparkEntry.queries`
  * at sf0.01, one query at a time, each written to the noop sink.
  *
  * The subset is sized to the benchmark's time budget (about a minute per
  * run, warm-up and output check included). It keeps the cheapest query of
  * 17 of the 26 operator families and two of the five most job-heavy
  * queries (q143, q207). Left out: the Dedup and SuffixRank families, whose
  * memo builds alone take 15 s and 8 s, and the remaining families and
  * job-heavy queries whose first query costs more than a second.
  */
object Sweep {
  val Queries: Seq[String] = Seq(
    "q05_min_tstamp", "q27_length_hist", "q47_range_join", "q53_true_cosine",
    "q65_group_split", "q94_string_agg", "q113_power_iteration", "q123_source_gini",
    "q135_journey_trigrams", "q142_ks_distance", "q143_kcore", "q144_skyline",
    "q146_rendezvous_shards", "q149_zonemap_prune", "q179_markov_transitions",
    "q199_pq_append", "q202_mp4_metadata")

  /** About how long one timed pass takes; sizes the run to `--seconds`. */
  val NominalPassS = 12.0

  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def dataDir(ctx: Ctx): Path = ctx.bench.resolve("data").resolve("sf0.01")

  /** Per-corpus memo builds the subset consumes, timed on their own. */
  val Memos: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    "copurchase" -> ((s, d) => GraphCore.warmArtifacts(s, d)))
  /** The memo tables are built this many times, dropped in between, and
    * the median build taken: the first build runs in a cold JVM, and a
    * single build spread 0.13 (IQR ÷ median) over five runs.
    */
  val MemoBuilds = 3

  /** Memo tables are the only tables in the run's own warehouse. */
  private def dropMemoTables(spark: SparkSession): Unit =
    spark.catalog.listTables().collect().filterNot(_.isTemporary)
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `${t.name}`"))

  /** Canonical string per value so that the fingerprint is stable under
    * row order and under last-bit float noise: doubles keep 9 significant
    * digits and -0.0 reads as 0.
    */
  private def canon(dt: DataType, c: Column): Column = dt match {
    case DoubleType | FloatType =>
      val d = c.cast(DoubleType)
      when(d.isNull, lit(null).cast(StringType)).when(d === 0.0, lit("0"))
        .otherwise(format_string("%.9g", d))
    case ArrayType(et, _) =>
      concat(lit("["), array_join(transform(c, x => coalesce(canon(et, x), lit("~"))), ","), lit("]"))
    case st: StructType =>
      concat(lit("{"), concat_ws("|", st.fields.toSeq.map(f =>
        coalesce(canon(f.dataType, c.getField(f.name)), lit("~"))): _*), lit("}"))
    case _: MapType => to_json(c)
    case BinaryType => sha2(c, 256)
    case _ => c.cast(StringType)
  }

  /** Order-insensitive fingerprint: row count and the sum of per-row
    * hashes over the canonical values, columns taken in name order.
    */
  def fingerprint(df: DataFrame): (Long, String) = {
    val names = df.columns
    val types = df.schema.fields.map(_.dataType)
    val pos = df.toDF(names.indices.map(i => s"c$i"): _*)
    val order = names.indices.sortBy(i => (names(i), i))
    val h = xxhash64(order.map(i => coalesce(canon(types(i), col(s"c$i")), lit("~"))): _*)
    val r = pos.select(h.as("h"))
      .agg(count(lit(1)), sum(pmod(col("h"), lit(2305843009213693951L)).cast(DecimalType(38, 0))))
      .head()
    (r.getLong(0), Option(r.getDecimal(1)).fold("0")(_.toPlainString))
  }

  /** Expected fingerprints: `query<TAB>rows<TAB>fingerprint<TAB>source`. */
  def expected(ctx: Ctx): Map[String, (Long, String, String)] = {
    val p = ctx.bench.resolve("expected_fingerprints.tsv")
    new String(Files.readAllBytes(p), UTF_8).split('\n').iterator
      .filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val f = l.split('\t')
        f(0) -> ((f(1).toLong, f(2), f(3)))
      }.toMap
  }

  private def clearCaches(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))

  private def timed(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  private def setup(ctx: Ctx): Double = timed {
    val dir = dataDir(ctx).toString
    Tables.foreach { t =>
      val df = if (t == "events") Synth.events(ctx.spark, dir)
        else ctx.spark.read.parquet(s"$dir/$t.parquet")
      df.count()
    }
  }

  private def dirBytes(p: Path): Long = Files2.listObjects(p).map(Files.size).sum

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val dir = dataDir(ctx).toString
    require(Files.isDirectory(dataDir(ctx)), s"missing sweep data at $dir")
    val traceT = if (ctx.trace) Some(LoaderRun.tracing(spark)) else None
    val spans = new Spans
    val runStart = System.currentTimeMillis()
    val setupS = Stats.median((1 to (if (ctx.trace) 1 else 3)).map(_ => setup(ctx)))

    ctx.heap.settle(); ctx.heap.reset()
    val memo = (1 to MemoBuilds).map { k =>
      if (k > 1) dropMemoTables(spark)
      Memos.map { case (name, build) =>
        val t0 = System.currentTimeMillis()
        val s = timed(build(spark, dir))
        spans.add(Span(s"memo-$name", "operators", t0, System.currentTimeMillis(), "", s"memo-$name-$k"))
        name -> s
      }
    }
    val memoS = Stats.median(memo.map(_.map(_._2).sum))
    val memoBytes = dirBytes(ctx.work.resolve("warehouse"))
    val inputBytes = dirBytes(dataDir(ctx))

    // untimed pass: warms each query and checks its output
    val want = expected(ctx)
    val checkStart = System.nanoTime()
    val checks = Queries.map { q =>
      val got = scala.util.Try(fingerprint(SparkEntry.queries(q)(spark, dir)))
      clearCaches(spark)
      val ok = got.toOption.exists { case (rows, fp) =>
        want.get(q).exists { case (r, f, _) => r == rows && f == fp }
      }
      q -> Json.obj("ok" -> ok, "rows" -> got.toOption.map(_._1), "fingerprint" -> got.toOption.map(_._2),
        "expected_source" -> want.get(q).map(_._3),
        "error" -> got.failed.toOption.map(e => String.valueOf(e.getMessage).take(300)))
    }
    val checkS = (System.nanoTime() - checkStart) / 1e9
    ctx.heap.settle()

    val input = new InputBytesProbe
    spark.sparkContext.addSparkListener(input)
    val rnd = new scala.util.Random(ctx.seed)
    val perQuery = mutable.LinkedHashMap(Queries.map(_ -> mutable.ArrayBuffer.empty[Double]): _*)
    val passInput = mutable.ArrayBuffer.empty[Long]
    var failedRuns = 0L
    def pass(tag: String): Double = {
      val before = input.bytes.get()
      val total = rnd.shuffle(Queries).map { q =>
        val t0 = System.currentTimeMillis()
        val s = timed {
          try SparkEntry.queries(q)(spark, dir).write.format("noop").mode("overwrite").save()
          catch { case e: Throwable => failedRuns += 1; System.err.println(s"[perfbench] $q failed: $e") }
        }
        spans.add(Span(q, "operators", t0, System.currentTimeMillis(), "", s"$tag-$q"))
        clearCaches(spark)
        perQuery(q) += s
        s
      }.sum
      Thread.sleep(100) // let the listener bus deliver the pass's last stage
      passInput += input.bytes.get() - before
      ctx.heap.settle()
      total
    }

    val outcome =
      if (!ctx.trace) {
        // a fixed number of passes per run, so the warm-up share does not
        // depend on how fast the passes happen to be
        val sweeps = (0 until math.max(1, math.round(ctx.seconds / NominalPassS).toInt))
          .map(k => pass(s"p$k"))
        val med = Queries.map(q => Stats.median(perQuery(q).toSeq))
        val sweepS = med.sum
        val metrics = Map(
          "setup_s" -> setupS,
          "peak_heap_mib" -> ctx.heap.peakMib,
          "throughput_mib_s" -> Stats.mib(inputBytes.toDouble) / sweepS,
          "latency_p50_s" -> Stats.quantile(med, 0.5),
          "latency_p90_s" -> Stats.quantile(med, 0.9),
          "warmup_s" -> memoS,
          "bytes_out_ratio" -> memoBytes.toDouble / inputBytes)
        (metrics, Json.obj("sweep_s" -> sweepS, "sweep_geomean_s" -> Stats.geomean(med),
          "passes" -> sweeps.toSeq, "query_s" -> Queries.zip(med).toMap,
          "read_mib_per_pass" -> passInput.map(b => Stats.mib(b.toDouble)).toSeq))
      } else {
        val t = traceT.get
        // the listeners traced the memo build and the checking pass; now
        // untraced and traced passes alternate, so warm-up drift cancels
        // out of the overhead, and the layer metrics come from the last one
        LoaderRun.untrace(spark, t)
        def tracedPass(tag: String): (Double, LoaderRun.Tracing, Long, Long) = {
          val tr = LoaderRun.tracing(spark)
          val from = System.currentTimeMillis()
          val s = try pass(tag) finally LoaderRun.untrace(spark, tr)
          (s, tr, from, System.currentTimeMillis())
        }
        val untraced0 = pass("untraced-0")
        val traced0 = tracedPass("traced-0")._1
        val untraced1 = pass("untraced-1")
        val (traced1, t2, tracedFrom, tracedTo) = tracedPass("traced-1")
        val untraced = (untraced0 + untraced1) / 2
        val traced = (traced0 + traced1) / 2
        Thread.sleep(200)
        val jobs = t2.jobs.snapshot
        val profiles = spans.all.filter(_.id.startsWith("traced-1-")).map { s =>
          val js = jobs.filter(j => j.startMs >= s.startMs && j.endMs <= s.endMs)
          js.foreach(j => spans.add(Span(s"job-${j.id}", "operators", j.startMs, j.endMs, s.name, s.id)))
          val (classes, compileMs) = t2.logs.compileMs(s.startMs, s.endMs)
          s.name -> (JobProbe.profile(js, (s.endMs - s.startMs) / 1000.0) ++ Json.obj(
            "wall_s" -> (s.endMs - s.startMs) / 1000.0,
            "planning_s" -> t2.planning.planningMs(s.startMs, s.endMs) / 1000.0,
            "codegen_classes" -> classes, "codegen_compile_s" -> compileMs / 1000.0,
            "codegen_fallbacks" -> t2.logs.fallbackCount(s.startMs, s.endMs)))
        }
        // compiles are logged once per class, mostly in the untimed pass
        val (c1, ms1) = t.logs.compileMs(runStart, tracedTo)
        val (c2, ms2) = t2.logs.compileMs(tracedFrom, tracedTo)
        val (classes, compileMs) = (c1 + c2, ms1 + ms2)
        val metrics = JobProbe.operatorMetrics(jobs, traced1) ++ Map(
          "operators.planning_s" -> t2.planning.planningMs(tracedFrom, tracedTo) / 1000.0,
          "operators.codegen_classes" -> classes.toDouble,
          "operators.codegen_compile_s" -> compileMs / 1000.0,
          "operators.memo_build_s" -> memoS,
          "operators.self_s" ->
            spans.selfSeconds(_.id.startsWith("traced-1-")).getOrElse("operators", 0.0),
          "functions.codegen_fallbacks" ->
            (t.logs.fallbackCount(runStart, tracedTo) + t2.logs.fallbackCount(tracedFrom, tracedTo)).toDouble,
          "trace.overhead_share" -> (traced - untraced) / untraced)
        (metrics, Json.obj("untraced_sweep_s" -> Seq(untraced0, untraced1),
          "traced_sweep_s" -> Seq(traced0, traced1),
          "profiles" -> profiles.toMap))
      }
    spark.sparkContext.removeSparkListener(input)

    val (metrics, detail) = outcome
    val failedChecks = checks.count(!_._2("ok").asInstanceOf[Boolean])
    Outcome(Queries.size + perQuery.values.map(_.size).sum, failedChecks + failedRuns, metrics,
      detail ++ Json.obj("setup_s" -> setupS, "check_pass_s" -> checkS, "memo_s" -> Memos.map(_._1).zip(memo.transpose.map(_.map(_._2))).toMap, "memo_mib" -> Stats.mib(memoBytes.toDouble),
        "input_mib" -> Stats.mib(inputBytes.toDouble), "checks" -> checks.toMap),
      spans)
  }

  /** Writes each query's output and fingerprint for `make_expected.py`,
    * which compares the outputs with the DuckDB oracle.
    */
  def dump(ctx: Ctx, out: Path): Unit = {
    val dir = dataDir(ctx).toString
    Memos.foreach { case (_, build) => build(ctx.spark, dir) }
    val lines = Queries.map { q =>
      val df = SparkEntry.queries(q)(ctx.spark, dir)
      df.write.mode("overwrite").parquet(out.resolve(q).toString)
      val (rows, fp) = fingerprint(ctx.spark.read.parquet(out.resolve(q).toString))
      val (rows2, fp2) = fingerprint(SparkEntry.queries(q)(ctx.spark, dir))
      clearCaches(ctx.spark)
      s"$q\t$rows2\t$fp2\t${if (rows == rows2 && fp == fp2) "stable" else "differs"}"
    }
    Files.write(out.resolve("fingerprints.tsv"), (lines.mkString("\n") + "\n").getBytes(UTF_8))
    Files.write(out.resolve("oracle_sql.tsv"), Queries.flatMap(q =>
      SparkEntry.oracleSql.get(q).map(sql => s"$q\t${sql.replace('\n', ' ').replace('\t', ' ')}"))
      .mkString("", "\n", "\n").getBytes(UTF_8))
  }
}
