package perfbench

import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Benchmark driver: one workload, one seed, one measured window.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --work <scratch dir> --out <results dir> [--cache <dir>] [--smoke]
  * }}}
  *
  * Set-up generates the inputs (the seed-independent query corpus only once
  * per `--cache` dir) and runs one untimed warm-up pass. The runner then
  * repeats timed passes, at least [[MinPasses]], until the window is used.
  * The last stdout line is the result object; with `--trace 1` every other
  * pass is traced and the metrics are the per-layer ones (medians over the
  * traced passes) plus the tracing overhead: traced minus untraced passes'
  * end-to-end figures.
  */
object Main {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "run_s" -> "s", "op_p50_s" -> "s", "op_tail_s" -> "s",
    "peak_heap_mb" -> "MB")

  /** Timed passes every run makes, however short its window. */
  val MinPasses = 3

  val perLayer: Seq[(String, String)] = Seq(
    "queries.build_s" -> "s", "queries.eager_jobs" -> "count",
    "plan.analysis_s" -> "s", "plan.optimization_s" -> "s", "plan.planning_s" -> "s",
    "sched.jobs" -> "count", "sched.stages" -> "count", "sched.tasks" -> "count",
    "sched.stage_gap_s" -> "s",
    "exec.task_s" -> "s", "exec.cpu_s" -> "s", "exec.gc_s" -> "s", "exec.cores_eff" -> "ratio",
    "shuffle.write_bytes" -> "bytes", "shuffle.read_bytes" -> "bytes",
    "shuffle.fetch_wait_s" -> "s", "spill.bytes" -> "bytes",
    "matview.builds" -> "count", "matview.build_s" -> "s", "matview.reads" -> "count",
    "matview.hit_ratio" -> "ratio",
    "io.read_bytes" -> "bytes", "io.write_bytes" -> "bytes", "io.files_written" -> "count",
    "io.write_amp" -> "ratio",
    "store.partitions" -> "count", "store.files" -> "count", "store.read_p50_s" -> "s",
    "compact.s" -> "s", "compact.partitions" -> "count",
    "stream.epochs" -> "count", "stream.rows_in" -> "count", "stream.rows_rejected" -> "count",
    "stream.add_batch_s" -> "s", "stream.plan_s" -> "s", "stream.offset_s" -> "s",
    "stream.commit_s" -> "s", "stream.trades_per_s" -> "1/s",
    "driver.gc_s" -> "s", "driver.heap_peak_mb" -> "MB", "host.canary_s" -> "s",
    "trace.overhead_run_s" -> "s", "trace.overhead_op_p50_s" -> "s",
    "trace.overhead_op_tail_s" -> "s", "trace.overhead_peak_heap_mb" -> "MB")


  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.local.dir", s"$work/spark-local")
      // The context cleaner stays on, as in the engine's own sessions; its
      // shuffle deletions run in its own thread, so the runner can wait for
      // them between passes.
      .config("spark.cleaner.referenceTracking.blocking.shuffle", "true")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def gcSeconds = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).sum / 1e3

  /** Fixed CPU-bound fold with no I/O: a host-speed control, never used to
    * normalize anything.
    */
  private def canary(spark: SparkSession): Double = {
    def once() = {
      val t0 = Clock.ms()
      spark.range(0L, 50000000L, 1L, 16)
        .selectExpr("sum(((id % 1000003) * 2654435761 + shiftright(id, 13)) % 999983)").collect()
      (Clock.ms() - t0) / 1e3
    }
    once()
    once()
  }

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap
    val smoke = args.contains("--smoke")
    val name = opts.getOrElse("workload", sys.error("--workload is required"))
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = opts.getOrElse("work", sys.error("--work is required"))
    val out = opts.getOrElse("out", sys.error("--out is required"))
    val cache = opts.getOrElse("cache", s"$work/cache")
    val cores = Runtime.getRuntime.availableProcessors()
    new java.io.File(out).mkdirs()

    val spark = session(cores, work)
    val sessionS = (Clock.ms() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val workload = Workloads(name, seed, smoke, work, cache)
    val genT0 = Clock.ms()
    workload.setUp(spark, s"$work/input")
    val genS = (Clock.ms() - genT0) / 1e3
    workload.warmUp(spark)
    val warmS = (Clock.ms() - genT0) / 1e3 - genS
    val setupS = sessionS + genS + warmS

    val tracer = if (trace) Some(new Tracer(spark)) else None
    val canaryS = if (trace) canary(spark) else 0.0
    val passes = mutable.ArrayBuffer.empty[Pass]
    val passLayers = mutable.ArrayBuffer.empty[Map[String, Double]]
    val spans = mutable.ArrayBuffer.empty[(Int, Span)]
    val heapPeaks = mutable.ArrayBuffer.empty[Double]
    val window0 = Clock.ms()
    def elapsed = (Clock.ms() - window0) / 1e3
    // Start another pass only if it should end inside the window. Traced
    // runs alternate untraced and traced passes, starting and ending
    // untraced, so JIT warm-up over the passes does not bias the overhead.
    while (passes.size < MinPasses || elapsed + elapsed / passes.size <= seconds ||
        (trace && passes.size % 2 == 0)) {
      val traced = tracer.isDefined && passes.size % 2 == 1
      workload.reset(spark)
      // what earlier passes left for the cleaner is cleaned before this one
      org.apache.spark.perfbench.Bus.settleCleaner(spark.sparkContext)
      LiveHeap.reset()
      val gc0 = gcSeconds
      tracer.filter(_ => traced).foreach(_.attach())
      val p = new Pass(traced)
      val t0 = Clock.ms()
      workload.run(spark, p)
      p.wallS = (Clock.ms() - t0) / 1e3
      val gc = gcSeconds - gc0
      val heapMb = LiveHeap.peakMb()
      heapPeaks += heapMb
      val traceOut = tracer.filter(_ => traced).map { t =>
        val taken = t.takePass(p.ops.toSeq)
        t.detach()
        taken
      }
      workload.check(spark, p)
      traceOut.foreach { case (ss, layers) =>
        spans ++= ss.map(passes.size -> _)
        val amp = if (p.inputBytes > 0) layers("io.write_bytes") / p.inputBytes else 0.0
        passLayers += layers ++ p.layers ++ Map("io.write_amp" -> amp,
          "driver.gc_s" -> gc, "driver.heap_peak_mb" -> heapMb)
      }
      passes += p
    }

    // The tail is each pass's slowest operation, median over passes: a
    // pass yields 6 operations, too few for a pooled high percentile.
    def e2e(ps: Seq[Pass], heaps: Seq[Double]): Map[String, Double] = {
      val p50 = Stats.median(ps.flatMap(_.latencies))
      val tail = Stats.median(ps.map(_.latencies.max))
      require(tail >= p50, s"op_tail_s $tail is below op_p50_s $p50")
      Map("run_s" -> Stats.median(ps.map(_.wallS)), "op_p50_s" -> p50, "op_tail_s" -> tail,
        "peak_heap_mb" -> Stats.median(heaps))
    }
    val idx = passes.indices
    val plain = idx.filterNot(passes(_).traced)
    val untraced = e2e(plain.map(passes), plain.map(heapPeaks))
    val attempted = passes.map(_.attempted).sum
    val failed = passes.map(_.failed).sum
    val detail = mutable.LinkedHashMap[String, Any](
      "workload" -> name, "seed" -> seed, "smoke" -> smoke, "cores" -> cores,
      "passes" -> passes.size, "window_s" -> elapsed, "pass_wall_s" -> passes.map(_.wallS),
      "setup" -> Map("session_s" -> sessionS, "generate_s" -> genS, "warmup_s" -> warmS),
      "op_samples_per_pass" -> plain.map(passes(_).latencies.size),
      "op_tail" -> "slowest operation of each pass, median over passes")
    val metrics: Seq[(String, Double, String)] =
      if (!trace)
        endToEnd.map { case (m, u) => (m, if (m == "setup_s") setupS else untraced(m), u) }
      else {
        val tracedIdx = idx.filter(passes(_).traced)
        val traced = e2e(tracedIdx.map(passes), tracedIdx.map(heapPeaks))
        val over = Seq("run_s", "op_p50_s", "op_tail_s", "peak_heap_mb")
          .map(m => s"trace.overhead_$m" -> (traced(m) - untraced(m))).toMap
        val layers = perLayer.map { case (m, _) =>
          m -> Stats.median(passLayers.toSeq.map(_.getOrElse(m, 0.0)))
        }.toMap ++ over + ("host.canary_s" -> canaryS)
        detail += "untraced" -> untraced
        detail += "traced" -> traced
        val summary = mutable.LinkedHashMap[String, Any]("workload" -> name, "seed" -> seed,
          "layers" -> mutable.LinkedHashMap(perLayer.map { case (m, _) => m -> layers(m) }: _*),
          "span_summary" -> SpanSummary(spans.map(_._2).toSeq),
          "untraced" -> untraced, "traced" -> traced)
        java.nio.file.Files.writeString(java.nio.file.Paths.get(out, "layers.json"), Json(summary))
        val w = java.nio.file.Files.newBufferedWriter(java.nio.file.Paths.get(out, "spans.jsonl"))
        try spans.foreach { case (pass, s) =>
          w.write(Json(mutable.LinkedHashMap("pass" -> pass, "id" -> s.id, "parent" -> s.parent,
            "kind" -> s.kind, "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end,
            "attrs" -> s.attrs)))
          w.newLine()
        } finally w.close()
        perLayer.map { case (m, u) => (m, layers(m), u) }
      }
    val result = mutable.LinkedHashMap[String, Any](
      "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> mutable.LinkedHashMap(metrics.map { case (m, v, u) =>
        m -> mutable.LinkedHashMap("value" -> v, "unit" -> u) }: _*))
    val ops = passes.map(_.ops.map(o => mutable.LinkedHashMap("kind" -> o.kind, "name" -> o.name,
      "s" -> o.seconds)))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out, "result.json"),
      Json(mutable.LinkedHashMap("detail" -> detail, "ops" -> ops, "result" -> result)))
    spark.stop()
    println(Json(Map("detail" -> detail)))
    println(Json(result))
  }
}
