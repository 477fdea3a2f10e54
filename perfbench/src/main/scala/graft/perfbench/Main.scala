package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark runner: one closed-loop client (each call is issued after
  * the previous one returned) in one JVM at `local[N]`, N = available
  * processors, shuffle partitions = N.
  *
  * {{{
  * Main --workload <etl_stream|graph_bsp|corpus_retrieval> --seed <n>
  *      --seconds <s> --trace <0|1> --work <dir>
  * }}}
  *
  * Prints a run header (JSON), a human-readable report, and as the last
  * stdout line the result object. With `--trace 0` the result carries
  * the end-to-end metrics; with `--trace 1` units alternate between
  * traced and untraced, and the result carries the per-layer metrics
  * plus the tracing overhead (traced minus untraced unit time); the
  * spans are written to `<work>/traces/`. */
object Main {

  val Workloads: Seq[String] = Seq("etl_stream", "graph_bsp", "corpus_retrieval")

  /** Every span whose counters are per-layer metrics. */
  val LayerSpans: Seq[String] = Seq(
    "streaming.EtlStream.run", "etl.Pipeline.cleanData", "streaming.EtlStream.landedKeys") ++
    Seq("pageRankE9", "connectedComponentsMinLabel", "labelPropagationMinTie",
      "corenessHIndex", "stronglyConnectedComponents", "hitsPpm").map("operators.Graph." + _) ++
    Seq("operators.Similarity.ivfTopK", "operators.Dedup.minhashPairs",
      "operators.TextAnalysis.bm25MoreLikeThis")

  val SpanCounters: Seq[(String, String)] = Seq("wall_ms" -> "ms", "jobs" -> "count",
    "stages" -> "count", "task_ms" -> "ms", "shuffle_bytes" -> "bytes",
    "spill_bytes" -> "bytes", "idle_ms" -> "ms")

  val StreamPhases: Seq[String] = Seq("addBatch", "queryPlanning", "walCommit",
    "commitOffsets", "latestOffset", "getBatch")

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(get("workload"), get("seed").toLong, get("seconds").toInt,
      get("trace") match { case "0" => false; case "1" => true
        case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, not $t") },
      Path.of(get("work")).toAbsolutePath)
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}; one of ${Workloads.mkString(", ")}")
    require(a.seconds >= 1, "--seconds must be at least 1")
    a
  }

  private def load1(): Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val load1Launch = load1()
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = Runtime.getRuntime.availableProcessors
    val master = s"local[$cores]"
    val run = args.work.resolve("run")
    Files.createDirectories(run)
    val spark = SparkSession.builder().master(master).appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", run.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", run.resolve("spark-warehouse").toString)
      .getOrCreate()
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val tracer = new Tracer(spark, s"${args.workload}-${args.seed}-$jvmStartMs")
    val ctx = Ctx(spark, args.seed, run, tracer)
    val wl: Workload = args.workload match {
      case "etl_stream"       => new EtlWorkload(ctx)
      case "graph_bsp"        => new GraphWorkload(ctx)
      case "corpus_retrieval" => new CorpusWorkload(ctx)
    }

    // set-up: inputs generated three times (median kept), then load and warm up once;
    // the first two copies are deleted at once, before their pages reach the disk
    val genRuns = (1 to 3).map { k =>
      val t0 = System.nanoTime()
      val sizes = wl.generate(run.resolve(s"inputs-$k"))
      val secs = Stats.secs(t0)
      if (k < 3) Gen.delete(run.resolve(s"inputs-$k"))
      (secs, sizes)
    }
    val inputs = run.resolve("inputs-3")
    val fingerprint = Gen.fingerprint(inputs)
    val t1 = System.nanoTime(); wl.load(); val loadS = Stats.secs(t1)
    val t2 = System.nanoTime(); wl.warmup(); val warmS = Stats.secs(t2)
    val genS = Stats.median(genRuns.map(_._1))
    val setupS = sessionS + genS + loadS + warmS

    val header = Json.obj("run_id" -> tracer.runId, "workload" -> args.workload,
      "seed" -> args.seed, "seconds" -> args.seconds, "trace" -> args.trace,
      "nproc" -> cores, "master" -> master,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
      "spark" -> spark.version, "load1_launch" -> load1Launch,
      "inputs" -> genRuns.last._2, "inputs_sha256" -> fingerprint,
      "setup" -> Map("session_s" -> sessionS, "generate_s_median" -> genS,
        "generate_s" -> genRuns.map(_._1), "load_s" -> loadS, "warmup_s" -> warmS))
    println(header)

    // the closed loop
    val unitTimes = mutable.ArrayBuffer[(Boolean, Double)]()
    if (args.trace) Heap.resetPeak()
    val loop0 = System.nanoTime()
    var i = 0
    while (Stats.secs(loop0) < args.seconds && wl.hasUnit(i)) {
      val traced = args.trace && i % 2 == 0
      tracer.setEnabled(traced)
      val u0 = System.nanoTime()
      tracer.span(s"bench.${args.workload}.unit")(wl.unit(i))
      unitTimes += ((traced, Stats.secs(u0)))
      if (traced) wl.probe(i)
      i += 1
    }
    val loopS = Stats.secs(loop0)
    val heapPeak = Heap.peakMb
    tracer.setEnabled(false)
    tracer.finish()
    val t3 = System.nanoTime()
    val out = wl.finish()
    val finishS = Stats.secs(t3)
    val load1Exit = load1()

    val metrics: Seq[Metric] =
      if (!args.trace) Metric("setup_s", setupS, "s") +: out.endToEnd
      else layerMetrics(tracer, args.workload, unitTimes.toSeq, heapPeak)
    if (args.trace) {
      val path = args.work.resolve("traces").resolve(s"${args.workload}-seed${args.seed}.jsonl")
      tracer.write(path, header)
      println(s"# spans written to $path")
    }
    println(s"# ${args.workload} seed=${args.seed} units=${unitTimes.size} loop_s=${"%.3f".format(loopS)} " +
      s"check_s=${"%.3f".format(finishS)} unit_s=${unitTimes.map(u => "%.2f".format(u._2)).mkString(",")} " +
      s"load1_launch=$load1Launch load1_exit=$load1Exit")
    val failedRatio = out.failed.toDouble / math.max(1, out.attempted)
    (Seq(Metric("setup_s", setupS, "s"), Metric("failed_ratio", failedRatio, "ratio")) ++
      out.named ++ out.endToEnd).foreach(m => println(f"# ${m.name}%-44s ${m.value}%14.6f ${m.unit}"))
    out.failures.foreach(f => println(s"# FAILED: $f"))
    println(Json.obj("load1_exit" -> load1Exit, "attempted" -> out.attempted,
      "failed" -> out.failed, "failed_ratio" -> failedRatio))
    println(Json.obj("correct" -> (out.failed == 0), "attempted" -> out.attempted,
      "failed" -> out.failed,
      "metrics" -> mutable.LinkedHashMap(metrics.map(m =>
        m.name -> mutable.LinkedHashMap("value" -> m.value, "unit" -> m.unit)): _*)))
    spark.stop()
  }

  /** Per-layer metrics of a traced run. Span counters are means per
    * call of that span (0 for spans the workload never calls); the
    * rest are per unit, per micro-batch or per step as named. */
  private def layerMetrics(t: Tracer, workload: String, units: Seq[(Boolean, Double)],
                           heapPeakMb: Double): Seq[Metric] = {
    val unit = s"bench.$workload.unit"
    val spanMetrics = for (s <- LayerSpans; (c, u) <- SpanCounters)
      yield Metric(s"$s.$c", t.mean(s, c), u)
    val run = "streaming.EtlStream.run"
    val nBatches = t.total(run, "batches")
    val stream = StreamPhases.map(p => Metric(s"streaming.${p}_ms",
      if (nBatches == 0) 0.0 else t.total(run, s"stream_${p}_ms") / nBatches, "ms")) :+
      Metric("streaming.batches", t.mean(run, "batches"), "count")
    val loops = LayerSpans.filter(_.startsWith("operators.Graph."))
    val steps = loops.map(t.total(_, "steps")).sum
    val loopJobs = loops.map(t.total(_, "jobs")).sum
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b
    val ivf = "operators.Similarity.ivfTopK"; val mh = "operators.Dedup.minhashPairs"
    val traced = units.filter(_._1).map(_._2); val plain = units.filterNot(_._1).map(_._2)
    val overheadS = if (traced.isEmpty || plain.isEmpty) 0.0
                    else Stats.median(traced) - Stats.median(plain)
    spanMetrics ++ stream ++ Seq(
      Metric("core.BspLoop.jobs_per_step", ratio(loopJobs, steps), "count"),
      Metric("core.BspLoop.steps", ratio(steps, t.count(unit)), "count"),
      Metric(s"$ivf.candidates_per_result", ratio(t.total(ivf, "top_join_rows"), t.total(ivf, "results")), "ratio"),
      Metric(s"$mh.verified_per_candidate", ratio(t.total(mh, "results"), t.total(mh, "top_join_rows")), "ratio"),
      Metric("plan.analysis_ms", t.mean(unit, "plan_analysis_ms"), "ms"),
      Metric("plan.optimization_ms", t.mean(unit, "plan_optimization_ms"), "ms"),
      Metric("plan.planning_ms", t.mean(unit, "plan_planning_ms"), "ms"),
      Metric("codegen.compile_ms", t.mean(unit, "codegen_compile_ms"), "ms"),
      Metric("jvm.gc_ms", t.mean(unit, "gc_ms"), "ms"),
      Metric("jvm.heap_peak_mb", heapPeakMb, "MB"),
      Metric("trace.overhead_ms", overheadS * 1000, "ms"),
      Metric("trace.overhead_pct", if (plain.isEmpty) 0.0 else 100 * overheadS / Stats.median(plain), "%"))
  }
}
