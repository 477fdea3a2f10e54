package graft

/** Benchmark main: runs every declared query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line of per-query seconds.
  *
  * `graft.Bench name [name ...]` times just those queries, the fast
  * inner loop for optimization work (a full pass takes minutes). The
  * method and the JSON line are the same; only the record file is not
  * written, so a subset can never become the committed record that
  * BenchRecordSpec checks.
  *
  * Each query is fully materialized through the `noop` sink — a
  * `count()` would let Catalyst prune every column the count doesn't
  * need, silently skipping the projection work (regex chains, sketch
  * signatures) the query exists to measure. A warmup query runs first
  * (untimed) so session/codegen init doesn't land on whichever query
  * happens to run first.
  *
  * Aggregation policy is UNIFORM: three whole-suite passes, every
  * query keeps its min of three. A transient spike (GC, a concurrently
  * exiting JVM, page-cache cold start) lands on at most one pass, and
  * a contention window spanning two passes (observed in driver runs
  * minutes after a long build: phantom >2x rows, quiet re-run ~0.5 s)
  * still leaves the third. Whole-suite passes, not back-to-back
  * reruns, so a multi-second stall cannot straddle all timings of one
  * query. No query is treated differently from any other — an earlier
  * design gave a third timing only to rows exceeding a recorded
  * expectation, which biased the headline toward the expectations
  * file. All three raw passes ride in the JSON, and the 1-minute
  * system load average is recorded at each pass boundary, so a reader
  * can both reproduce the aggregation and see whether any pass ran on
  * a contended machine.
  */
object Bench {

  def main(args: Array[String]): Unit = {
    val subset = args.nonEmpty
    val specs = if (subset) SparkEntry.resolve(args.toSeq) else SparkEntry.specs
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Pre-launch 1-minute load average, sampled BEFORE the session
    // exists: every later sample is polluted by the bench's own 32-way
    // work (a quiet-machine run still shows boundary load1 up to ~6),
    // so this is the only sample that measures EXTERNAL contention —
    // the record-quality gate below keys on it.
    val loadPre = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val spark = graft.core.Sessions.local()
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    Thread.sleep(3000) // settle: a concurrently-exiting JVM (sbt test) inflates early timings
    // The four stream_* drains churn state-store commits and temp-dir cleanup
    // threads; in plain sorted order that noise lands on whichever queries sort
    // after "stream_*" (measured 2.6-3.2x inflation on text_*).
    // Run every batch query first, then the drains last.
    val (drains, batch) = specs.sortBy(_.name).partition(_.name.startsWith("stream_"))
    val order = batch ++ drains
    def timeOnce(q: QuerySpec): Double = {
      val t0 = System.nanoTime()
      // a crashed query must not masquerade as a fast pass: record -1.0,
      // and say on stderr which query failed and why
      try { q.build(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9 }
      catch { case e: Throwable =>
        System.err.println(s"BENCH: ${q.name} failed: ${e.getClass.getName}: ${e.getMessage}")
        -1.0
      }
    }
    // 1-minute system load average at each pass boundary: n+1 samples
    // bracket the n passes, so a driver-side >1.5x row can be checked
    // against machine contention without a re-run. -1 where the
    // platform doesn't report one.
    def loadAvg(): Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    val loads = scala.collection.mutable.ListBuffer(loadAvg())
    val passes = (1 to 3).map { _ =>
      val p = order.map(q => q.name -> timeOnce(q))
      loads += loadAvg()
      p
    }
    val results = order.map(_.name).zipWithIndex.map { case (name, i) =>
      val ts = passes.map(_(i)._2)
      name -> (if (ts.exists(_ < 0)) -1.0 else ts.min)
    }
    def obj(rows: Seq[(String, Double)]): String =
      rows.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val errs = results.collect { case (k, v) if v < 0 => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.map(_._2).filter(_ >= 0).sum
    // all raw passes + per-boundary load averages ride along so the
    // harness (or a reader) can apply its own aggregation policy and
    // adjudicate contention instead of trusting the min
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":${obj(results)},""" +
      passes.zipWithIndex.map { case (p, i) => s""""pass${i + 1}":${obj(p)}""" }.mkString(",") +
      s""","load1":[${loads.mkString(",")}],"load1_prelaunch":${"%.4f".formatLocal(java.util.Locale.ROOT, loadPre)},""" +
      s""""errors":$errs,"sf":"$sfDir"}"""
    println(json)
    if (!subset) writeRecord(json, loadPre)
    spark.stop()
  }

  /** Land the line as a file too: the driver's stdout capture tail-
    * truncates long sbt output, and comparing two runs should not mean
    * scraping logs.
    *
    * Record-quality gate: a run that STARTED on a contended machine must
    * not become the canonical record, since comparisons against a record
    * taken under external load are noise. The stdout JSON line is always
    * printed (the driver contract is untouched); only the
    * BENCH_LOCAL.json refresh is withheld, to BENCH_LOCAL_REJECTED.json,
    * when the PRE-LAUNCH load1 exceeds the bound (boundary samples
    * measure the bench's own work and can legitimately reach ~6 on a
    * quiet machine — see the sampling note at loadPre). BenchRecordSpec
    * pins the committed record's load1_prelaunch to the same default
    * bound, so a forced record cannot slip into the repo unnoticed.
    *
    * The COMMITTED file is the canonical record. BenchRecordSpec enforces
    * it (it fails when the committed record's query set drifts from
    * SparkEntry.queries or its load1_prelaunch exceeds the bound); a
    * benchmark binary must not mutate the git index as a side effect.
    */
  private def writeRecord(json: String, loadPre: Double): Unit = {
    val loadMax = sys.env.getOrElse("SPARK_GRAFT_LOAD1_MAX", "1.5").toDouble
    val forced = sys.env.get("SPARK_GRAFT_FORCE_RECORD").contains("1")
    val quiet = loadPre < 0 || loadPre <= loadMax // -1 = platform doesn't report
    val target = if (quiet || forced) "BENCH_LOCAL.json" else "BENCH_LOCAL_REJECTED.json"
    if (!(quiet || forced))
      System.err.println(f"BENCH: pre-launch load1 $loadPre%.2f > $loadMax%.2f — " +
        "writing BENCH_LOCAL_REJECTED.json, not the canonical record " +
        "(SPARK_GRAFT_FORCE_RECORD=1 overrides)")
    val targetPath = java.nio.file.Paths.get(target).toAbsolutePath
    try java.nio.file.Files.writeString(targetPath, json + "\n")
    catch { case e: Throwable =>
      System.err.println(s"BENCH: could not write $targetPath: ${e.getClass.getName}: ${e.getMessage}")
    }
  }
}
