package graft.streaming

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

class EtlStreamSpec extends AnyFunSuite with SparkSpec {

  private def tmp(): String = Files.createTempDirectory("graft_stream").toString

  test("streaming ETL: drain, idempotent restart, incremental file") {
    val rawDir = tmp(); val out = tmp()
    val wh = s"$out/warehouse"; val qr = s"$out/quarantine"; val cp = s"$out/checkpoint"
    val fixtures = Files.readString(Paths.get(fixture("raw_ads.jsonl")))
    Files.writeString(Paths.get(s"$rawDir/batch1.jsonl"), fixtures)

    EtlStream.run(spark, rawDir, fixture("site_dim.csv"), wh, qr, cp)
    assert(spark.read.parquet(wh).count() == 5)        // same as batch pipeline
    assert(spark.read.parquet(qr).count() == 2)

    // restart with the same checkpoint: no new input -> no duplicates
    EtlStream.run(spark, rawDir, fixture("site_dim.csv"), wh, qr, cp)
    assert(spark.read.parquet(wh).count() == 5)

    // drop a new file containing one genuinely new ad + one replay dup
    val lines = fixtures.linesIterator.toSeq
    val newAd = lines.head
      .replace("10000001", "10000099")
    Files.writeString(Paths.get(s"$rawDir/batch2.jsonl"), newAd + "\n" + lines.head)
    EtlStream.run(spark, rawDir, fixture("site_dim.csv"), wh, qr, cp)
    val ids = spark.read.parquet(wh).select("ad_id")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(spark.read.parquet(wh).count() == 6)
    assert(ids.contains("10000099"))
    assert(ids.count(_ == "10000001") == 1)            // replay did not duplicate

    // a RE-SCRAPE two days later: same ad (same uniq_id — it derives
    // from post_date, not scrape time) with a NEW scrape_date. The
    // landed copy has the same post_date, so the post_date-pruned
    // anti-join must still see it — no duplicate lands.
    Files.writeString(Paths.get(s"$rawDir/batch3.jsonl"),
      lines.head.replace("2017-05-06 10:00:00", "2017-05-08 09:00:00"))
    EtlStream.run(spark, rawDir, fixture("site_dim.csv"), wh, qr, cp)
    assert(spark.read.parquet(wh).count() == 6)
    assert(spark.read.parquet(wh).select("ad_id").collect()
      .map(_.getString(0)).count(_ == "10000001") == 1)
  }

  test("crash recovery: a batch whose commit never landed replays without duplicating either sink") {
    // Simulates the exact crash window Structured Streaming's WAL
    // defines: offsets/N written (batch planned), foreachBatch's sink
    // effects applied, commits/N never recorded — i.e. the process died
    // after the append but before the checkpoint commit. On restart the
    // engine MUST replay batch N, and the idempotent sinks must absorb
    // the replay: anti-join for the warehouse, dynamic partition
    // overwrite for the quarantine.
    val rawDir = tmp(); val out = tmp()
    val wh = s"$out/warehouse"; val qr = s"$out/quarantine"; val cp = s"$out/checkpoint"
    val lines = Files.readString(Paths.get(fixture("raw_ads.jsonl")))
      .linesIterator.toSeq
    // batch 0 = clean-only rows; batch 1 = the quarantine rows + rest,
    // so the replayed batch exercises BOTH sinks
    Files.writeString(Paths.get(s"$rawDir/f1.jsonl"), lines.take(4).mkString("\n"))
    Files.writeString(Paths.get(s"$rawDir/f2.jsonl"), lines.drop(4).mkString("\n"))
    EtlStream.run(spark, rawDir, fixture("site_dim.csv"), wh, qr, cp,
      maxFilesPerTrigger = 1)
    val whRows = spark.read.parquet(wh).count()
    val qrRows = spark.read.parquet(qr).count()
    assert(whRows == 5 && qrRows == 2)

    // crash: the last batch's commit record vanishes; its sink output
    // stays. The doctored checkpoint is COPIED to a fresh path — the
    // same on-disk state a restarted process would see, without
    // tripping the live JVM's metadata-log bookkeeping for the old path.
    val cp2 = s"$out/checkpoint_after_crash"
    val src = Paths.get(cp)
    Files.walk(src).forEach { p =>
      val dst = Paths.get(cp2).resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst)
    }
    val commits = Files.list(Paths.get(s"$cp2/commits")).toArray.map(_.toString)
      .filter(p => Paths.get(p).getFileName.toString.forall(_.isDigit)).sorted
    val last = Paths.get(commits.last)
    Files.delete(last)
    // the local-FS checksum sidecar must die with its file, or the
    // re-written commit trips Hadoop's ChecksumFileSystem
    Files.deleteIfExists(last.resolveSibling("." + last.getFileName + ".crc"))

    // resume: the engine replays the uncommitted batch against sinks
    // that already hold its output — counts must not move
    EtlStream.run(spark, rawDir, fixture("site_dim.csv"), wh, qr, cp2,
      maxFilesPerTrigger = 1)
    assert(spark.read.parquet(wh).count() == whRows,
      "warehouse rows duplicated by the replayed batch")
    assert(spark.read.parquet(qr).count() == qrRows,
      "quarantine rows duplicated by the replayed batch")
    val ids = spark.read.parquet(wh).select("uniq_id")
      .collect().map(_.getString(0)).toSeq
    assert(ids.distinct.length == ids.length)
  }

  /** The raw files each scan run while `body` runs reads, one entry per
    * scan. A micro-batch reaches `foreachBatch` as an RDD scan over the
    * source's file scan; a scan inside a cached plan runs once however
    * many queries read the cache, so scans count by plan-node identity.
    * The listener bus is asynchronous: a marker query posted last is
    * waited for, so every batch query's event has been seen. */
  private def rawScans(rawDir: String)(body: => Unit): Seq[Seq[String]] = {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.rdd.RDD
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.datasources.FileScanRDD
    def lineageFiles(rdd: RDD[_]): Seq[Path] = rdd match {
      case f: FileScanRDD => f.filePartitions.flatMap(_.files.map(_.toPath))
      case r              => r.dependencies.flatMap(d => lineageFiles(d.rdd))
    }
    def scansIn(p: SparkPlan): Seq[(SparkPlan, Seq[Path])] = p.flatMap {
      case s: FileSourceScanExec    => Seq(s -> s.relation.location.rootPaths)
      case r: RDDScanExec           => Seq(r -> lineageFiles(r.rdd))
      case m: InMemoryTableScanExec => scansIn(m.relation.cacheBuilder.cachedPlan)
      case c: CommandResultExec     => scansIn(c.commandPhysicalPlan)
      case a: AdaptiveSparkPlanExec => scansIn(a.executedPlan)
      case q: QueryStageExec        => scansIn(q.plan)
      case _                        => Nil
    }
    val seen = new java.util.IdentityHashMap[SparkPlan, Seq[Path]]()
    def record(qe: QueryExecution): Unit =
      seen.synchronized(scansIn(qe.executedPlan).foreach { case (n, ps) => seen.put(n, ps) })
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.analyzed.output.exists(_.name == "scan_count_marker")) marker.countDown()
        else record(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    }
    spark.listenerManager.register(listener)
    try {
      body
      spark.range(1).toDF("scan_count_marker").collect()
      assert(marker.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener bus never drained")
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    seen.synchronized(seen.values.asScala.toSeq)
      .filter(_.exists(_.toString.contains(rawDir))).map(_.map(_.getName))
  }

  /** Runs `body` on an emptied cache and checks it left no cached plan
    * and no persisted RDD behind (other suites share the session; their
    * checkpointed RDDs are allowed to stay). */
  private def leavesNothingCached(body: => Unit): Unit = {
    spark.catalog.clearCache()
    val rdds = spark.sparkContext.getPersistentRDDs.keySet
    body
    assert(spark.sharedState.cacheManager.isEmpty, "a batch's materialization stayed cached")
    assert(spark.sparkContext.getPersistentRDDs.keySet.subsetOf(rdds),
      "a batch's materialization stayed persisted")
  }

  test("each micro-batch scans its raw file once, and nothing stays cached") {
    val rawDir = tmp(); val out = tmp()
    val lines = Files.readString(Paths.get(fixture("raw_ads.jsonl"))).linesIterator.toSeq
    Files.writeString(Paths.get(s"$rawDir/f1.jsonl"), lines.take(4).mkString("\n"))
    Files.writeString(Paths.get(s"$rawDir/f2.jsonl"), lines.drop(4).mkString("\n"))
    var scans = Seq.empty[Seq[String]]
    leavesNothingCached {
      scans = rawScans(rawDir) {
        EtlStream.run(spark, rawDir, fixture("site_dim.csv"), s"$out/warehouse",
          s"$out/quarantine", s"$out/checkpoint", maxFilesPerTrigger = 1)
      }
    }
    // both sinks of both batches were written: the scans fed all of them
    assert(spark.read.parquet(s"$out/warehouse").count() == 5)
    assert(spark.read.parquet(s"$out/quarantine").count() == 2)
    assert(scans.sortBy(_.mkString) == Seq(Seq("f1.jsonl"), Seq("f2.jsonl")),
      s"expected one scan per micro-batch, got ${scans.size}: $scans")
  }

  test("a sink that throws still releases the batch's materialization") {
    val rawDir = tmp(); val out = tmp()
    Files.copy(Paths.get(fixture("raw_ads.jsonl")), Paths.get(s"$rawDir/batch1.jsonl"))
    // a regular file where the quarantine directory should go: the
    // warehouse append succeeds, then the quarantine write fails
    val qr = s"$out/quarantine"
    Files.writeString(Paths.get(qr), "not a directory")
    leavesNothingCached {
      intercept[Exception] {
        EtlStream.run(spark, rawDir, fixture("site_dim.csv"), s"$out/warehouse", qr,
          s"$out/checkpoint")
      }
    }
    assert(spark.read.parquet(s"$out/warehouse").count() == 5)
  }

  test("a duplicated uniq_id lands in exactly one of warehouse and quarantine") {
    val rawDir = tmp(); val out = tmp()
    val wh = s"$out/warehouse"; val qr = s"$out/quarantine"
    val good = Files.readString(Paths.get(fixture("raw_ads.jsonl"))).linesIterator.next()
    val badDate = good.replace("Thursday, May 4, 2017 11:53 PM", "sometime last week")
    assert(badDate != good)
    // eight keys, each delivered twice in one batch: once clean, once
    // with an unparseable post date (quarantine material), in both orders
    val envelopes = (0 until 8).flatMap { k =>
      val pair = Seq(good, badDate).map(_.replace("10000001", s"1000010$k"))
      if (k % 2 == 0) pair else pair.reverse
    }
    Files.writeString(Paths.get(s"$rawDir/batch1.jsonl"), envelopes.mkString("\n"))
    EtlStream.run(spark, rawDir, fixture("site_dim.csv"), wh, qr, s"$out/checkpoint")
    def ids(dir: String) =
      if (!Files.exists(Paths.get(dir))) Seq.empty[String]
      else spark.read.parquet(dir).select("uniq_id").collect().map(_.getString(0)).toSeq
    val both = ids(wh) ++ ids(qr)
    assert(both.size == 8 && both.distinct.size == 8,
      s"each uniq_id must reach exactly one sink: warehouse ${ids(wh)}, quarantine ${ids(qr)}")
  }

  test("stream hllDaily: multi-batch drain with replayed duplicates equals the batch sketch exactly") {
    import org.apache.spark.sql.functions._
    // stage the events table TWICE, drained across micro-batches: the
    // dedup state must absorb the duplicate copy, and the drained HLL
    // registers must equal a single-copy batch aggregation bit for bit
    // (HLL union is an order-independent register max — arrival split
    // cannot change the sketch).
    val dir = "/root/testdata/sf0.001"
    val staged = Files.createTempDirectory("graft_hll_stage")
    Files.copy(Paths.get(s"$dir/events.parquet"), staged.resolve("e1.parquet"))
    Files.copy(Paths.get(s"$dir/events.parquet"), staged.resolve("e2.parquet"))
    val q = EtlStream.hllDaily(spark, staged.toString, "hll_daily_t")
    q.awaitTermination()
    val drained = spark.table("hll_daily_t")
      .select(col("day"), col("n_exact"),
        expr("hll_sketch_estimate(sk)").as("est"))
      .collect().map(r => r.getDate(0).toString -> (r.getLong(1), r.getLong(2))).toMap
    spark.catalog.dropTempView("hll_daily_t")
    val batch = graft.core.Tables.t(spark, dir, "events")
      .select(to_date(col("ts")).as("day"), col("user_id"))
      .groupBy("day")
      .agg(countDistinct(col("user_id")).as("n_exact"),
        expr("hll_sketch_estimate(hll_sketch_agg(user_id, 12))").as("est"))
      .collect().map(r => r.getDate(0).toString -> (r.getLong(1), r.getLong(2))).toMap
    assert(drained == batch,
      "drained per-day (exact, estimate) diverged from the batch sketch")
  }

  test("idempotency key scan partition-prunes to the batch's month set") {
    import org.apache.spark.sql.functions._
    val whDir = s"${tmp()}/warehouse"
    // 12 monthly rows + one null post_date; one row per month directory
    spark.range(12).select(
        concat(lit("u"), col("id")).as("uniq_id"),
        timestamp_seconds(lit(1700000000L) + col("id") * 86400 * 30).as("post_date"),
        lit("CA").as("state"))
      .union(spark.range(1).select(
        lit("unull").as("uniq_id"),
        lit(null).cast("timestamp").as("post_date"),
        lit("CA").as("state")))
      .withColumn("post_month", EtlStream.postMonth(col("post_date")))
      .write.partitionBy("state", "post_month").parquet(whDir)
    val allMonths = spark.read.parquet(whDir)
      .select("post_month").distinct().collect().map(_.getString(0)).sorted
    assert(allMonths.length == 13 && allMonths.contains("unknown"))

    // a batch holding one ancient re-scrape + the newest month + a null
    // post_date row: the scan must read exactly those three directories,
    // not the ten months in between (the old min-bound form read them all)
    val probe = Seq(allMonths.head, allMonths(11), "unknown")
    val keys = EtlStream.landedKeys(spark, whDir, probe)
    assert(keys.isDefined)
    assert(keys.get.count() == 3)
    val scan = keys.get.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }.get
    assert(scan.toString.contains("PartitionFilters: [post_month"),
      s"month set not applied as a partition filter:\n${scan.toString.take(2000)}")
    assert(scan.relation.location.listFiles(scan.partitionFilters, Nil)
      .map(_.files.size).sum == 3,
      "partition pruning must list only the probed month directories")
    assert(EtlStream.landedKeys(spark, s"${tmp()}/nope", Nil).isEmpty)
  }

  test("appending into a legacy state-only warehouse keeps its layout readable") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val whDir = s"${tmp()}/warehouse"
    def rows(ids: Seq[Int]) = ids.toDF("i").select(
      concat(lit("u"), col("i")).as("uniq_id"),
      timestamp_seconds(lit(1700000000L) + col("i") * 86400).as("post_date"),
      lit("CA").as("state"))
    // legacy layout: partitioned by state only (pre-month stream / old data)
    rows(Seq(1, 2)).write.partitionBy("state").parquet(whDir)
    assert(EtlStream.hasMonthLayout(spark, whDir).contains(false))
    // the shared writer must NOT mix a deeper layout into it
    EtlStream.warehouseAppend(rows(Seq(3)), whDir)
    assert(spark.read.parquet(whDir).count() == 3)      // still readable
    assert(!spark.read.parquet(whDir).columns.contains("post_month"))
    // a fresh warehouse gets the month layout, and appends keep it
    val fresh = s"${tmp()}/warehouse"
    EtlStream.warehouseAppend(rows(Seq(1)), fresh)
    EtlStream.warehouseAppend(rows(Seq(2)), fresh)
    assert(EtlStream.hasMonthLayout(spark, fresh).contains(true))
    assert(spark.read.parquet(fresh).count() == 2)
  }

  test("streaming tumbling-window agg matches the batch q18 totals") {
    import org.apache.spark.sql.functions._
    // the file streaming source requires a directory, and the sf dirs mix
    // ten schemas — stage events.parquet alone
    val evDir = tmp()
    Files.copy(Paths.get("/root/testdata/sf0.001/events.parquet"),
      Paths.get(s"$evDir/events.parquet"))
    val q = EtlStream.eventWindowCounts(spark, evDir, "ev_window")
    q.awaitTermination()
    val streamed = spark.table("ev_window")
      .agg(sum("cnt")).collect()(0).getLong(0)
    val batch = graft.core.Tables.t(spark, "/root/testdata/sf0.001", "events").count()
    assert(streamed == batch)
  }

  test("append-mode topK: each sealed day emitted exactly once, state holds only open days") {
    import org.apache.spark.sql.functions._
    val evDir = tmp()
    Files.copy(Paths.get("/root/testdata/sf0.001/events.parquet"),
      Paths.get(s"$evDir/events.parquet"))
    val q = EtlStream.eventTopK(spark, evDir, "ev_topk_append", k = 3)
    q.awaitTermination()
    val drained = spark.table("ev_topk_append")
    // exactly-once per day: append mode emits a window only when the
    // watermark passes it — a duplicate day would mean re-emission
    val dup = drained.groupBy("day").count().filter(col("count") > 1).count()
    assert(dup == 0, "a day was emitted more than once")
    // the emitted set is exactly the watermark-sealed days: day end +
    // 1 h delay <= max event ts; the stream's final day stays open
    val ev = graft.core.Tables.t(spark, "/root/testdata/sf0.001", "events")
    val mx = ev.agg(max(col("ts"))).collect()(0).getTimestamp(0).getTime
    val nSealed = ev.select(date_trunc("day", col("ts")).as("d")).distinct()
      .filter(unix_millis(col("d")) + (24 + 1) * 3600 * 1000L <= mx)
      .count()
    val allDays = ev.select(date_trunc("day", col("ts"))).distinct().count()
    assert(drained.count() == nSealed, s"drained ${drained.count()} != sealed $nSealed")
    assert(nSealed < allDays, "fixture must leave at least one day open")
    // eviction: after the drain the state store holds only open days
    // (the sealed heaps left with their emission)
    val lastState = q.recentProgress.flatMap(_.stateOperators).last
    assert(lastState.numRowsTotal <= allDays - nSealed,
      s"state holds ${lastState.numRowsTotal} rows; open days = ${allDays - nSealed}")
  }
}
