package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.etl.Pipeline

/** The reference's hand-rolled micro-batch loop (etl_process.py:294-347)
  * as Structured Streaming (SURVEY §2.7).
  *
  * Mapping:
  *   - poll + sleep(600) → `Trigger.ProcessingTime`/`Trigger.AvailableNow`
  *   - anti-join-against-destination progress tracking → checkpointed
  *     file-source offsets (no re-scan of the warehouse per batch)
  *   - `LIMIT 50` batch cap → `maxFilesPerTrigger`
  *   - UNIQUE-constraint insert-and-catch → `dropDuplicates` +
  *     anti-join-then-append inside `foreachBatch` (the anti-join
  *     survives as an idempotency re-check under replay, exactly-once
  *     effective semantics on top of at-least-once delivery)
  *   - in-memory `cannot_load` set → durable quarantine parquet sink
  *   - one pass over each fetched batch → one materialization per
  *     micro-batch ([[Pipeline.enrichEnvelopes]]) that both sinks read,
  *     released once they are written: without it every sink action and
  *     emptiness probe re-runs the raw scan, the dedup shuffle and the
  *     HTML extraction, and per-batch release keeps a long-running
  *     stream from accumulating cached batches.
  */
object EtlStream {

  /** Run the streaming ETL until no more input (AvailableNow) or forever
    * (ProcessingTime, when `drainAndStop` is false).
    */
  def run(spark: SparkSession, rawDir: String, dimPath: String,
          warehouseDir: String, quarantineDir: String, checkpointDir: String,
          drainAndStop: Boolean = true, maxFilesPerTrigger: Int = 50,
          pollSeconds: Int = 600): Unit = {

    val dim = Pipeline.siteDim(spark, dimPath)
    val rawStream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("value",
          org.apache.spark.sql.types.StringType))))
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .text(rawDir)

    val query = rawStream.writeStream
      .queryName("graft_etl")
      .option("checkpointLocation", checkpointDir)
      .trigger(if (drainAndStop) Trigger.AvailableNow()
               else Trigger.ProcessingTime(s"$pollSeconds seconds"))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val res = Pipeline.enrichEnvelopes(batch, dim)
        try {
          // the month set doubles as the emptiness probe: a batch whose
          // rows all fell to quarantine pays no warehouse read at all
          val months = res.warehouse
            .select(postMonth(col("post_date")).as("m")).distinct()
            .collect().map(_.getString(0)).toSeq
          if (months.nonEmpty) {
            // idempotency re-check: at-least-once file delivery + anti-join
            // against already-landed keys = effective exactly-once append.
            // One warehouse read serves both the key scan and the layout.
            val landed = readWarehouse(batch.sparkSession, warehouseDir)
            val fresh = landed match {
              case Some(wh) => res.warehouse.join(keysIn(wh, months), Seq("uniq_id"), "left_anti")
              case None     => res.warehouse
            }
            append(fresh, warehouseDir, landed.forall(isMonthLayout))
          }
          // Replay-idempotent quarantine: the sink partitions by
          // batch_id and dynamically OVERWRITES only that partition, so
          // a batch replayed after a crash (offsets written, commit
          // lost) rewrites its own directory instead of appending a
          // duplicate — the per-sink half of the exactly-once story the
          // warehouse anti-join provides for clean rows.
          if (!res.quarantine.isEmpty)
            res.quarantine.withColumn("batch_id", lit(batchId))
              .write.mode("overwrite")
              .option("partitionOverwriteMode", "dynamic")
              .partitionBy("batch_id")
              .parquet(quarantineDir)
        } finally res.release()
        ()
      }
      .start()

    if (drainAndStop) query.awaitTermination()
  }

  /** Warehouse month-partition key. The pruning column must be STABLE
    * per uniq_id across scrape runs — uniq_id embeds post_date
    * (post_date-ad_id-site_id-category, sources/Ingest.uniqId), so a
    * colliding landed row always shares the incoming row's month.
    * (scrape_date would be wrong here: a re-scraped ad carries a NEW
    * scrape_date, so its landed copy would land in a different
    * partition and slip through as a duplicate.) Rendered in UTC via
    * convert_timezone, NOT the session timezone — a tz change between
    * runs must not move a timestamp into a different month string, or
    * the prune would probe the wrong partition on redelivery and admit
    * a duplicate. Null post_dates get a dedicated partition value
    * rather than Hive's default marker so the prune can ask for them
    * explicitly. */
  def postMonth(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    coalesce(date_format(convert_timezone(lit("UTC"), c), "yyyy-MM"), lit("unknown"))

  /** Append a batch with the layout the destination already uses:
    * (state, post_month) for new or month-partitioned warehouses, the
    * legacy (state) layout when appending into a pre-month warehouse —
    * mixing partition depths under one root makes every subsequent read
    * fail on conflicting partition columns, so an existing legacy
    * warehouse keeps its layout (and its full-scan prune fallback)
    * until rewritten. */
  def warehouseAppend(df: DataFrame, warehouseDir: String): Unit =
    append(df, warehouseDir, hasMonthLayout(df.sparkSession, warehouseDir).getOrElse(true))

  private def append(df: DataFrame, warehouseDir: String, monthLayout: Boolean): Unit =
    if (monthLayout)
      df.withColumn("post_month", postMonth(col("post_date")))
        .write.mode("append").partitionBy("state", "post_month").parquet(warehouseDir)
    else
      df.write.mode("append").partitionBy("state").parquet(warehouseDir)

  /** Full rewrite in the current (state, post_month) layout — the batch
    * CLI path, and the migration route for a legacy warehouse. */
  def warehouseOverwrite(df: DataFrame, warehouseDir: String): Unit =
    df.withColumn("post_month", postMonth(col("post_date")))
      .write.mode("overwrite").partitionBy("state", "post_month").parquet(warehouseDir)

  /** Existence through the warehouse path's OWN filesystem (Hadoop
    * FileSystem API): a java.nio check only sees the local disk, so on
    * HDFS/S3 — where a production warehouse actually lives — it would
    * report "absent", and landedKeys would silently skip the dedup
    * screen and admit duplicates. */
  private def pathExists(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** The warehouse as it stands, or None when it doesn't exist yet.
    * Each read lists the directory and infers the schema (one job), so
    * a batch reads once and derives both the layout and the keys. */
  private def readWarehouse(spark: SparkSession, dir: String): Option[DataFrame] =
    if (!pathExists(spark, dir)) None else Some(spark.read.parquet(dir))

  private def isMonthLayout(wh: DataFrame): Boolean = wh.columns.contains("post_month")

  /** None when the warehouse doesn't exist yet; otherwise whether its
    * layout carries the post_month partition column. */
  def hasMonthLayout(spark: SparkSession, dir: String): Option[Boolean] =
    readWarehouse(spark, dir).map(isMonthLayout)

  /** Already-landed uniq_ids an incoming row could collide with: the
    * warehouse key scan restricted, via partition pruning on
    * `post_month`, to exactly the months present in the batch. An
    * earlier form bounded the scan by the batch's MIN post_date, which
    * degraded to a near-full warehouse scan whenever one re-scraped
    * ancient ad appeared in a batch — the month SET reads that one old
    * directory plus the live window, never the span between. Per-batch
    * cost tracks the number of distinct months in the batch (a handful),
    * not warehouse size.
    */
  def landedKeys(spark: SparkSession, warehouseDir: String,
                 months: Seq[String]): Option[DataFrame] =
    readWarehouse(spark, warehouseDir).map(keysIn(_, months))

  private def keysIn(wh: DataFrame, months: Seq[String]): DataFrame = {
    val pruned =
      if (isMonthLayout(wh)) wh.filter(col("post_month").isin(months: _*))
      else wh   // legacy un-partitioned layout: full key scan, still correct
    pruned.select("uniq_id")
  }

  /** Streaming tumbling-window aggregation over the events schema
    * (q18's semantics, stream-native): watermarked event time, per-day
    * per-type counts and sums. Returns the started query writing to an
    * in-memory sink named `outputTable` (callers drain with
    * processAllAvailable in tests; production would write a real sink).
    */
  def eventWindowCounts(spark: SparkSession, eventsDir: String, outputTable: String) =
    windowCountsQuery(spark, eventsDir, outputTable,
      // complete mode: the drain's oracle is the FULL batch answer —
      // every day including the one the watermark never passes
      mode = "complete")

  /** Streaming per-day distinct-user census with MERGEABLE HLL
    * sketches — the ingest-time maintenance path of the batch
    * events_hll_daily pattern: each micro-batch folds its users into
    * the per-day DataSketches register state (order-independent
    * register max, so ANY arrival split yields the same sketch), and
    * `dropDuplicates(day, user_id)` in the same plan keeps the exact
    * distinct count beside it (the dedup-then-aggregate chained-
    * stateful shape stream_curate proves). Complete mode: the drained
    * table is the full census, gate-comparable against the batch
    * oracle. Unwatermarked dedup state grows with distinct (day, user)
    * — the unbounded deployment bounds it with
    * `dropDuplicatesWithinWatermark` (the StreamDedup pattern). */
  def hllDaily(spark: SparkSession, eventsDir: String,
               outputTable: String): org.apache.spark.sql.streaming.StreamingQuery =
    graft.core.Tables.eventStream(spark, eventsDir)
      .select(to_date(col("ts")).as("day"), col("user_id"))
      .dropDuplicates("day", "user_id")
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_exact"),
        expr("hll_sketch_agg(user_id, 12)").as("sk"))
      .writeStream.outputMode("complete")
      .format("memory").queryName(outputTable)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Streaming per-user activity calendar — the ingest-time state
    * behind cohort retention: each micro-batch folds its (user, day)
    * arrivals into a per-user day SET plus the running first-seen day
    * (both order-independent — min and set-union commute with any
    * arrival split), with `dropDuplicates(user_id, d)` chained ahead
    * so re-delivered events never touch the agg (the dedup-then-
    * aggregate chained-stateful shape [[hllDaily]] proves). Complete
    * mode: the drained table is each user's full calendar, from which
    * the retention triangle is pure batch arithmetic. State is
    * bounded by active user-days; the unbounded deployment caps the
    * horizon with `dropDuplicatesWithinWatermark` + a bounded offset
    * window, which truncates exactly the triangle rows a dashboard
    * ages out anyway. */
  def userCalendar(spark: SparkSession, eventsDir: String,
                   outputTable: String): org.apache.spark.sql.streaming.StreamingQuery =
    graft.core.Tables.eventStream(spark, eventsDir)
      .select(col("user_id"), to_date(col("ts")).as("d"))
      .dropDuplicates("user_id", "d")
      .groupBy(col("user_id"))
      .agg(min(col("d")).as("cohort_day"), collect_set(col("d")).as("days"))
      .writeStream.outputMode("complete")
      .format("memory").queryName(outputTable)
      .trigger(Trigger.AvailableNow())
      .start()

  /** [[eventWindowCounts]]' unbounded-stream twin: APPEND mode with
    * watermark eviction — each (day, type) group emits exactly once
    * when the watermark passes the day's end and leaves the state
    * store, so state holds only open days for the stream's lifetime
    * (the stream_topk argument applied to the plain windowed
    * aggregate). The final, never-sealed day stays open by watermark
    * semantics; the oracle applies the same deterministic cutoff. */
  def eventWindowCountsAppend(spark: SparkSession, eventsDir: String, outputTable: String) =
    windowCountsQuery(spark, eventsDir, outputTable, mode = "append")

  private def windowCountsQuery(spark: SparkSession, eventsDir: String,
                                outputTable: String, mode: String) = {
    graft.core.Tables.eventStream(spark, eventsDir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("day"), col("event_type"), col("cnt"), col("sum_value"))
      .writeStream.outputMode(mode)
      .format("memory").queryName(outputTable)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Streaming per-day top-k events by value through the custom
    * bounded-heap [[graft.functions.TopKAgg]] — the UDAF surviving a
    * state-store round trip: the TypedImperativeAggregate's serialized
    * heap IS the streaming state, merged incrementally per micro-batch,
    * so per-window state stays O(k) instead of buffering every event.
    *
    * APPEND mode with watermark eviction — the unbounded-stream shape:
    * a day is emitted exactly once, when the watermark passes its end,
    * and its heap leaves the state store; state holds only OPEN days
    * regardless of stream lifetime (complete mode would re-emit every
    * day each micro-batch and keep all of them in state forever). A
    * static drain still flushes every closed day: the watermark
    * advances after the data batch and the engine runs one no-data
    * batch to evict what it passed. Days the watermark never passes
    * (the stream's final day) stay open — deterministic, so the oracle
    * applies the same cutoff. */
  def eventTopK(spark: SparkSession, eventsDir: String, outputTable: String,
                k: Int) = {
    graft.core.Tables.eventStream(spark, eventsDir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day"))
      .agg(graft.functions.TopKAgg.topK(
        struct(col("value"), col("event_id")), k).as("top"))
      .select(col("window.start").as("day"), col("top"))
      .writeStream.outputMode("append")
      .format("memory").queryName(outputTable)
      .trigger(Trigger.AvailableNow())
      .start()
  }
}
