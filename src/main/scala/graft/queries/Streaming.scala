package graft.queries

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables.t
import graft.streaming.{IntervalStream, SessionStream, StreamDedup, StreamJoin}

/** The §2.7 streaming operators surfaced as declared driver queries: an
  * AvailableNow drain into a memory sink, canonicalized to a
  * deterministic DataFrame a DuckDB oracle can check. The streaming
  * plumbing (watermarks, state, micro-batching) is the real path — only
  * the drain-then-read makes it batch-shaped for the correctness gate.
  */
object StreamingQueries {

  /** The streaming file source wants a directory of one table's files;
    * the sf dirs mix ten schemas — stage `copies` copies of one table's
    * parquet alone. Multiple copies make duplicates arrive in DIFFERENT
    * micro-batches (maxFilesPerTrigger=1 in StreamDedup), so cross-batch
    * dedup state is genuinely exercised. */
  private def stageTable(dir: String, table: String, copies: Int): String = {
    val staged = Files.createTempDirectory("graft_stream_q")
    (1 to copies).foreach { i =>
      Files.copy(Paths.get(s"$dir/$table.parquet"), staged.resolve(s"${table}_$i.parquet"))
    }
    staged.toString
  }

  /** Stage, drain, and DELETE the staged copies before returning: the
    * drain is complete once awaitTermination returns, so repeated
    * invocations (bench loops, the verify sweep) leave nothing behind
    * instead of accumulating one temp dir of parquet copies per call.
    */
  private def drainStaged(s: SparkSession, dir: String, copies: Int,
                          table: String = "events")(
      start: String => org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val staged = stageTable(dir, table, copies)
    try withDrainPartitions(s) { start(staged).awaitTermination() }
    finally {
      import scala.jdk.CollectionConverters._
      Files.walk(Paths.get(staged)).iterator().asScala.toSeq
        .sortBy(-_.getNameCount).foreach(p => Files.deleteIfExists(p))
    }
  }

  /** Read the drained memory-sink table and immediately drop its catalog
    * entry: the returned frame's resolved plan keeps the sink data alive
    * for its own lifetime, but repeated invocations (bench loops, the
    * verify sweep) must not accumulate one never-dropped temp view —
    * and its buffered rows — per call. */
  private def drained(s: SparkSession, name: String): DataFrame = {
    val df = s.table(name)
    s.catalog.dropTempView(name)
    df
  }

  /** Stateful streaming drains commit one state store per shuffle
    * partition per micro-batch; at drain scale (one bounded file set,
    * a handful of batches) 32 partitions is pure per-batch overhead.
    * Production unbounded streams keep the session default.
    *
    * Measured floor (tools/StreamProbe, stream_join_outer at sf0.1,
    * local[32]): warm drains at 2/4/8/16/32 partitions ran ~6.5 / 3.1 /
    * 3.5 / ≥14 / ≥18 s — the cost curve is dominated by the interval
    * JOIN's execution inside addBatch (durationMs breakdown: ~75%
    * addBatch, ~15% per-batch queryPlanning, small constant
    * walCommit/offset overhead), NOT by state-store commit count, so
    * fewer partitions starve the join and more just multiply commit
    * files. 8 sits on the flat part of the curve; further drain
    * speedup would have to come from the join itself, not the
    * streaming machinery. */
  private def withDrainPartitions[T](s: SparkSession)(body: => T): T = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    try body finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Gap-sessionization via flatMapGroupsWithState, drained and
    * canonicalized to every session CLOSED BY A LATER EVENT — i.e. all
    * but each user's final session. The final session's emission depends
    * on whether its event-time timeout fired during the drain (timing of
    * the watermark's last hop), so it is excluded on both sides: here by
    * `end_us < max event ts of the user`, in the oracle by the same
    * predicate. The timeout path itself is pinned by SessionStreamSpec.
    */
  def streamSession(s: SparkSession, dir: String): DataFrame = {
    val name = s"stream_session_${System.nanoTime()}"
    drainStaged(s, dir, copies = 1)(SessionStream.run(s, _, name))
    val maxTs = t(s, dir, "events")
      .groupBy("user_id").agg(unix_micros(max(col("ts"))).as("max_ts"))
    drained(s, name)
      .join(maxTs, Seq("user_id"))
      .filter(col("end_us") < col("max_ts"))
      .select(col("user_id"), col("start_us"), col("end_us"), col("n_events"))
      .orderBy("user_id", "start_us")
  }

  /** Watermark-bounded stream–stream attribution join, drained: with
    * the whole fixture arriving in one micro-batch the INNER join emits
    * every qualifying (purchase, view-in-preceding-hour) pair exactly
    * once — deterministic, so the full pair set is oracle-checked
    * against a plain SQL join. (The watermark's state-eviction behavior
    * across batches is pinned separately in StreamJoinSpec.) */
  def streamJoin(s: SparkSession, dir: String): DataFrame = {
    val name = s"stream_join_${System.nanoTime()}"
    drainStaged(s, dir, copies = 1)(StreamJoin.attributionJoin(s, _, name))
    drained(s, name)
      .select(col("purchase_id"), col("view_id"), col("user_id"), col("lag_us"))
      .orderBy("purchase_id", "view_id")
  }

  /** [[streamSession]] through Spark's BUILT-IN `session_window`
    * aggregation ([[SessionStream.runNative]]) — the
    * compose-existing-ops twin of the custom-state form. APPEND mode
    * emits a session once the watermark passes its window end (last
    * event + gap), so the drained deterministic region is sessions
    * with `end_us + gap ≤ max ts − 1 h delay` — applied on both sides
    * with a 1 s guard band (ms-granular watermark). The oracle uses
    * `diff >= gap` for the session split (half-open per-event windows;
    * see the operator scaladoc), unlike the islands form's `>`. */
  def streamSessionNative(s: SparkSession, dir: String): DataFrame = {
    val gapUs = 30L * 60 * 1000 * 1000
    val name = s"stream_session_native_${System.nanoTime()}"
    drainStaged(s, dir, copies = 1)(SessionStream.runNative(s, _, name))
    val maxUs = t(s, dir, "events")
      .agg(max(unix_micros(col("ts")))).collect()(0).getLong(0)
    drained(s, name)
      .filter(col("end_us") + gapUs + 1000000L <= maxUs - 3600L * 1000000)
      .select(col("user_id"), col("start_us"), col("end_us"), col("n_events"))
      .orderBy("user_id", "start_us")
  }

  /** [[streamJoin]]'s LEFT OUTER twin
    * ([[StreamJoin.attributionJoinOuter]]): every purchase exactly once,
    * null view side when nothing in the preceding hour matched. Matched
    * pairs are the deterministic inner output; an UNMATCHED purchase
    * emits only once the watermark seals it (p_ts < min(max v_ts,
    * max p_ts) − 2 h after the drain's final no-data batch), so both
    * the drained frame and the oracle restrict unmatched rows to the
    * sealed region — with a 1-second guard band inside it, because
    * watermarks tick in MILLISECONDS and a microsecond-exact boundary
    * row could land on either side of the ms truncation. */
  def streamJoinOuter(s: SparkSession, dir: String): DataFrame = {
    val name = s"stream_join_outer_${System.nanoTime()}"
    drainStaged(s, dir, copies = 1)(StreamJoin.attributionJoinOuter(s, _, name))
    val e = t(s, dir, "events")
    val Array(wm) = e.filter(col("event_type").isin("view", "purchase"))
      .groupBy(col("event_type")).agg(max(unix_micros(col("ts"))).as("mx"))
      .agg((min(col("mx")) - 7200L * 1000000).as("wm")).collect()
    val wmUs = wm.getLong(0)
    drained(s, name)
      .filter(col("view_id").isNotNull || col("p_ts_us") + 1000000L <= wmUs)
      .select(col("purchase_id"), col("view_id"), col("user_id"),
        col("lag_us"), col("p_ts_us"))
      .orderBy(col("purchase_id"), col("view_id").asc_nulls_first)
  }

  /** Gaps-and-islands interval merge as a stream
    * ([[IntervalStream]]; interval_merge's streaming twin): the one
    * open island per user rides as state, closed islands emit in
    * APPEND mode. Canonical region = islands CLOSED BY A LATER EVENT:
    * a closed island's end is strictly below the user's next island
    * start (≤ the user's max event ts), while the final open island —
    * whose emission depends on whether its timeout fired during the
    * drain — ends ≥ max ts + its last interval's 60 s minimum
    * duration; `end_us < max user ts` separates the two exactly, on
    * both sides (the streamSession exclusion rule). */
  def streamInterval(s: SparkSession, dir: String): DataFrame = {
    val name = s"stream_interval_${System.nanoTime()}"
    drainStaged(s, dir, copies = 1)(IntervalStream.run(s, _, name))
    val userMax = t(s, dir, "events").groupBy(col("user_id"))
      .agg(max(unix_micros(col("ts"))).as("max_ts_us"))
    drained(s, name)
      .join(userMax, Seq("user_id"))
      .filter(col("end_us") < col("max_ts_us"))
      .select(col("user_id"), col("start_us"), col("end_us"), col("n_events"))
      .orderBy("user_id", "start_us")
  }

  /** Windowed backward AS-OF join as a streaming pipeline — q22's
    * semantics made streamable. An UNBOUNDED backward as-of join cannot
    * bound stream state (any future purchase may still match an
    * arbitrarily old view), so the streaming form restricts the
    * lookback to 1 h: the watermark-bounded interval join
    * ([[StreamJoin.attributionJoin]], state O(events in window)) emits
    * every qualifying pair exactly once, and the drain reduces each
    * purchase to its LATEST view — `min(struct(lag_us, view_id))`, one
    * associative aggregate (at scale this reduce rides map-side
    * combine; it could equally run as a second streaming stage). The
    * pair emission is deterministic for the inner join, so the whole
    * result is oracle-checked — no sealed-region carve-out needed. */
  def streamAsof(s: SparkSession, dir: String): DataFrame = {
    val name = s"stream_asof_${System.nanoTime()}"
    drainStaged(s, dir, copies = 1)(StreamJoin.attributionJoin(s, _, name))
    drained(s, name)
      .groupBy(col("purchase_id").as("event_id"), col("user_id"))
      .agg(min(struct(col("lag_us"), col("view_id"))).as("m"))
      .select(col("event_id"), col("user_id"),
        col("m.view_id").as("matched_view_id"), col("m.lag_us").as("lag_us"))
      .orderBy("event_id")
  }

  /** Watermarked tumbling-window aggregation (q18's streaming twin),
    * drained in complete mode: final per-day/per-type counts and sums
    * are the batch answer, oracle-checked with q18's own rounding
    * convention. */
  /** Streaming mergeable-HLL census ([[graft.streaming.EtlStream
    * .hllDaily]]): the batch events_hll_daily maintained as streaming
    * state — per-day register sketches folded micro-batch by
    * micro-batch (HLL union is an order-independent register max, so
    * the drained sketch equals the batch one whatever the arrival
    * split), exact distinct kept beside it by the chained dedup state.
    * Drained rows share the batch per-day oracle: exact counts
    * hash-matched, per-day estimate gate pinned to 0. */
  def streamHllDaily(s: SparkSession, dir: String): DataFrame = {
    val name = s"stream_hll_daily_${System.nanoTime()}"
    drainStaged(s, dir, copies = 1)(
      graft.streaming.EtlStream.hllDaily(s, _, name))
    drained(s, name)
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"), col("n_exact"),
        when(abs(expr("hll_sketch_estimate(sk)") - col("n_exact")) <=
               col("n_exact") * 0.05 + 1.0, lit(0L)).otherwise(lit(1L)).as("gate"))
      .orderBy("day")
  }

  /** Streaming cohort retention ([[graft.streaming.EtlStream
    * .userCalendar]]): the per-user day-set/first-seen state drained
    * complete, then the triangle (cohort_day, day_offset ≤ 7, n_users)
    * computed batch-side from the calendars — days are distinct per
    * user by state construction, so the count needs no distinct. Staged
    * at copies = 2 so every event is re-delivered in a LATER
    * micro-batch: the chained dedup + set-union/min state must absorb
    * the replay bit-for-bit, and the gate proving it is that the drain
    * equals the batch [[Extensions.eventsRetention]] — whose oracle
    * this query shares VERBATIM (the stream_funnel ≡ q29 pattern). */
  def streamRetention(s: SparkSession, dir: String): DataFrame = {
    val name = s"stream_retention_${System.nanoTime()}"
    drainStaged(s, dir, copies = 2)(
      graft.streaming.EtlStream.userCalendar(s, _, name))
    drained(s, name)
      .select(col("cohort_day"), explode(col("days")).as("d"))
      .select(col("cohort_day"),
        datediff(col("d"), col("cohort_day")).cast("long").as("day_offset"))
      .filter(col("day_offset") <= 7)
      .groupBy("cohort_day", "day_offset")
      .agg(count(lit(1)).as("n_users"))
      .orderBy("cohort_day", "day_offset")
  }

  /** Streaming change-point monitoring — the operational split for
    * Page-1954 CUSUM at ingest time: the per-day volume rollup is
    * maintained incrementally by the [[graft.streaming.EtlStream
    * .eventWindowCounts]] state (complete mode), and the CUSUM scan is
    * pure batch arithmetic over the drained O(days) frame
    * ([[Extensions.cusumDaily]], the shared tail). Gate: shares
    * events_changepoint's oracle VERBATIM, so drain ≡ batch lands in
    * the driver hash. */
  def streamChangepoint(s: SparkSession, dir: String): DataFrame = {
    val name = s"stream_changepoint_${System.nanoTime()}"
    drainStaged(s, dir, copies = 1)(
      graft.streaming.EtlStream.eventWindowCounts(s, _, name))
    Extensions.cusumDaily(
      drained(s, name)
        .groupBy(to_date(col("day")).as("day"))
        .agg(sum(col("cnt")).as("n")))
  }

  /** Streaming drift monitoring — the dq_drift gate maintained from
    * streaming state: the per-(type, day) census comes from the
    * [[graft.streaming.EtlStream.eventWindowCounts]] drain, the two
    * half-window censuses and the TVD report are batch arithmetic
    * over that O(types × days) frame ([[Extensions.driftReport]], the
    * shared tail). Shares dq_drift's oracle VERBATIM — drain ≡ batch
    * is the gate. */
  def streamDrift(s: SparkSession, dir: String): DataFrame = {
    val name = s"stream_drift_${System.nanoTime()}"
    drainStaged(s, dir, copies = 1)(
      graft.streaming.EtlStream.eventWindowCounts(s, _, name))
    val census = drained(s, name)
      .select(col("event_type"), to_date(col("day")).as("d"), col("cnt"))
      .localCheckpoint()   // two consumers: the ref and cur half-censuses
    val ref = census.filter(col("d") <= lit("2024-01-15").cast("date"))
      .groupBy("event_type").agg(sum(col("cnt")).as("n_ref"))
    val cur = census.filter(col("d") > lit("2024-01-15").cast("date"))
      .groupBy("event_type").agg(sum(col("cnt")).as("n_cur"))
    Extensions.driftReport(ref.join(cur, Seq("event_type"), "full_outer")
      .select(col("event_type"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur")))
  }

  def streamWindow(s: SparkSession, dir: String): DataFrame = {
    val name = s"stream_window_${System.nanoTime()}"
    drainStaged(s, dir, copies = 1)(
      graft.streaming.EtlStream.eventWindowCounts(s, _, name))
    drained(s, name)
      .select(col("event_type"), date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("cnt"), round(col("sum_value"), 2).as("sum_value"))
      .orderBy("event_type", "day")
  }

  /** [[streamWindow]]'s APPEND-mode twin ([[graft.streaming.EtlStream
    * .eventWindowCountsAppend]]): each (day, type) group arrives
    * exactly once, when the watermark seals the day, and leaves the
    * state store — the unbounded-stream shape, with the final open day
    * absent on both sides (the oracle applies the same day end + 1 h ≤
    * max ts cutoff). Together the pair pins complete ≡ batch (full
    * answer) and append ≡ batch-restricted-to-sealed (eviction
    * correctness). */
  def streamWindowAppend(s: SparkSession, dir: String): DataFrame = {
    val name = s"stream_window_append_${System.nanoTime()}"
    drainStaged(s, dir, copies = 1)(
      graft.streaming.EtlStream.eventWindowCountsAppend(s, _, name))
    drained(s, name)
      .select(col("event_type"), date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("cnt"), round(col("sum_value"), 2).as("sum_value"))
      .orderBy("event_type", "day")
  }

  /** Watermark-bounded streaming dedup: events staged TWICE so every
    * event_id is re-delivered in a later micro-batch; the surviving rows
    * must be exactly one per event_id (the 40-day horizon covers the
    * fixture's 30-day span). Canonicalized to per-type counts — equal to
    * distinct-event_id counts iff the dedup state did its job (2x
    * otherwise). */
  def streamDedup(s: SparkSession, dir: String): DataFrame = {
    val name = s"stream_dedup_${System.nanoTime()}"
    drainStaged(s, dir, copies = 2)(StreamDedup.run(s, _, name))
    drained(s, name)
      .groupBy("event_type").agg(count(lit(1)).as("n_events"))
      .orderBy("event_type")
  }

  /** Streaming per-day top-3 events by value through the bounded-heap
    * [[graft.functions.TopKAgg]] ([[graft.streaming.EtlStream
    * .eventTopK]]), drained in APPEND mode — each day arrives exactly
    * once, when the watermark passes its end, and leaves the state
    * store (the unbounded-stream shape; complete mode would grow state
    * and re-emission with stream lifetime). Unnested to (day, rank,
    * event_id, value) rows; the final, never-sealed day is absent by
    * watermark semantics, and the oracle applies the same deterministic
    * cutoff (day end + 1 h delay ≤ max event ts). The struct ordering
    * (value DESC, event_id DESC — the heap keeps the LARGEST structs)
    * is total, so the report is deterministic and oracle-checked
    * against DuckDB's window-rank formulation — proving the UDAF's
    * serialized heap state merges and EVICTS correctly across
    * micro-batches. */
  def streamTopK(s: SparkSession, dir: String): DataFrame = {
    val name = s"stream_topk_${System.nanoTime()}"
    drainStaged(s, dir, copies = 1)(
      graft.streaming.EtlStream.eventTopK(s, _, name, k = 3))
    drained(s, name)
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        posexplode(col("top")).as(Seq("i", "t")))
      .select(col("day"), (col("i") + 1).cast("long").as("rank"),
        col("t.event_id").as("event_id"), round(col("t.value"), 2).as("value"))
      .orderBy("day", "rank")
  }

  /** Ingest-time decontamination ([[graft.streaming.CorpusStream
    * .decontamFlags]]): the documents table replayed as an arrival
    * stream, its train slice screened against the STATIC benchmark
    * 8-gram blocklist (the val/test slices of the same md5 split,
    * computed batch-side and broadcast) — a stream-static broadcast
    * join, stateless by construction. The complete-mode drain's final
    * counts are a pure function of the data, so the whole report is
    * oracle-checked: per flagged train doc, how many of its distinct
    * 8-grams appear in some benchmark doc. */
  def streamDecontam(s: SparkSession, dir: String): DataFrame = {
    val name = s"stream_decontam_${System.nanoTime()}"
    val spec = Extensions.corpusSplitSpec
    val blocklist = graft.operators.CorpusSplit
      .split(t(s, dir, "documents"), "text", spec)
      .filter(col("split").isin("val", "test"))
      .select(explode(array_distinct(
        graft.functions.Sketches.wordShingles(col("text"), 8))).as("g"))
      .distinct()
    drainStaged(s, dir, copies = 1, table = "documents")(
      graft.streaming.CorpusStream.decontamFlags(s, _, name, blocklist, spec))
    drained(s, name).orderBy("doc_id")
  }

  /** Incremental MinHash LSH index maintenance ([[graft.streaming
    * .CorpusStream.lshIndex]]), ORACLE-GATED (round 19 — converted
    * from rows-only): the banded bucket index an ingest-time near-dup
    * check probes, maintained as a streaming aggregation and drained
    * in complete mode. The bucket keys themselves are seeded xxhash
    * (DuckDB cannot minhash), so the drained frame never rides in the
    * output; instead the query emits what IS engine-portable —
    * `n_docs_indexed` (Σ bucket sizes DIV 32: every doc contributes
    * exactly `bands` = 32 band rows, so a lost or double-counted state
    * row shifts the division and hash-fails), `n_band_rows` (the raw
    * Σ, oracle-pinned to 32·count(*)), and `index_gate` = 0 iff the
    * drained state equals the batch-built index
    * ([[graft.streaming.CorpusStream.lshIndexBatch]]) bit-for-bit,
    * both directions of exceptAll empty — the CorpusStreamSpec
    * equality (which ALSO replays a two-file staging to prove state
    * merge, not double-count) surfaced as a driver-hash-checked gate. */
  /** Per-dir store for [[streamMinhash]]'s batch-built reference index
    * — the backfill artifact a deployment computes ONCE over the
    * historical corpus before switching on the stream (the
    * bucketed_join/cdcStore one-time-write precedent): first call pays
    * the shingle→sign→band pass, later calls re-read ~32N skinny
    * parquet rows. */
  private val lshBatchStores =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[queries] def lshBatchStore(s: SparkSession, dir: String): String =
    lshBatchStores.computeIfAbsent(dir, _ => {
      val root = Files.createTempDirectory("graft_lsh_ix")
      // registered for the same exit-time cleanup as the IVF / stored-
      // layout roots — a batch index must not leak in /tmp across runs
      Extensions.ivfTmpRoots.add(root)
      val ix = root.toString + "/ix"
      graft.streaming.CorpusStream.lshIndexBatch(t(s, dir, "documents"))
        .write.mode("overwrite").parquet(ix)
      ix
    })

  def streamMinhash(s: SparkSession, dir: String): DataFrame = {
    val name = s"stream_minhash_${System.nanoTime()}"
    drainStaged(s, dir, copies = 1, table = "documents")(
      graft.streaming.CorpusStream.lshIndex(s, _, name))
    val drainedIx = drained(s, name).localCheckpoint()
    val batchIx = s.read.parquet(lshBatchStore(s, dir))
    // bounded driver actions over ~32·N skinny rows: |A| = |B| plus
    // A exceptAll B empty ⟹ multiset equality (A ⊆ B at equal
    // cardinality) — one anti-join instead of two
    val equal = drainedIx.count() == batchIx.count() &&
      drainedIx.exceptAll(batchIx).isEmpty
    drainedIx.agg(sum(col("n_docs")).as("srows"))
      .select(expr("srows DIV 32").as("n_docs_indexed"),
        col("srows").as("n_band_rows"),
        lit(if (equal) 0L else 1L).as("index_gate"))
  }

  /** Streaming SCD type-2 maintenance ([[graft.streaming.ScdStream]]):
    * the orders change log replayed as an arrival stream, per-customer
    * priority history folded into half-open validity intervals as rows
    * arrive — the watermark-buffered event-time-ordered fold of the
    * funnel chassis, since change detection is order-sensitive. Emits
    * CLOSED intervals only (an open interval is mutable until the next
    * change), so the drain equals the batch [[Extensions.scd2History]]
    * minus each key's current row — the streamSession
    * minus-the-open-tail pattern — and the oracle is that batch SQL
    * filtered to `valid_to IS NOT NULL`. */
  def streamScd(s: SparkSession, dir: String): DataFrame = {
    val name = s"stream_scd_${System.nanoTime()}"
    drainStaged(s, dir, copies = 1, table = "orders")(
      graft.streaming.ScdStream.run(s, _, name))
    drained(s, name)
      .select(col("custkey"), col("priority"),
        date_format(timestamp_micros(col("from_us")), "yyyy-MM-dd HH:mm:ss").as("valid_from"),
        date_format(timestamp_micros(col("to_us")), "yyyy-MM-dd HH:mm:ss").as("valid_to"))
      .orderBy("custkey", "valid_from", "priority", "valid_to")
  }

  /** Streaming CDC apply ([[graft.streaming.CdcStream]]): the cdc_apply
    * change log replayed as an arriving stream, last-writer-wins as one
    * associative struct-max whose per-key state is a single struct.
    * DELETE winners are dropped at read time, exactly like the batch
    * compaction — so this SHARES cdc_apply's oracle string verbatim
    * (the stream_funnel pattern: one oracle proving stream ≡ batch ≡
    * DuckDB). CdcStreamSpec additionally replays the log TWICE across
    * separate micro-batches and asserts the same table — the
    * at-least-once-delivery idempotency the max algebra gives for
    * free. */
  def streamCdc(s: SparkSession, dir: String): DataFrame = {
    val name = s"stream_cdc_${System.nanoTime()}"
    drainStaged(s, dir, copies = 1, table = "orders")(
      graft.streaming.CdcStream.run(s, _, name))
    drained(s, name)
      .filter(col("m.op") =!= "D")
      .select(col("k"), col("m.seq").as("seq"), col("m.cents").as("cents"))
      .orderBy("k")
  }

  /** The streaming curation capstone ([[graft.streaming.CorpusStream
    * .curate]]): quality gate → md5 split → cross-batch exact content
    * dedup → per-split rollup, one streaming plan (Spark's
    * dedup-then-aggregate chained-stateful shape). Deterministic
    * because every aggregated value is a function of the deduped text;
    * fully oracle-checked against the DISTINCT-by-hash batch SQL. */
  def streamCurate(s: SparkSession, dir: String): DataFrame = {
    val name = s"stream_curate_${System.nanoTime()}"
    drainStaged(s, dir, copies = 1, table = "documents")(
      graft.streaming.CorpusStream.curate(s, _, name, Extensions.corpusSplitSpec))
    drained(s, name).orderBy("split")
  }

  /** Streaming nearest-centroid classification
    * ([[graft.streaming.CorpusStream.classifyCensus]]): the embeddings
    * table replayed as an arrival stream, scored statelessly against
    * the SAME integer centroid table the batch query trains
    * ([[graft.operators.Similarity.labelCentroidsQ8]] — one shared
    * derivation), censused in complete mode. Exact integer distances ⇒
    * shares emb_classify's oracle verbatim (stream ≡ batch ≡ DuckDB in
    * one check, the stream_funnel pattern). */
  def streamClassify(s: SparkSession, dir: String): DataFrame = {
    val name = s"stream_classify_${System.nanoTime()}"
    val q = t(s, dir, "embeddings").select(col("vec_id"),
      col("label").cast("long").as("label"),
      graft.functions.Vecs.quantizeI8(col("embedding").cast("array<double>")).as("qi"))
    val (labels, ns, sums) =
      graft.operators.Similarity.labelCentroidsQ8(q, "label", "qi")
        .getOrElse(throw new IllegalStateException("empty embeddings table"))
    drainStaged(s, dir, copies = 1, table = "embeddings")(
      graft.streaming.CorpusStream.classifyCensus(s, _, name, labels, ns, sums))
    drained(s, name).orderBy("label", "pred")
  }

  /** Stateful streaming funnel ([[graft.streaming.FunnelStream]]),
    * drained and rolled up to the q29 report shape. Zero watermark
    * delay means the AvailableNow drain seals and folds every event,
    * so the drained report must equal the BATCH funnel bit-for-bit —
    * it shares q29's oracle SQL verbatim (the decontam-bloom sharing
    * pattern: one oracle proving two engines' paths identical). */
  def streamFunnel(s: SparkSession, dir: String): DataFrame = {
    val name = s"stream_funnel_${System.nanoTime()}"
    val stages = Seq("view", "click", "purchase")
    drainStaged(s, dir, copies = 1)(
      graft.streaming.FunnelStream.run(s, _, name, stages))
    drained(s, name)
      .groupBy(col("stage_no"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("arr_us") - col("prev_us")).as("sum_lag_us"))
      .select(concat(col("stage_no").cast("string"), lit("_"),
          element_at(array(stages.map(lit): _*), col("stage_no").cast("int"))).as("stage"),
        col("n_users"), col("sum_lag_us"))
      .orderBy("stage")
  }
}

/** DuckDB oracles for the streaming twins. */
object StreamingOracles {

  /** [[StreamingQueries.streamMinhash]]: every doc contributes exactly
    * 32 band rows to the index, and the drained-state ≡ batch-index
    * equality rides as a pinned gate. */
  val streamMinhash: String =
    """SELECT CAST(count(*) AS BIGINT) AS n_docs_indexed,
      |       CAST(32 * count(*) AS BIGINT) AS n_band_rows,
      |       CAST(0 AS BIGINT) AS index_gate
      |FROM documents""".stripMargin

  /** [[StreamingQueries.streamScd]]: the batch scd2History SQL minus
    * each key's current (open) row — closed validity intervals only,
    * datetimes formatted on both sides. */
  val streamScd: String =
    """WITH o AS (
      |  SELECT o_custkey AS custkey, o_orderpriority AS priority,
      |         o_orderdate, o_orderkey,
      |         lag(o_orderpriority) OVER (PARTITION BY o_custkey
      |           ORDER BY o_orderdate, o_orderkey) AS prev
      |  FROM orders),
      |ch AS (SELECT custkey, priority, o_orderdate, o_orderkey FROM o
      |       WHERE prev IS NULL OR prev <> priority),
      |r AS (SELECT custkey, priority, o_orderdate AS vf,
      |             lead(o_orderdate) OVER (PARTITION BY custkey
      |               ORDER BY o_orderdate, o_orderkey) AS vt
      |      FROM ch)
      |SELECT custkey, priority, strftime(vf, '%Y-%m-%d %H:%M:%S') AS valid_from,
      |       strftime(vt, '%Y-%m-%d %H:%M:%S') AS valid_to
      |FROM r WHERE vt IS NOT NULL
      |ORDER BY custkey, valid_from, priority, valid_to""".stripMargin

  /** [[StreamingQueries.streamHllDaily]]: exact per-day distincts with
    * the estimate gate pinned — the batch events_hll_daily oracle
    * minus its union ('ALL') row, which the drain doesn't emit. */
  val streamHllDaily: String =
    """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
      |       count(DISTINCT user_id) AS n_exact,
      |       CAST(0 AS BIGINT) AS gate
      |FROM events GROUP BY 1 ORDER BY day""".stripMargin

  /** Batch sessionization (q23's CTE) minus each user's final session —
    * the deterministic closed-session set of the drain. */
  val streamSession: String =
    """WITH x AS (
      |  SELECT user_id, ts, event_id,
      |         CASE WHEN lag(ts) OVER w IS NULL
      |                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
      |              THEN 1 ELSE 0 END AS new_s
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |y AS (
      |  SELECT user_id, ts,
      |         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                          ROWS UNBOUNDED PRECEDING) AS session_no
      |  FROM x),
      |s AS (
      |  SELECT user_id, epoch_us(min(ts)) AS start_us, epoch_us(max(ts)) AS end_us,
      |         count(*) AS n_events
      |  FROM y GROUP BY user_id, session_no),
      |m AS (SELECT user_id, max(end_us) AS max_end FROM s GROUP BY user_id)
      |SELECT s.user_id AS user_id, s.start_us, s.end_us, s.n_events
      |FROM s JOIN m ON s.user_id = m.user_id AND s.end_us < m.max_end
      |ORDER BY s.user_id, s.start_us""".stripMargin

  /** q18's oracle, verbatim semantics: the drained complete-mode window
    * aggregation must equal the batch per-day/per-type aggregate. */
  val streamWindow: String =
    """SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
      |       count(*) AS cnt, round(sum(value), 2) AS sum_value
      |FROM events GROUP BY event_type, day ORDER BY event_type, day""".stripMargin

  /** [[streamWindow]]'s batch aggregate restricted to the days the
    * 1-hour watermark sealed — [[StreamingQueries.streamWindowAppend]]'s
    * exact output. */
  val streamWindowAppend: String =
    """WITH m AS (SELECT max(ts) AS mx FROM events)
      |SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
      |       count(*) AS cnt, round(sum(value), 2) AS sum_value
      |FROM events, m
      |WHERE date_trunc('day', ts) + INTERVAL 1 DAY + INTERVAL 1 HOUR <= m.mx
      |GROUP BY event_type, day ORDER BY event_type, day""".stripMargin

  /** Every (purchase, view) pair of the same user with the view in the
    * purchase's preceding hour — the drained inner join's exact output. */
  val streamJoin: String =
    """WITH v AS (SELECT user_id, event_id AS view_id, ts AS v_ts
      |           FROM events WHERE event_type = 'view'),
      |p AS (SELECT user_id, event_id AS purchase_id, ts AS p_ts
      |      FROM events WHERE event_type = 'purchase')
      |SELECT p.purchase_id, v.view_id, p.user_id AS user_id,
      |       epoch_us(p.p_ts) - epoch_us(v.v_ts) AS lag_us
      |FROM p JOIN v ON p.user_id = v.user_id
      |  AND v.v_ts <= p.p_ts
      |  AND v.v_ts >= p.p_ts - INTERVAL 1 HOUR
      |ORDER BY purchase_id, view_id""".stripMargin

  /** [[StreamingQueries.streamSessionNative]]: gap islands with the
    * session_window split rule (`diff >= gap` — half-open per-event
    * windows) restricted to watermark-sealed sessions (end + gap +
    * 1 s guard ≤ max ts − 1 h). */
  val streamSessionNative: String =
    """WITH x AS (
      |  SELECT user_id, ts, event_id,
      |         CASE WHEN lag(ts) OVER w IS NULL
      |                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
      |              THEN 1 ELSE 0 END AS new_s
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |y AS (
      |  SELECT user_id, ts,
      |         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                          ROWS UNBOUNDED PRECEDING) AS session_no
      |  FROM x),
      |s AS (
      |  SELECT user_id, epoch_us(min(ts)) AS start_us, epoch_us(max(ts)) AS end_us,
      |         count(*) AS n_events
      |  FROM y GROUP BY user_id, session_no),
      |m AS (SELECT max(epoch_us(ts)) AS mx FROM events)
      |SELECT s.user_id AS user_id, s.start_us, s.end_us, s.n_events
      |FROM s, m
      |WHERE s.end_us + 1800000000 + 1000000 <= m.mx - 3600000000
      |ORDER BY user_id, start_us""".stripMargin

  /** [[StreamingQueries.streamInterval]]: the batch gaps-and-islands
    * CTEs ([[ExtensionOracles.intervalMerge]]'s construction) with the
    * same closed-by-a-later-event restriction — island end strictly
    * below the user's max event timestamp. */
  val streamInterval: String =
    """WITH iv AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS s,
      |         epoch_us(ts) + (event_id % 600 + 60) * 1000000 AS e
      |  FROM events),
      |m AS (SELECT user_id, event_id, s, e,
      |             max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
      |      FROM iv),
      |g AS (SELECT *, sum(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END)
      |               OVER (PARTITION BY user_id ORDER BY s, event_id
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island_no
      |      FROM m),
      |isl AS (SELECT user_id, island_no, min(s) AS start_us, max(e) AS end_us,
      |               count(*) AS n_events
      |        FROM g GROUP BY 1, 2),
      |mx AS (SELECT user_id, max(epoch_us(ts)) AS mts FROM events GROUP BY 1)
      |SELECT i.user_id, i.start_us, i.end_us, CAST(i.n_events AS BIGINT) AS n_events
      |FROM isl i JOIN mx USING (user_id)
      |WHERE i.end_us < mx.mts
      |ORDER BY user_id, start_us""".stripMargin

  /** [[StreamingQueries.streamAsof]]: q22's backward as-of restricted
    * to the 1 h lookback — latest qualifying view per purchase via
    * (lag ASC, view_id ASC) row_number, matching the drained
    * struct-min reduce exactly. */
  val streamAsof: String =
    """WITH v AS (SELECT user_id, event_id AS view_id, ts AS v_ts
      |           FROM events WHERE event_type = 'view'),
      |p AS (SELECT user_id, event_id AS purchase_id, ts AS p_ts
      |      FROM events WHERE event_type = 'purchase'),
      |m AS (SELECT p.purchase_id, p.user_id,
      |             v.view_id, epoch_us(p.p_ts) - epoch_us(v.v_ts) AS lag_us
      |      FROM p JOIN v ON p.user_id = v.user_id
      |        AND v.v_ts <= p.p_ts
      |        AND v.v_ts >= p.p_ts - INTERVAL 1 HOUR),
      |r AS (SELECT *, row_number() OVER (PARTITION BY purchase_id
      |               ORDER BY lag_us, view_id) AS rk FROM m)
      |SELECT purchase_id AS event_id, user_id, view_id AS matched_view_id,
      |       lag_us
      |FROM r WHERE rk = 1 ORDER BY event_id""".stripMargin

  /** [[StreamingQueries.streamJoinOuter]]: the batch left join with
    * unmatched rows restricted to the watermark-sealed region (p_ts +
    * 1 s guard ≤ min(max v_ts, max p_ts) − 2 h) — exactly the drained
    * frame's own canonicalization. NULLS FIRST pins view_id null
    * ordering to Spark's ascending default. */
  val streamJoinOuter: String =
    """WITH v AS (SELECT user_id, event_id AS view_id, ts AS v_ts
      |           FROM events WHERE event_type = 'view'),
      |p AS (SELECT user_id, event_id AS purchase_id, ts AS p_ts
      |      FROM events WHERE event_type = 'purchase'),
      |w AS (SELECT least((SELECT max(epoch_us(ts)) FROM events WHERE event_type = 'view'),
      |                   (SELECT max(epoch_us(ts)) FROM events WHERE event_type = 'purchase'))
      |             - 7200000000 AS wm)
      |SELECT p.purchase_id, v.view_id, p.user_id AS user_id,
      |       epoch_us(p.p_ts) - epoch_us(v.v_ts) AS lag_us,
      |       epoch_us(p.p_ts) AS p_ts_us
      |FROM p LEFT JOIN v ON p.user_id = v.user_id
      |  AND v.v_ts <= p.p_ts
      |  AND v.v_ts >= p.p_ts - INTERVAL 1 HOUR
      |CROSS JOIN w
      |WHERE v.view_id IS NOT NULL OR epoch_us(p.p_ts) + 1000000 <= w.wm
      |ORDER BY purchase_id, view_id NULLS FIRST""".stripMargin

  /** One survivor per event_id → per-type counts equal distinct counts. */
  val streamDedup: String =
    """SELECT event_type, count(DISTINCT event_id) AS n_events
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** The q25 window-rank formulation of the drained streaming top-k:
    * same (value DESC, event_id DESC) total order, same rounding,
    * restricted to days the 1-hour-delay watermark SEALED (day end +
    * 1 h ≤ max event ts) — the append-mode drain's exact output. */
  val streamTopK: String =
    """WITH m AS (SELECT max(ts) AS mx FROM events),
      |e AS (SELECT date_trunc('day', ts) AS d, event_id, value FROM events),
      |r AS (SELECT d, event_id, value,
      |        row_number() OVER (PARTITION BY d ORDER BY value DESC, event_id DESC) AS rank
      |      FROM e)
      |SELECT strftime(d, '%Y-%m-%d') AS day, CAST(rank AS BIGINT) AS rank,
      |       event_id, round(value, 2) AS value
      |FROM r, m WHERE rank <= 3 AND d + INTERVAL 1 DAY + INTERVAL 1 HOUR <= m.mx
      |ORDER BY day, rank""".stripMargin

  /** The drained streaming funnel must equal the batch funnel exactly
    * (zero-delay watermark seals every event during the drain), so it
    * shares q29's oracle string — the gate proves stream ≡ batch ≡
    * DuckDB in one check. */
  val streamFunnel: String = Oracles.q29Funnel

  /** [[StreamingQueries.streamDecontam]]: the corpus_decontam CTE chain
    * (split CASE from the shared hex thresholds, the shingle kernel's
    * exact whitespace class and short-doc rule) turned around to the
    * ingest direction — per TRAIN doc, its distinct 8-grams that appear
    * in ANY val/test doc. `tr` rows are distinct per doc and `bl` is
    * globally distinct, so `count(*)` counts distinct flagged n-grams,
    * matching the drained `n_flagged` exactly. */
  val streamDecontam: String = {
    val spec = Extensions.corpusSplitSpec
    val ths = graft.operators.CorpusSplit.hexThresholds(spec)
    val whens = spec.init.zip(ths.init).map { case ((name, _), cut) =>
      s"WHEN substr(md5(text), 1, 8) < '$cut' THEN '$name'"
    }.mkString(" ")
    val kws = graft.functions.SketchUtil.WsClassRegex
    s"""WITH d AS (
       |  SELECT doc_id, CASE $whens ELSE '${spec.last._1}' END AS split,
       |         list_filter(regexp_split_to_array(lower(text), '$kws'), t -> t <> '') AS tk
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id, split,
       |         CASE WHEN len(tk) < 8 THEN [coalesce(array_to_string(tk, ' '), '')]
       |              ELSE list_distinct([array_to_string(tk[i:i+7], ' ') for i in range(1, len(tk) - 6)]) END AS sg
       |  FROM d),
       |e AS (SELECT doc_id, split, unnest(sg) AS g FROM sh),
       |bl AS (SELECT DISTINCT g FROM e WHERE split IN ('val', 'test')),
       |tr AS (SELECT doc_id, g FROM e WHERE split = 'train')
       |SELECT tr.doc_id, count(*) AS n_flagged
       |FROM tr JOIN bl USING (g)
       |GROUP BY tr.doc_id ORDER BY tr.doc_id""".stripMargin
  }

  /** [[StreamingQueries.streamCurate]]: gate → split CASE (shared hex
    * thresholds) → DISTINCT by content hash (split and token count are
    * functions of the text, so the distinct tuple is the distinct
    * hash) → per-split rollup. */
  val streamCurate: String = {
    val spec = Extensions.corpusSplitSpec
    val ths = graft.operators.CorpusSplit.hexThresholds(spec)
    val whens = spec.init.zip(ths.init).map { case ((name, _), cut) =>
      s"WHEN substr(md5(text), 1, 8) < '$cut' THEN '$name'"
    }.mkString(" ")
    val ws = graft.operators.TextAnalysis.WsClass
    s"""WITH d AS (
       |  SELECT text, CASE $whens ELSE '${spec.last._1}' END AS split,
       |         CASE WHEN len(trim(text)) = 0 THEN 0
       |              ELSE len(regexp_split_to_array(trim(text), '$ws')) END AS n
       |  FROM documents),
       |g AS (SELECT * FROM d WHERE n >= 16),
       |u AS (SELECT DISTINCT md5(text) AS h, split, n FROM g)
       |SELECT split, count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS sum_tokens
       |FROM u GROUP BY split ORDER BY split""".stripMargin
  }
}
