package graft.core

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}

/** The chassis every BSP operator's driver loop runs on.
  *
  * Every iterative operator in this engine follows the same shape:
  * inputs are materialized ONCE up front (`localCheckpoint`, executed
  * under the session's normal config — AQE sizes that materialization
  * from real bytes), then a driver loop runs tens of per-step jobs
  * (the per-iteration `localCheckpoint`) whose plans all have the SAME
  * fixed shape: one or two exchanges over frames whose size AQE
  * already measured when it materialized the loop inputs.
  *
  * Under AQE each of those exchanges becomes its own query stage —
  * a separate job submission plus a driver re-optimization round trip
  * per exchange per step. That re-planning buys nothing inside the
  * loop (the plan shape is fixed; the aggregates are associative with
  * map-side combine, so skew is absorbed before the exchange; the
  * partition-count decision comes out the same every step) and its
  * latency lands on the critical path of EVERY step: measured on the
  * 35-query graph family at sf0.1, 15–33 ms of scheduling floor per
  * stage across 48–132 stages per query (OPTIMIZATION_r21.md), and the
  * family got SLOWER from 8 → 32 cores because the floor grows with
  * the scheduler's bookkeeping, not the data.
  *
  * [[iterate]] therefore owns the whole step policy: the loop runs
  * [[pinned]] (AQE off, shuffle width pinned to the width AQE chose
  * when it materialized the loop's input frames — scale-adaptive: at
  * 100 TB the input materialization coalesces to thousands of
  * partitions and the loop inherits that width, at sf0.1 it inherits
  * 1), every step's pre-materialization frame goes to [[stepSink]],
  * the step is materialized with its driver scalars observed on the
  * same job ([[checkpointObserved]]), and a step budget plus an
  * optional observed-longs predicate decide when to stop. AQE is
  * restored (and re-applies to whatever the caller builds on the
  * result) as soon as the loop exits.
  *
  * Results are unaffected by the posture: every loop step is a
  * deterministic integer/idempotent fold whose value is independent of
  * partitioning (the GraphSpec/oracle gates pin this), and AQE never
  * changes query semantics. Thread-scope caveat: `spark.conf.set` is
  * session-global, so a loop running concurrently with OTHER queries
  * on the same session would briefly impose this posture on them; the
  * bench/verify drivers run queries sequentially.
  */
object BspLoop {

  /** Step-plan capture (graft.tools.PlanDumpStep, the benchmark's step
    * counter): when set, [[iterate]] hands each step's PRE-materialization
    * frame to the sink as (label, step, frame) — `localCheckpoint`
    * severs the plan, so this is the only point where the per-step
    * shape (Exchange count, join strategy) is visible to `explain`. A
    * plain None check when unset. */
  @volatile private[graft] var stepSink: Option[(String, Int, DataFrame) => Unit] = None

  /** One step's plan for [[iterate]]: `frame` is materialized with
    * `metrics` observed on the same job (plain `localCheckpoint` when
    * there are none); `next` turns the materialized frame and the
    * observed longs into the loop's next state, and `done` over the
    * same longs stops the loop after this step. */
  final case class Step(frame: DataFrame, metrics: Seq[Column] = Nil,
                        done: Seq[Long] => Boolean = _ => false,
                        next: (DataFrame, Seq[Long]) => DataFrame = (ck, _) => ck)

  /** The final state, the steps run, and whether a step's `done` fired
    * (false ⇒ the budget ran out first). */
  final case class Outcome(state: DataFrame, steps: Int, stopped: Boolean)

  /** Runs up to `maxSteps` steps of a BSP loop from `init`: step k
    * builds its [[Step]] from the current state, the chassis captures
    * and materializes it, and `next` yields the state step k+1 sees.
    * The whole loop runs [[pinned]] to the widest of `init` and
    * `inputs` (the loop's other materialized frames). Driver state a
    * loop carries beside its frame (an observed scalar, a level list)
    * lives in the caller's closure, updated from `next`. */
  def iterate(label: String, init: DataFrame, maxSteps: Int, inputs: DataFrame*)(
      step: (DataFrame, Int) => Step): Outcome = {
    require(maxSteps >= 0, s"BspLoop.iterate($label): negative step budget $maxSteps")
    pinned(init.sparkSession, init +: inputs: _*) {
      var state = init
      var k = 0
      var stopped = false
      while (k < maxSteps && !stopped) {
        k += 1
        val s = step(state, k)
        stepSink.foreach(_(label, k, s.frame))
        val (ck, obs) =
          if (s.metrics.isEmpty) (s.frame.localCheckpoint(), Nil)
          else checkpointObserved(s.frame, s.metrics: _*)
        state = s.next(ck, obs)
        stopped = s.done(obs)
      }
      Outcome(state, k, stopped)
    }
  }

  /** Materializes `df` (eager `localCheckpoint`) with `metrics`
    * observed DURING the materialization job (`Dataset.observe` /
    * CollectMetrics) and returns the checkpointed frame plus the
    * observed longs. This is the §2.4 one-pass rule applied to the
    * loop's DRIVER scalars: the convergence probe, the dangling-mass
    * sum, the setup counts — each would otherwise be its own follow-up
    * job scanning the frame the checkpoint job had JUST computed;
    * observed, they ride that job for free. The scalars stay bounded
    * (a handful of longs — the pageRank-N class of driver artifact),
    * and the checkpointed frame is byte-identical (CollectMetrics only
    * taps the stream; the severed post-checkpoint plan never contains
    * it).
    *
    * Each metric must be an aggregate that is non-null on every input
    * (count, or a coalesced sum) — a NULL here would mean a silent 0. */
  private[graft] def checkpointObserved(df: DataFrame, metrics: Column*): (DataFrame, Seq[Long]) = {
    val obs = Observation()
    val named = metrics.zipWithIndex.map { case (m, i) => m.cast("long").as(s"m$i") }
    val ck = df.observe(obs, named.head, named.tail: _*).localCheckpoint()
    val row = obs.get
    val vals = metrics.indices.map { i =>
      row.get(s"m$i") match {
        case Some(l: java.lang.Long) => l.longValue
        case Some(null) | None =>
          throw new IllegalStateException(
            s"checkpointObserved: metric m$i observed NULL — use count() " +
              "or a coalesced sum so absence cannot read as zero silently")
        case Some(other) => other.toString.toLong
      }
    }
    (ck, vals)
  }

  /** Runs `body` (a BSP operator's driver loop) with AQE disabled and
    * `spark.sql.shuffle.partitions` pinned to the max partition count
    * of `inputs`; restores both settings on exit, also when `body`
    * throws. The inputs must already be materialized (checkpointed, or
    * a narrow projection of a checkpointed frame): reading a lazy
    * input's partition count under AQE finalizes its adaptive plan,
    * which can run its upstream shuffle stages as a job before the
    * loop starts and pins a width nobody measured. The one lazy input
    * today is [[graft.operators.Similarity.kmeansRefine]]'s corpus,
    * which is scan-only, so its width is the scan's. */
  private[graft] def pinned[T](spark: SparkSession, inputs: DataFrame*)(body: => T): T = {
    require(inputs.nonEmpty, "BspLoop.pinned needs at least one input frame")
    val aqeKey = "spark.sql.adaptive.enabled"
    val partKey = "spark.sql.shuffle.partitions"
    val prevAqe = spark.conf.get(aqeKey, "true")
    val prevPart = spark.conf.get(partKey)
    val width = math.max(1, inputs.map(_.rdd.getNumPartitions).max)
    spark.conf.set(aqeKey, "false")
    spark.conf.set(partKey, width.toString)
    try body
    finally {
      spark.conf.set(aqeKey, prevAqe)
      spark.conf.set(partKey, prevPart)
    }
  }
}
