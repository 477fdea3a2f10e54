package graft.perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.core.BspLoop
import graft.etl.Pipeline
import graft.operators.{Dedup, Graph, Similarity, TextAnalysis}
import graft.streaming.EtlStream

/** What a run shares with its workload. */
final case class Ctx(spark: SparkSession, seed: Long, work: Path, tracer: Tracer)

/** A named value with its unit, as reported. */
final case class Metric(name: String, value: Double, unit: String)

/** What a workload's output checks found, and what it measured.
  * `endToEnd` holds the benchmark's uniform end-to-end metrics (the
  * same names on every workload); `named` the workload's own metrics
  * under the names the documentation uses. */
final case class Outcome(attempted: Int, failed: Int, failures: Seq[String],
                         endToEnd: Seq[Metric], named: Seq[Metric])

/** One closed-loop workload. The runner calls [[generate]] (several
  * times, keeping the last), [[load]] and [[warmup]] during set-up,
  * then [[unit]] back to back until the time is up, [[probe]] after
  * each traced unit, and [[finish]] once to check every output. */
trait Workload {
  def generate(dir: Path): Map[String, Any]
  def load(): Unit
  def warmup(): Unit
  def hasUnit(i: Int): Boolean
  def unit(i: Int): Unit
  def probe(i: Int): Unit = ()
  def finish(): Outcome
}

object Stats {
  /** Percentile of a non-empty sample, linear between order statistics. */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    val r = p / 100.0 * (s.size - 1)
    val lo = math.floor(r).toInt; val hi = math.ceil(r).toInt
    s(lo) + (r - lo) * (s(hi) - s(lo))
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

// ------------------------------------------------------------ etl_stream

/** The paper's pipeline: raw-ad JSONL deliveries drained by
  * `EtlStream.run` (AvailableNow, one file per micro-batch) into a
  * parquet warehouse and a quarantine that grow over the run. */
final class EtlWorkload(ctx: Ctx) extends Workload {
  import ctx.{spark, tracer}
  private val params = EtlGen.Params(deliveries = 16, filesPerDelivery = 2,
    adsPerFile = 120, dupShare = 0.05, unknownSiteShare = 0.04, badDateShare = 0.04,
    rescrapeShare = 0.08, minPageBytes = 2000, maxPageBytes = 32000)
  private var in: EtlInputs = _
  private val out = ctx.work.resolve("etl")
  private def dir(n: String) = out.resolve(n).toString
  private val delivered = mutable.ArrayBuffer[Seq[Path]]()
  private val drainSecs = mutable.ArrayBuffer[Double]()
  private val errors = mutable.LinkedHashMap[Int, String]()
  private var loopStartMs = Long.MaxValue

  /** triggerExecution of every non-empty micro-batch (time, seconds). */
  private val batches = new ConcurrentLinkedQueue[(Long, Double)]()
  private val progress = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0)
        batches.add((Instant.parse(e.progress.timestamp).toEpochMilli,
          e.progress.durationMs.get("triggerExecution") / 1000.0))
  }

  def generate(d: Path): Map[String, Any] = {
    in = EtlGen.generate(d, ctx.seed, params)
    in.sizes ++ Map("bytes" -> Gen.bytes(d))
  }

  def load(): Unit = spark.streams.addListener(progress)

  private def drain(raw: String, wh: String, qr: String, cp: String): Unit =
    EtlStream.run(spark, raw, in.dimPath.toString, wh, qr, cp, maxFilesPerTrigger = 1)

  private def deliver(files: Seq[Path], raw: String, tag: String): Seq[Path] = {
    Files.createDirectories(Path.of(raw))
    files.zipWithIndex.map { case (f, j) =>
      Files.move(f, Path.of(raw).resolve(s"$tag-$j.jsonl"), StandardCopyOption.ATOMIC_MOVE)
    }
  }

  /** Two drain calls on their own warehouse: with one, the timed
    * deliveries still sped up by a fifth over the run as the JIT warmed. */
  def warmup(): Unit = {
    val (first, rest) = in.warmup.files.splitAt(1)
    Seq(first -> "warm0", rest -> "warm1").foreach { case (files, tag) =>
      deliver(files, dir("warm_raw"), tag)
      drain(dir("warm_raw"), dir("warm_wh"), dir("warm_qr"), dir("warm_cp"))
    }
  }

  def hasUnit(i: Int): Boolean = i < in.deliveries.size

  def unit(i: Int): Unit = {
    if (loopStartMs == Long.MaxValue) loopStartMs = System.currentTimeMillis()
    delivered += deliver(in.deliveries(i).files, dir("raw"), f"d$i%03d")
    val t0 = System.nanoTime()
    try tracer.span("streaming.EtlStream.run")(drain(dir("raw"), dir("wh"), dir("qr"), dir("cp")))
    catch { case e: Exception => errors(i) = s"EtlStream.run threw ${e.getClass.getName}: ${e.getMessage}" }
    drainSecs += Stats.secs(t0)
  }

  /** The two stages of a micro-batch that `run` does not expose, called
    * directly on the same delivery: the 13-field HTML extraction, and
    * the landed-key scan over the warehouse as it stands now. */
  override def probe(i: Int): Unit = {
    val files = delivered(i).map(_.toString)
    tracer.span("etl.Pipeline.cleanData") {
      Pipeline.cleanData(Pipeline.parseRaw(spark.read.text(files: _*)))
        .write.format("noop").mode("overwrite").save()
    }
    val d = in.deliveries(i)
    val months = (d.landed.keys ++ d.rescraped).map(_.take(7)).toSeq.distinct.sorted
    tracer.span("streaming.EtlStream.landedKeys") {
      EtlStream.landedKeys(spark, dir("wh"), months).foreach(_.count())
    }
  }

  def finish(): Outcome = {
    PerfbenchBus.drain(spark.sparkContext)
    spark.streams.removeListener(progress)
    val n = delivered.size
    val ds = in.deliveries.take(n)
    val wh = spark.read.parquet(dir("wh"))
      .select(col("uniq_id"), date_format(col("scrape_date"), "yyyy-MM-dd HH:mm:ss"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    val qr = spark.read.parquet(dir("qr")).select("uniq_id").collect().map(_.getString(0))
    val whCount = wh.groupBy(_._1).map { case (k, v) => k -> v.length }
    val whDate = wh.toMap
    val qrCount = qr.groupBy(identity).map { case (k, v) => k -> v.length }
    val expectLanded = ds.flatMap(_.landed).toMap
    val expectQr = ds.flatMap(_.quarantined).toSet
    val failures = mutable.ArrayBuffer[String]()
    // whole-warehouse checks: they cannot be pinned on one delivery
    val dupIds = whCount.count(_._2 > 1)
    val strayWh = whCount.keys.count(k => !expectLanded.contains(k))
    val strayQr = qrCount.keys.count(k => !expectQr.contains(k))
    val global = Seq(
      (wh.length != expectLanded.size) -> s"warehouse has ${wh.length} rows, expected ${expectLanded.size}",
      (qr.length != expectQr.size) -> s"quarantine has ${qr.length} rows, expected ${expectQr.size}",
      (dupIds > 0) -> s"$dupIds uniq_ids appear more than once in the warehouse",
      (strayWh > 0) -> s"$strayWh warehouse uniq_ids were never expected to land",
      (strayQr > 0) -> s"$strayQr quarantined uniq_ids were never expected there")
      .collect { case (true, msg) => msg }
    failures ++= global
    var good = 0
    val perDelivery = ds.indices.map { i =>
      val d = ds(i)
      val landedOk = d.landed.count { case (u, sd) => whCount.get(u).contains(1) && whDate(u) == sd }
      val qrOk = d.quarantined.count(u => qrCount.get(u).contains(1))
      // a re-scrape must not replace or join the copy that landed first
      val rescrapeBad = d.rescraped.count(u => !(whCount.get(u).contains(1) && whDate(u) == expectLanded(u)))
      good += landedOk + qrOk
      val ok = errors.get(i).isEmpty && global.isEmpty && landedOk == d.landed.size &&
        qrOk == d.quarantined.size && rescrapeBad == 0
      if (!ok) failures += errors.getOrElse(i,
        s"delivery $i: landed $landedOk/${d.landed.size}, quarantined $qrOk/${d.quarantined.size}, " +
          s"re-scrapes landed $rescrapeBad")
      ok
    }
    val trig = batches.asScala.toSeq.filter(_._1 >= loopStartMs).map(_._2)
    val ads = ds.map(_.ads).sum.toDouble
    // rates are medians over calls: one call stalled on the disk moves
    // a median less than a sum
    val adsPerS = Stats.median(ds.indices.map(i => ds(i).ads / drainSecs(i)))
    val p50 = Stats.median(trig); val p90 = Stats.pct(trig, 90)
    val recall = good.toDouble / (expectLanded.size + expectQr.size)
    Outcome(n, perDelivery.count(!_), failures.toSeq,
      endToEnd = Seq(Metric("throughput_per_s", adsPerS, "1/s"), Metric("p50_s", p50, "s"),
        Metric("answer_recall", recall, "ratio")),
      named = Seq(Metric("etl.ads_per_s", adsPerS, "1/s"), Metric("etl.batch_p50_s", p50, "s"),
        Metric("etl.batch_p90_s", p90, "s"), Metric("etl.batch_samples", trig.size, "count"),
        Metric("etl.ads_delivered", ads, "count"), Metric("etl.drain_s", drainSecs.sum, "s")))
  }
}

// ------------------------------------------------------------- graph_bsp

/** Six BSP loops of `operators.Graph` per unit, on seeded graphs of
  * planted components, small enough that per-step job scheduling in
  * `core.BspLoop` is most of the time. Each unit runs on its own graph
  * variant (same size and shape, different wiring): the loops inline
  * per-step scalars as literals, so re-running one graph would hit the
  * code generator's cache from the second pass on and make later passes
  * cheaper than the first. */
final class GraphWorkload(ctx: Ctx) extends Workload {
  import ctx.{spark, tracer}
  private val params = GraphGen.Params(nodes = 4000, avgOutDegree = 6.0, components = 40,
    isolated = 100)
  private val Variants = 10
  private val WarmPasses = 2
  private val PrIters = 6; private val LpaIters = 3; private val HitsIters = 3
  private val CoreIters = 4
  private val Budget = 50
  private var in: Vector[GraphInputs] = _
  private var frames: Vector[(DataFrame, DataFrame)] = _
  private val passSecs = mutable.ArrayBuffer[Double]()
  private val results = mutable.ArrayBuffer[(Int, String, Either[String, Array[Row]])]()

  val Loops: Seq[String] = Seq("pageRankE9", "connectedComponentsMinLabel",
    "labelPropagationMinTie", "corenessHIndex", "stronglyConnectedComponents", "hitsPpm")

  /** The converging loops (components, SCC) get a budget they never
    * reach; the others run a fixed number of steps. */
  private def call(loop: String, v: Int): DataFrame = {
    val (edges, nodes) = frames(v)
    loop match {
      case "pageRankE9"                  => Graph.pageRankE9(edges, nodes, PrIters)
      case "connectedComponentsMinLabel" => Graph.connectedComponentsMinLabel(edges, nodes, Budget)
      case "labelPropagationMinTie"      => Graph.labelPropagationMinTie(edges, nodes, LpaIters)
      case "corenessHIndex"              => Graph.corenessHIndex(edges, nodes, CoreIters)
      case "stronglyConnectedComponents" => Graph.stronglyConnectedComponents(edges, nodes, Budget)
      case "hitsPpm"                     => Graph.hitsPpm(edges, nodes, HitsIters)
    }
  }

  def generate(d: Path): Map[String, Any] = {
    val seeds = new java.util.SplittableRandom(ctx.seed)
    in = Vector.fill(Variants)(seeds.nextLong()).zipWithIndex.map { case (s, v) =>
      GraphGen.generate(d.resolve(s"g$v"), s, params)
    }
    in.head.sizes ++ Map("variants" -> Variants, "bytes" -> Gen.bytes(d),
      "pagerank_steps" -> PrIters, "lpa_steps" -> LpaIters, "coreness_steps" -> CoreIters,
      "hits_steps" -> HitsIters)
  }

  def load(): Unit = frames = in.map { g =>
    val e = spark.read.schema("src LONG, dst LONG").csv(g.edgesPath.toString).cache()
    val n = spark.read.schema("node LONG").csv(g.nodesPath.toString).cache()
    e.count(); n.count()
    (e, n)
  }

  /** Full passes on the first variants: after one, timed passes still
    * sped up by a fifth over a run. */
  def warmup(): Unit = (0 until WarmPasses).foreach(v => Loops.foreach(l => call(l, v).collect()))

  def hasUnit(i: Int): Boolean = true

  def unit(i: Int): Unit = {
    val v = WarmPasses + i % (Variants - WarmPasses)
    val t0 = System.nanoTime()
    Loops.foreach { l =>
      val res = tracer.span(s"operators.Graph.$l") {
        if (tracer.enabled) BspLoop.stepSink = Some((_, _, _) => tracer.add("steps", 1))
        try Right(call(l, v).collect())
        catch { case e: Exception => Left(s"$l threw ${e.getClass.getName}: ${e.getMessage}") }
        finally BspLoop.stepSink = None
      }
      results += ((v, l, res))
    }
    passSecs += Stats.secs(t0)
  }

  /** References for one variant: planted components, and plain Scala
    * label propagation, coreness, SCC and HITS. */
  private def references(g: GraphInputs): Map[String, Map[Long, Any]] = {
    val adj = Refs.undirected(g.nodes, g.edges)
    Map("connectedComponentsMinLabel" -> g.component,
      "labelPropagationMinTie" -> Refs.labelPropagation(g.nodes, adj, LpaIters),
      "corenessHIndex" -> Refs.corenessHIndex(g.nodes, adj, CoreIters),
      "stronglyConnectedComponents" -> Refs.scc(g.nodes, g.edges),
      "hitsPpm" -> Refs.hitsPpm(g.nodes, g.edges, HitsIters))
  }

  def finish(): Outcome = {
    val refs = results.map(_._1).distinct.map(v => v -> references(in(v))).toMap
    var good = 0L; var total = 0L
    val failures = mutable.ArrayBuffer[String]()
    val bad = results.count { case (v, l, res) =>
      val g = in(v); val n = g.nodes.length
      // per-step floor divisions only lose mass: at most E + 3N units
      // per step, damped by 0.85 each later step
      val massSlack = ((g.edges.length + 3L * n) / 0.15).toLong
      val err: Option[String] = res match {
        case Left(msg) => Some(msg)
        case Right(rows) if l == "pageRankE9" =>
          val mass = rows.map(_.getLong(1)).sum
          val ok = rows.length == n && rows.forall(_.getLong(1) >= 0) &&
            mass <= 1000000000L && mass >= 1000000000L - massSlack
          if (ok) good += n
          if (ok) None else Some(s"pageRankE9 on graph $v: ${rows.length} rows, rank mass $mass")
        case Right(rows) =>
          val got: Map[Long, Any] =
            if (l == "hitsPpm") rows.map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
            else rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
          val agree = refs(v)(l).count { case (k, x) => got.get(k).contains(x) }
          good += agree
          if (agree == n && rows.length == n) None
          else Some(s"$l on graph $v: ${n - agree} of $n nodes differ from the reference (${rows.length} rows)")
      }
      total += n
      err.foreach(failures += _)
      err.isDefined
    }
    val suiteP50 = Stats.median(passSecs.toSeq)
    val loopsPerS = Stats.median(passSecs.toSeq.map(Loops.size / _))
    Outcome(results.size, bad, failures.toSeq,
      endToEnd = Seq(Metric("throughput_per_s", loopsPerS, "1/s"),
        Metric("p50_s", suiteP50, "s"), Metric("answer_recall", good.toDouble / total, "ratio")),
      named = Seq(Metric("graph.suite_s", suiteP50, "s"),
        Metric("graph.suite_p90_s", Stats.pct(passSecs.toSeq, 90), "s"),
        Metric("graph.passes", passSecs.size, "count"), Metric("graph.loops_per_s", loopsPerS, "1/s")))
  }
}

// ------------------------------------------------------ corpus_retrieval

/** One unit is an IVF top-k call per query batch, a MinHash near-duplicate pass and a
  * BM25 more-like-this pass over a seeded corpus with planted clusters:
  * task compute in vector and sketch kernels and shuffle, over few
  * jobs. `Similarity.bruteForceTopK` is the exact reference. */
final class CorpusWorkload(ctx: Ctx) extends Workload {
  import ctx.{spark, tracer}
  private val params = CorpusGen.Params(vectors = 30000, dims = 32, clusters = 128,
    noise = 0.12, queryBatches = 2, queriesPerBatch = 2000, docs = 4000, docWordsMin = 60,
    docWordsMax = 160, vocab = 8000, dupClusters = 150, bm25Queries = 16)
  private val K = 10; private val NList = 64; private val NProbe = 4
  private val MinhashThreshold = 0.5
  /** Recall is measured on the first queries of each batch: the exact
    * reference for a whole batch costs more than the run's window. */
  private val RecallQueries = 200
  private var in: CorpusInputs = _
  private var corpus: DataFrame = _
  private var queries: Vector[DataFrame] = _
  private var docs: DataFrame = _
  private var centroids: Array[(Long, Array[Double])] = _
  private val ivfOut = mutable.ArrayBuffer[(Int, Double, Either[String, Array[Row]])]()
  private val mhOut = mutable.ArrayBuffer[(Double, Either[String, Array[Row]])]()
  private val bmOut = mutable.ArrayBuffer[(Double, Either[String, Array[Row]])]()
  private val unitSecs = mutable.ArrayBuffer[Double]()

  def generate(d: Path): Map[String, Any] = {
    in = CorpusGen.generate(d, ctx.seed, params)
    in.sizes ++ Map("bytes" -> Gen.bytes(d), "nlist" -> NList, "nprobe" -> NProbe, "k" -> K)
  }

  def load(): Unit = {
    val vec = "id LONG, v ARRAY<DOUBLE>"
    corpus = spark.read.schema(vec).json(in.vectorsPath.toString).cache()
    queries = in.queryPaths.map(p => spark.read.schema(vec).json(p.toString).cache())
    docs = spark.read.schema("id LONG, text STRING").json(in.docsPath.toString).cache()
    (corpus +: docs +: queries).foreach(_.count())
    centroids = Similarity.sampleCentroids(corpus, "id", "v", NList)
  }

  private def timed(name: String)(body: => Array[Row]): (Double, Either[String, Array[Row]]) = {
    val t0 = System.nanoTime()
    val res = tracer.span(name) {
      try {
        val rows = body
        tracer.add("results", rows.length)
        Right(rows)
      } catch { case e: Exception => Left(s"$name threw ${e.getClass.getName}: ${e.getMessage}") }
    }
    (Stats.secs(t0), res)
  }

  private def isQuery(c: org.apache.spark.sql.Column) = c.isin(in.bm25Queries: _*)

  /** Three untimed units: after one, the first timed unit still ran a
    * third slower than the rest, and after two a tenth. */
  def warmup(): Unit = (1 to 3).foreach { _ =>
    queries.foreach(q => Similarity.ivfTopK(corpus, q, "id", "id", "v", K, centroids, NProbe).collect())
    Dedup.minhashPairs(docs, "id", "text", threshold = MinhashThreshold).collect()
    TextAnalysis.bm25MoreLikeThis(docs, "id", "text", isQuery, K).collect()
  }

  def hasUnit(i: Int): Boolean = true

  def unit(i: Int): Unit = {
    val t0 = System.nanoTime()
    queries.indices.foreach { b =>
      val (ti, ri) = timed("operators.Similarity.ivfTopK") {
        Similarity.ivfTopK(corpus, queries(b), "id", "id", "v", K, centroids, NProbe).collect()
      }
      ivfOut += ((b, ti, ri))
    }
    mhOut += timed("operators.Dedup.minhashPairs") {
      Dedup.minhashPairs(docs, "id", "text", threshold = MinhashThreshold).collect()
    }
    bmOut += timed("operators.TextAnalysis.bm25MoreLikeThis") {
      TextAnalysis.bm25MoreLikeThis(docs, "id", "text", isQuery, K).collect()
    }
    unitSecs += Stats.secs(t0)
  }

  def finish(): Outcome = {
    val failures = mutable.ArrayBuffer[String]()
    // exact top-k, from the engine's brute-force operator
    val exact: Map[Int, Map[Long, Set[Long]]] = ivfOut.map(_._1).distinct.map { b =>
      val sample = queries(b).filter(col("id") < RecallQueries)
      b -> Similarity.bruteForceTopK(corpus, sample, "id", "id", "v", K).collect()
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    }.toMap
    val recalls = mutable.ArrayBuffer[Double]()
    val ivfBad = ivfOut.count { case (b, _, res) =>
      val err = res match {
        case Left(msg) => Some(msg)
        case Right(rows) =>
          val qs = in.queries(b)
          val byQ = rows.groupBy(_.getLong(0))
          val wrong = qs.indices.count { q =>
            val rs = byQ.getOrElse(q.toLong, Array.empty[Row]).sortBy(_.getInt(2))
            val sims = rs.map(_.getDouble(3))
            if (q < RecallQueries)
              recalls += rs.count(r => exact(b)(q.toLong).contains(r.getLong(1))).toDouble / K
            !(rs.length == K && rs.map(_.getInt(2)).toSeq == (1 to K) &&
              sims.sliding(2).forall(p => p.length < 2 || p(0) >= p(1)) &&
              rs.forall(r => math.abs(r.getDouble(3) -
                Refs.cosine(qs(q), in.vectors(r.getLong(1).toInt))) < 1e-9))
          }
          if (wrong == 0) None else Some(s"ivfTopK batch $b: $wrong of ${qs.length} queries malformed")
      }
      err.foreach(failures += _); err.isDefined
    }
    val sh = in.docs.map(CorpusGen.shingles(_))
    val mhBad = mhOut.count { case (_, res) =>
      val err = res match {
        case Left(msg) => Some(msg)
        case Right(rows) =>
          val found = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
          val missed = in.mustFind.count(p => !found.contains(p))
          val wrongJ = rows.count { r =>
            val j = CorpusGen.jaccard(sh(r.getLong(0).toInt), sh(r.getLong(1).toInt))
            math.abs(j - r.getDouble(2)) > 1e-9 || j < MinhashThreshold
          }
          if (missed == 0 && wrongJ == 0) None
          else Some(s"minhashPairs: $missed planted pairs missed, $wrongJ pairs with a wrong jaccard")
      }
      err.foreach(failures += _); err.isDefined
    }
    lazy val bmRef = Refs.bm25(in.docs, in.bm25Queries, K)
    val bmBad = bmOut.count { case (_, res) =>
      val err = res match {
        case Left(msg) => Some(msg)
        case Right(rows) =>
          val got = rows.groupBy(_.getLong(0)).map { case (q, rs) =>
            q -> rs.sortBy(_.getLong(1)).map(r => (r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
          }
          val wrong = in.bm25Queries.count(q => got.getOrElse(q, Seq.empty) != bmRef(q))
          if (wrong == 0) None else Some(s"bm25MoreLikeThis: $wrong of ${in.bm25Queries.size} queries differ")
      }
      err.foreach(failures += _); err.isDefined
    }
    // queries answered over the time of every IVF call; the other rates
    // are medians over calls
    val qps = ivfOut.map(o => in.queries(o._1).length).sum / ivfOut.map(_._2).sum
    val docsPerS = Stats.median(mhOut.toSeq.map(in.docs.length / _._1))
    val recall = recalls.sum / recalls.size
    Outcome(ivfOut.size + mhOut.size + bmOut.size, ivfBad + mhBad + bmBad, failures.toSeq,
      endToEnd = Seq(Metric("throughput_per_s", qps, "1/s"),
        Metric("p50_s", Stats.median(unitSecs.toSeq), "s"),
        Metric("answer_recall", recall, "ratio")),
      named = Seq(Metric("retrieval.queries_per_s", qps, "1/s"),
        Metric("retrieval.recall_at_10", recall, "ratio"),
        Metric("dedup.docs_per_s", docsPerS, "1/s"),
        Metric("bm25.queries_per_s", Stats.median(bmOut.toSeq.map(in.bm25Queries.size / _._1)), "1/s"),
        Metric("corpus.unit_p90_s", Stats.pct(unitSecs.toSeq, 90), "s"),
        Metric("corpus.units", unitSecs.size, "count")))
  }
}
