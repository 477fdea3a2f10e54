package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.queries.Inventory.cosineSim

/** Approximate-nearest-neighbor search over embedding columns.
  *
  * Scale design: brute force is the exactness baseline (one broadcast of
  * the query set, full corpus scan, top-k via the bounded-heap TopK aggregate — linear, no
  * all-pairs materialization). The scale path is sign-LSH bucketing:
  * corpus bucketed once (16-bit code → 65k buckets), queries probe their
  * own bucket plus multiprobe neighbors (Hamming-1 flips), candidates
  * re-ranked exactly. At 100 TB the bucketed corpus is also the natural
  * partitioning/bucketing key for storage, so probes prune partitions.
  */
object Similarity {

  /** dot(vec, plane_b) > 0 bit per plane, packed into a long bucket id.
    * Native Catalyst expression ([[graft.functions.SignBucket]]): all
    * nbits hyperplane projections in one allocation-free codegen'd pass
    * (planes are derived splitmix64(seed, bit, dim) — deterministic,
    * reproducible buckets, no plane matrix to ship). */
  def signBucket(vec: Column, nbits: Int = 16, seed: Long = 7L): Column =
    graft.functions.Vecs.signBucket(vec, nbits, seed)

  /** All Hamming-1 neighbors of a bucket id (multiprobe set). */
  def probeSet(bucket: Column, nbits: Int = 16): Column =
    array_union(array(bucket),
      array((0 until nbits).map(i => bucket.bitwiseXOR(lit(1L << i))): _*))


  /** (qid, id, sim) → exact per-query top-k via the bounded-heap
    * [[graft.functions.TopKAgg]] aggregate: map-side partial heaps, at
    * most k rows per qid cross the shuffle, no partition sort — the
    * window-rank idiom it replaces sorted every candidate per query.
    * Tie-break matches the window form (sim desc, id asc) by keeping
    * the largest (sim, -id) struct.
    */
  private def topkRank(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy("qid")
      .agg(graft.functions.TopKAgg.topK(
        struct(col("sim"), (-col("id")).as("nid")), k).as("t"))
      .select(col("qid"), posexplode(col("t")).as(Seq("i", "s")))
      .select(col("qid"), (-col("s.nid")).as("id"),
        (col("i") + 1).cast("int").as("rank"), col("s.sim").as("sim"))

  /** Exact top-k by cosine for each query vector (brute force).
    * queries: (qidCol, vecCol) — small, broadcast; corpus: (idCol,
    * vecCol). Returns (qid, id, rank, sim).
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                     qidCol: String, vecCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
    val q = queries.select(col(qidCol).as("qid"), col(vecCol).cast("array<double>").as("qv"))
    topkRank(
      c.crossJoin(broadcast(q))
        .select(col("qid"), col("id"), cosineSim(col("v"), col("qv")).as("sim")),
      k)
  }

  /** ANN top-k via sign-LSH: bucket corpus once, explode each query to
    * its multiprobe buckets, equi-join (shuffle on bucket — no cross
    * join anywhere), exact re-rank within candidates. Recall < 1 by
    * construction; raise nbits/probes for precision, lower for speed.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              qidCol: String, vecCol: String, k: Int, nbits: Int = 16): DataFrame = {
    val c = corpus
      .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .withColumn("bucket", signBucket(col("v"), nbits))
      .localCheckpoint()   // bucket join must see attributes (inferred
                           // IS NOT NULL would inline the plane dot-products)
    val q = queries
      .select(col(qidCol).as("qid"), col(vecCol).cast("array<double>").as("qv"))
      .withColumn("bucket", explode(probeSet(signBucket(col("qv"), nbits), nbits)))
      .localCheckpoint()
    topkRank(
      c.join(q, Seq("bucket"))
        .select(col("qid"), col("id"), cosineSim(col("v"), col("qv")).as("sim"))
        .groupBy("qid", "id").agg(first(col("sim")).as("sim")),   // probe dedup
      k)
  }

  /** IVF-style coarse quantization: assign every vector to its nearest
    * of `centroids` (a driver-side array — nlist is small and bounded,
    * e.g. ≤4096, the standard IVF regime). Returns corpus + `list_id`.
    * Search = probe the nprobe nearest lists only. Centroid selection
    * here is deterministic sampling (vec_id stride); a k-means refiner
    * can replace it without changing the search path.
    */
  def ivfAssign(corpus: DataFrame, idCol: String, vecCol: String,
                centroids: Array[(Long, Array[Double])]): DataFrame = {
    val c = corpus.select(col(idCol), col(vecCol).cast("array<double>").as("v"))
    // argmin over the codebook via the codegen'd NearestLists kernel
    // (nprobe=1): same (dist, cid) lexicographic ordering the earlier
    // array_min(transform(...)) struct formulation had, but one static
    // call inside WholeStageCodegen instead of an interpreted HOF with
    // one struct alloc per centroid per row.
    c.withColumn("list_id",
      element_at(graft.functions.Vecs.nearestLists(col("v"), centroids, 1), 1))
  }

  /** Deterministic centroid pick for IVF: every ceil(n/nlist)-th vector
    * by id order (collect of nlist small rows — the centroid table is a
    * driver-side artifact by design, exactly like a trained k-means
    * codebook would be). */
  def sampleCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                      nlist: Int): Array[(Long, Array[Double])] = {
    val n = corpus.count()
    val stride = math.max(1L, n / nlist)
    corpus.select(col(idCol).cast("long").as("id"), col(vecCol).cast("array<double>").as("v"))
      .filter(pmod(col("id"), lit(stride)) === 0)
      .orderBy("id").limit(nlist)
      .collect()
      .zipWithIndex
      .map { case (r, i) => (i.toLong, r.getSeq[Double](1).toArray) }
  }

  /** Brute-force top-k over int8-quantized codes: corpus and queries
    * carry array<tinyint> codes (4–8× smaller than floats — what the
    * 100 TB store would actually hold); the per-vector scale cancels
    * out of cosine, so scoring is pure integer dot products with no
    * dequantization. Approximate only through quantization error —
    * recall vs exact float search asserted in the spec.
    */
  def bruteForceTopKQ8(corpus: DataFrame, queries: DataFrame, idCol: String,
                       qidCol: String, vecCol: String, k: Int): DataFrame = {
    import graft.functions.Vecs.{cosineI8, quantizeI8}
    val c = corpus.select(col(idCol).as("id"),
      quantizeI8(col(vecCol).cast("array<double>")).as("qc"))
    val q = queries.select(col(qidCol).as("qid"),
      quantizeI8(col(vecCol).cast("array<double>")).as("qq"))
    topkRank(
      c.crossJoin(broadcast(q))
        .select(col("qid"), col("id"), cosineI8(col("qc"), col("qq")).as("sim")),
      k)
  }

  /** Radius (threshold) search over int8 codes: every (query, corpus)
    * pair with cosine ≥ tau — the near-duplicate-screen shape (a fixed
    * similarity bar) as opposed to top-k's fixed result count. Same
    * integer-dot-product scoring as [[bruteForceTopKQ8]], but the
    * threshold is a scan-level filter: unlike top-k there is NO
    * aggregate and NO shuffle — the whole operator is a broadcast
    * projection + filter over the corpus scan, embarrassingly parallel
    * at any corpus size (IVF/LSH probe pruning composes in front of it
    * exactly as for top-k when the query batch is large). */
  def rangeSearchQ8(corpus: DataFrame, queries: DataFrame, idCol: String,
                    qidCol: String, vecCol: String, tau: Double): DataFrame = {
    import graft.functions.Vecs.{cosineI8, quantizeI8}
    val c = corpus.select(col(idCol).as("id"),
      quantizeI8(col(vecCol).cast("array<double>")).as("qc"))
    val q = queries.select(col(qidCol).as("qid"),
      quantizeI8(col(vecCol).cast("array<double>")).as("qq"))
    c.crossJoin(broadcast(q))
      .select(col("qid"), col("id"), cosineI8(col("qc"), col("qq")).as("sim"))
      .filter(col("sim") >= tau)
  }

  /** Materialize the corpus IVF-partitioned: one storage partition per
    * list_id. This is the 100 TB shape the in-memory [[ivfTopK]] plan
    * stands in for — with the corpus laid out by coarse cluster, a
    * probe touches only its nprobe directories and the scan never reads
    * the rest of the corpus (see [[ivfTopKStored]]).
    */
  def writeIvfCorpus(corpus: DataFrame, idCol: String, vecCol: String,
                     centroids: Array[(Long, Array[Double])], dir: String): Unit =
    ivfAssign(corpus, idCol, vecCol, centroids)
      .select(col(idCol).as("id"), col("v"), col("list_id"))
      .write.mode("overwrite").partitionBy("list_id").parquet(dir)

  /** IVF top-k over a [[writeIvfCorpus]] store: the union of all
    * queries' nprobe nearest lists (a driver-side set bounded by
    * |queries|·nprobe ≤ nlist — the query batch is the broadcast side
    * by design) becomes a STATIC `list_id IN (...)` partition filter,
    * so the corpus scan lists and reads only the probed directories and
    * the rest of the corpus is never touched — storage-level pruning,
    * the property that makes IVF work when the corpus doesn't fit a
    * cluster's memory. (Spark's dynamic partition pruning would need a
    * selective predicate on the probe side to fire; the explicit IN is
    * deterministic and visible in the scan's PartitionFilters.) Results
    * are identical to [[ivfTopK]] with the same codebook — doubles
    * round-trip parquet exactly.
    */
  def ivfTopKStored(spark: org.apache.spark.sql.SparkSession, dir: String,
                    queries: DataFrame, qidCol: String, vecCol: String, k: Int,
                    centroids: Array[(Long, Array[Double])], nprobe: Int): DataFrame = {
    val assigned = spark.read.parquet(dir)
    val q = queries
      .select(col(qidCol).as("qid"), col(vecCol).cast("array<double>").as("qv"))
      .withColumn("list_id",
        explode(graft.functions.Vecs.nearestLists(col("qv"), centroids, nprobe)))
      .localCheckpoint()
    val probed = q.select("list_id").distinct().collect().map(_.getLong(0))
    topkRank(
      assigned.filter(col("list_id").isin(probed: _*))
        .join(broadcast(q), Seq("list_id"))
        .select(col("qid"), col("id"), cosineSim(col("v"), col("qv")).as("sim")),
      k)
  }

  /** Lloyd's k-means refinement of an IVF codebook: iterate
    * assign-to-nearest ([[ivfAssign]]) → per-list mean. The mean is
    * computed by exploding (list_id, dim_pos, value) and averaging per
    * (list_id, pos) — a rows×dim shuffle, the standard distributed
    * Lloyd step (dim is small and bounded); the new codebook is
    * nlist×dim, collected to the driver like any trained artifact.
    * Empty lists keep their previous centroid. Deterministic given
    * deterministic seeding ([[sampleCentroids]]).
    */
  def kmeansRefine(corpus: DataFrame, idCol: String, vecCol: String,
                   centroids: Array[(Long, Array[Double])],
                   iters: Int = 3): Array[(Long, Array[Double])] = {
    // Each step is a driver collect with no frame to checkpoint, so the
    // loop borrows only the chassis posture; the corpus is its one lazy
    // input, scan-only, so its width is the scan's.
    graft.core.BspLoop.pinned(corpus.sparkSession, corpus) {
      (1 to iters).foldLeft(centroids) { (cents, _) =>
        val means = ivfAssign(corpus, idCol, vecCol, cents)
          .select(col("list_id"), posexplode(col("v")).as(Seq("pos", "x")))
          .groupBy("list_id", "pos").agg(avg(col("x")).as("m"))
          .collect()
          .groupBy(_.getLong(0))
          .map { case (cid, rows) =>
            cid -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toArray
          }
        cents.map { case (cid, old) => (cid, means.getOrElse(cid, old)) }
      }
    }
  }

  /** Train product-quantization codebooks (Jégou et al. 2011, "Product
    * Quantization for Nearest Neighbor Search", TPAMI): split the
    * dimension into `m` subspaces and k-means each subspace to `ksub`
    * centroids. Training runs on a deterministic stride sample
    * collected to the driver (same bounded-artifact rule as
    * [[sampleCentroids]]/[[kmeansRefine]]: a codebook is m·ksub·dsub
    * doubles regardless of corpus size; at 100 TB you train on a
    * sample by definition). Deterministic: stride sample, stride init,
    * fixed Lloyd iteration count, first-index tie-breaks.
    */
  def trainPq(corpus: DataFrame, idCol: String, vecCol: String, m: Int,
              ksub: Int, sampleN: Int = 512, iters: Int = 5): Array[Array[Array[Double]]] = {
    val n = corpus.count()
    val stride = math.max(1L, n / sampleN)
    val vecs = corpus
      .select(col(idCol).cast("long").as("id"), col(vecCol).cast("array<double>").as("v"))
      .filter(pmod(col("id"), lit(stride)) === 0)
      .orderBy("id").limit(sampleN)
      .collect().map(_.getSeq[Double](1).toArray)
    require(vecs.nonEmpty, "PQ training sample is empty")
    val dim = vecs(0).length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val dsub = dim / m
    Array.tabulate(m) { s =>
      val sub = vecs.map(v => java.util.Arrays.copyOfRange(v, s * dsub, (s + 1) * dsub))
      var cents = Array.tabulate(ksub)(j => sub((j * sub.length / ksub) % sub.length).clone())
      var it = 0
      while (it < iters) {
        val sums = Array.fill(ksub)(new Array[Double](dsub))
        val cnt = new Array[Int](ksub)
        sub.foreach { x =>
          var best = 0; var bd = Double.MaxValue
          var j = 0
          while (j < ksub) {
            var d = 0.0; var i = 0
            while (i < dsub) { val t = x(i) - cents(j)(i); d += t * t; i += 1 }
            if (d < bd) { bd = d; best = j }
            j += 1
          }
          var i = 0
          while (i < dsub) { sums(best)(i) += x(i); i += 1 }
          cnt(best) += 1
        }
        cents = Array.tabulate(ksub)(j =>
          if (cnt(j) == 0) cents(j) else sums(j).map(_ / cnt(j)))
        it += 1
      }
      cents
    }
  }

  /** IVF-PQ top-k — the shape ANN actually takes at 100 TB, where float
    * vectors don't fit anywhere: the corpus index holds one byte per
    * subspace (m bytes/vector, a 32× compression at m=8 over 64 floats)
    * plus a coarse list id; search is coarse probe (nprobe lists, same
    * [[ivfTopK]] pruning) → asymmetric-distance scoring (each query
    * precomputes an m·ksub lookup table ONCE, then every candidate
    * costs m array reads — no dim-length math per pair) → exact
    * re-rank of the k·`refine` ADC survivors against their full
    * vectors. The refine fetch is a broadcast-candidate hash join
    * against the corpus (candidate set ≤ |queries|·k·refine — tiny), so
    * full vectors are read for survivors only, which is exactly the
    * two-tier storage layout (codes hot, vectors cold) PQ exists to
    * enable. Deterministic end to end; recall vs brute force asserted
    * in SimilaritySpec.
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                qidCol: String, vecCol: String, k: Int,
                centroids: Array[(Long, Array[Double])], nprobe: Int,
                books: Array[Array[Array[Double]]], refine: Int = 4): DataFrame = {
    import graft.functions.Vecs.{pqAdc, pqEncode, pqLut}
    val ksub = books(0).length
    val assigned = ivfAssign(corpus, idCol, vecCol, centroids)
      .select(col(idCol).as("id"), col("v"), col("list_id"),
        pqEncode(col("v"), books).as("codes"))
      .localCheckpoint()   // bucket join must see attributes (see lshTopK)
    val q0 = queries
      .select(col(qidCol).as("qid"), col(vecCol).cast("array<double>").as("qv"))
      .withColumn("lut", pqLut(col("qv"), books))
      .localCheckpoint()
    val q = q0.select(col("qid"), col("lut"),
      explode(graft.functions.Vecs.nearestLists(col("qv"), centroids, nprobe)).as("list_id"))
    // ADC candidate generation: bounded-heap top (k·refine) per query,
    // scored from codes + the per-query LUT only
    val cand = assigned.select(col("id"), col("list_id"), col("codes"))
      .join(q, Seq("list_id"))
      .select(col("qid"), col("id"), pqAdc(col("codes"), col("lut"), ksub).as("adc"))
      .groupBy("qid")
      .agg(graft.functions.TopKAgg.topK(
        struct(col("adc"), (-col("id")).as("nid")), k * refine).as("t"))
      .select(col("qid"), explode(col("t")).as("s"))
      .select(col("qid"), (-col("s.nid")).as("id"))
    // exact refine: full vectors for the tiny candidate set only
    topkRank(
      assigned.select(col("id"), col("v")).join(broadcast(cand), Seq("id"))
        .join(broadcast(q0.select(col("qid"), col("qv"))), Seq("qid"))
        .select(col("qid"), col("id"), cosineSim(col("v"), col("qv")).as("sim")),
      k)
  }

  /** Batch kNN JOIN — corpus × query-TABLE retrieval, the shape a
    * training-data pipeline actually runs (retrieval eval over a whole
    * eval set, SemDeDup candidate generation, hard-negative mining):
    * unlike [[bruteForceTopK]]/[[ivfTopK]]'s broadcast-a-handful-of-
    * vectors regime, the query side here is a DataFrame of arbitrary
    * size, so nothing is broadcast and no cartesian/BNLJ may appear
    * anywhere in the plan.
    *
    * Shape (every stage an equi-join or a bounded aggregate):
    *  1. IVF-assign BOTH sides against the shared codebook — corpus to
    *     its single nearest list, queries exploded to their `nprobe`
    *     nearest (so each (qid, id) candidate pair arises at most once:
    *     the corpus id lives in exactly one list).
    *  2. Probe = shuffle equi-join on `list_id`. At 100 TB the corpus
    *     is stored partitioned by list_id ([[writeIvfCorpus]]), so this
    *     join co-locates by the storage key and each probe partition
    *     streams one list; work is |corpus|·nprobe/nlist pairs, never
    *     |corpus|·|queries|.
    *  3. Candidate scoring on int8 codes ([[graft.functions.Vecs
    *     .cosineI8]] — the m-byte-per-vector tier the index would hold
    *     hot), pruned to k·`refine` per query by the bounded-heap
    *     [[graft.functions.TopKAgg]]: map-side partial heaps, at most
    *     k·refine rows per qid cross the shuffle.
    *  4. Exact re-rank: survivors (|queries|·k·refine rows) fetch full
    *     vectors by TWO equi-joins (corpus on id, queries on qid) and
    *     re-score in float — the two-tier codes-hot/vectors-cold
    *     layout of [[ivfPqTopK]], generalized to an unbounded query
    *     side. Returned sims are bit-identical to brute force for the
    *     ids returned (SimilaritySpec asserts), recall < 1 only
    *     through coarse-probe misses.
    */
  def ivfKnnJoin(corpus: DataFrame, queries: DataFrame, idCol: String,
                 qidCol: String, vecCol: String, k: Int,
                 centroids: Array[(Long, Array[Double])], nprobe: Int,
                 refine: Int = 4): DataFrame = {
    import graft.functions.Vecs.{cosineI8, quantizeI8}
    val assigned = ivfAssign(corpus, idCol, vecCol, centroids)
      .select(col(idCol).as("id"), col("v"), col("list_id"),
        quantizeI8(col("v")).as("cc"))
      .localCheckpoint()   // bucket join must see attributes (see lshTopK)
    val q0 = queries
      .select(col(qidCol).as("qid"), col(vecCol).cast("array<double>").as("qv"))
      .localCheckpoint()
    val q = q0.select(col("qid"), quantizeI8(col("qv")).as("qq"),
        explode(graft.functions.Vecs.nearestLists(col("qv"), centroids, nprobe))
          .as("list_id"))
      .localCheckpoint()
    val cand = assigned.select(col("id"), col("list_id"), col("cc"))
      .join(q, Seq("list_id"))
      .select(col("qid"), col("id"), cosineI8(col("cc"), col("qq")).as("s8"))
      .groupBy("qid")
      .agg(graft.functions.TopKAgg.topK(
        struct(col("s8"), (-col("id")).as("nid")), k * refine).as("t"))
      .select(col("qid"), explode(col("t")).as("s"))
      .select(col("qid"), (-col("s.nid")).as("id"))
    topkRank(
      cand.join(assigned.select(col("id"), col("v")), Seq("id"))
        .join(q0, Seq("qid"))
        .select(col("qid"), col("id"), cosineSim(col("v"), col("qv")).as("sim")),
      k)
  }

  /** IVF top-k search: corpus bucketed once by nearest centroid
    * ([[ivfAssign]]); each query probes only its `nprobe` nearest lists
    * and re-ranks candidates exactly. The probe join is an equi-join on
    * list_id — at scale the corpus is partitioned/bucketed by list_id on
    * storage, so probes prune partitions instead of scanning. Recall
    * grows with nprobe (nprobe = nlist degenerates to exact brute force
    * over an extra shuffle).
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              qidCol: String, vecCol: String, k: Int,
              centroids: Array[(Long, Array[Double])], nprobe: Int): DataFrame = {
    val assigned = ivfAssign(corpus, idCol, vecCol, centroids)
      .select(col(idCol).as("id"), col("v"), col("list_id"))
      .localCheckpoint()   // bucket join must see attributes (see lshTopK)
    // nprobe nearest lists per query via the codegen'd NearestLists
    // kernel — one static call per row, no interpreted struct sort.
    val q = queries
      .select(col(qidCol).as("qid"), col(vecCol).cast("array<double>").as("qv"))
      .withColumn("list_id",
        explode(graft.functions.Vecs.nearestLists(col("qv"), centroids, nprobe)))
      .localCheckpoint()
    topkRank(
      assigned.join(q, Seq("list_id"))
        .select(col("qid"), col("id"), cosineSim(col("v"), col("qv")).as("sim")),
      k)
  }

  /** Integer centroid table for nearest-centroid classification over
    * int8-quantized vectors: per label, member count and per-dimension
    * code sums — the exact-arithmetic artifact
    * [[graft.functions.Vecs.nearestLabelQ8]] scores against (the
    * trained-classifier analogue of the IVF codebook: ONE eager bounded
    * aggregation, labels × dims longs on the driver). Shared by the
    * batch emb_classify query and its streaming twin so the two paths
    * can never train different tables. `None` on an empty corpus. */
  def labelCentroidsQ8(q: DataFrame, labelCol: String, qiCol: String)
      : Option[(Array[Long], Array[Long], Array[Long])] = {
    val centRows = q.select(col(labelCol).as("label"),
        posexplode(col(qiCol)).as(Seq("pos", "v")))
      .groupBy("label", "pos")
      .agg(count(lit(1)).as("n"), sum(col("v").cast("long")).as("s"))
      .collect()
    if (centRows.isEmpty) None
    else {
      val labels = centRows.map(_.getLong(0)).distinct.sorted
      val dims = centRows.map(_.getInt(1)).max + 1
      val li = labels.zipWithIndex.toMap
      val ns = new Array[Long](labels.length)
      val sums = new Array[Long](labels.length * dims)
      centRows.foreach { r =>
        val i = li(r.getLong(0))
        ns(i) = r.getLong(2)
        sums(i * dims + r.getInt(1)) = r.getLong(3)
      }
      Some((labels, ns, sums))
    }
  }
}
