package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables.t
import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis}

/** LLM-data-pipeline operators (BASELINE.json north star) as declared
  * queries over the documents/embeddings testdata. Deterministic
  * operators carry DuckDB oracles ([[ExtensionOracles]]); sketch/LSH
  * operators (seeded hashes DuckDB can't replicate) are rows-only at the
  * driver and bound by ScalaTest instead.
  */
object Extensions {

  /** The one split spec both the corpus_split query and its DuckDB
    * oracle derive from (thresholds via [[graft.operators.CorpusSplit
    * .hexThresholds]]) — a weight change re-derives both sides. */
  val corpusSplitSpec: Seq[(String, Double)] =
    Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)

  /** Exact dedup by content hash (hash-groupBy, one shuffle). The
    * group key is md5(text), NOT text: the shuffle then carries 16-byte
    * hashes instead of every byte of the corpus — at 100 TB grouping by
    * the raw text would ship the whole dataset through the exchange.
    * (The output was already keyed by md5, so hash-grouping changes
    * nothing short of an md5 collision, which the hash-keyed output
    * could not represent anyway.) */
  def dedupExact(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(md5(col("text")).as("text_hash"), col("doc_id"))
      .groupBy(col("text_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))
      .orderBy("text_hash")

  /** URL-keyed exact dedup ([[graft.operators.Dedup.urlNormalize]] →
    * group on the canonical form) — the first pass of every crawl
    * pipeline, run on the frontier BEFORE content downloads. The
    * testdata has no URL column, so the query derives a listing URL per
    * order row from its keys (the same synthesize-then-operate pattern
    * as q1's uniq_id), with deterministic cosmetic noise keyed off
    * o_orderkey — host case, `www.`, default `:443` port, trailing
    * slash, `utm_*` params, `#fragment` — so different orders of the
    * same customer spell the same canonical listing URL five-plus
    * different ways. Normalization collapses them to one row per
    * customer listing. Oracle-checked: DuckDB synthesizes the same raw
    * URLs and runs the identical normalization chain (the regexes live
    * in the RE2 ∩ Java-regex common subset; DuckDB's replace-first
    * default gets the 'g' flag where Spark replaces all). */
  /** The synthesized raw-URL frontier [[dedupUrl]] runs on (also the
    * corpus UrlDedupSpec fuzzes the kernel ≡ reference equality over). */
  def synthUrls(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").select(col("o_orderkey"),
      concat(
        lit("https://"),
        when(col("o_orderkey") % 2 === 0, lit("WWW.Example.COM")).otherwise(lit("example.com")),
        when(col("o_orderkey") % 3 === 0, lit(":443")).otherwise(lit("")),
        lit("/cat"), (col("o_custkey") % 10).cast("string"),
        lit("/d/listing/"), col("o_custkey").cast("string"),
        when(col("o_orderkey") % 5 === 0, lit("/")).otherwise(lit("")),
        lit("?"),
        when(col("o_orderkey") % 2 === 1, lit("utm_source=feed&")).otherwise(lit("")),
        lit("id="), (col("o_custkey") % 7).cast("string"),
        when(col("o_orderkey") % 4 === 1, lit("&utm_campaign=x")).otherwise(lit("")),
        when(col("o_orderkey") % 7 === 0, lit("#frag")).otherwise(lit(""))).as("url"))

  def dedupUrl(s: SparkSession, dir: String): DataFrame =
    Dedup.urlDedup(synthUrls(s, dir), "url", "o_orderkey").orderBy("norm_url")

  /** A multi-host frontier for [[domainQuota]]: 23 synthetic hosts
    * keyed off o_custkey, with the same cosmetic-noise classes as
    * [[synthUrls]] (host case, `www.`, default `:443` port, a tracking
    * param) so the cap is counted against the CANONICAL host. Paths are
    * keyed off o_orderkey, so every row is a distinct URL — quota, not
    * dedup, decides what survives. */
  def synthHostUrls(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").select(col("o_orderkey"),
      concat(
        lit("https://"),
        when(col("o_orderkey") % 3 === 0, lit("WWW.")).otherwise(lit("")),
        when(col("o_orderkey") % 2 === 0, lit("H")).otherwise(lit("h")),
        (col("o_custkey") % 23).cast("string"),
        lit(".example.com"),
        when(col("o_orderkey") % 4 === 0, lit(":443")).otherwise(lit("")),
        lit("/item/"), col("o_orderkey").cast("string"),
        when(col("o_orderkey") % 5 === 0, lit("?utm_source=feed")).otherwise(lit(""))).as("url"))

  /** Per-host quota ([[graft.operators.Dedup.domainQuota]], cap 10):
    * canonical host, URL count, and the 10 smallest kept ids per host.
    * Oracle-checked — DuckDB re-derives the canonical host with the
    * kernel's case/`www.`/port rules and takes the same sorted prefix.
    * Declared outputs are scalar columns only (the driver's comparator
    * can't canonicalize array cells), so the kept set rides as a
    * `;`-joined string; the operator itself keeps the typed array. */
  def domainQuota(s: SparkSession, dir: String): DataFrame =
    Dedup.domainQuota(synthHostUrls(s, dir), "url", "o_orderkey", maxPerHost = 10)
      .select(col("host"), col("n_urls"),
        array_join(col("kept_ids").cast("array<string>"), ";").as("kept_ids"))
      .orderBy("host")

  /** Per-document duplicated-32-token-window report
    * ([[graft.operators.Dedup.substringDupStats]]) — the exact-substring
    * dedup signal. Oracle-checked: window arithmetic, cross-document
    * df, and the rounded fraction are all engine-portable. */
  def dedupSubstring(s: SparkSession, dir: String): DataFrame =
    Dedup.substringDupStats(t(s, dir, "documents"), "doc_id", "text", window = 32)
      .orderBy("doc_id")

  /** Corpus-wide top-50 bigram table
    * ([[graft.operators.TextAnalysis.topNgrams]]), oracle-checked with
    * the deterministic (count DESC, gram) tie-break. */
  def textNgrams(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextAnalysis.topNgrams(t(s, dir, "documents"), "text", n = 2, k = 50)

  /** Count-min-sketch heavy hitters over the token stream — the
    * bounded-memory frequent-items primitive (Cormode & Muthukrishnan
    * 2005) a 100 TB vocabulary census runs when the exact token table
    * no longer fits: the sketch is a fixed ~150 KB array whatever the
    * corpus size, merged associatively map-side (Spark's codegen'd
    * `count_min_sketch` aggregate). ORACLE-GATED (the q8 pattern): the
    * query emits the EXACT deterministic top-20 unigrams (one hash
    * aggregate + TakeOrdered, (cnt DESC, tok) tiebreak — hash-matched
    * in DuckDB) plus two integer gates per row pinned to 0: the
    * one-sided CMS guarantee (estimate ≥ true count, ALWAYS) and the
    * ε-overcount bound (estimate ≤ true + ε·N at ε = 0.001, seed
    * fixed so the sketch is deterministic). The 20-row top plus the
    * sketch bytes are bounded driver artifacts (the IVF-codebook
    * class); the token stream is scanned ONCE (localCheckpoint feeds
    * both the exact aggregate and the sketch). */
  def textHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents")
      .select(explode(graft.functions.Sketches.wordShingles(col("text"), 1)).as("tok"))
      .localCheckpoint()
    val exact = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok")).limit(20).collect()
    val aggRow = toks.agg(
      expr("count_min_sketch(tok, 0.001d, 0.99d, 42)").as("cms"),
      count(lit(1)).as("total")).collect()(0)
    val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(aggRow.getAs[Array[Byte]](0)))
    val total = aggRow.getLong(1)
    val epsN = total / 1000L + 1L
    val out = exact.zipWithIndex.map { case (r, i) =>
      val tok = r.getString(0); val cnt = r.getLong(1)
      val est = cms.estimateCount(tok)
      (i + 1L, tok, cnt,
        if (est >= cnt) 0L else 1L,          // CMS can never undercount
        if (est <= cnt + epsN) 0L else 1L)   // overcount bounded by eps·N
    }
    import s.implicits._
    out.toSeq.toDF("rank", "tok", "cnt", "under_gate", "over_gate")
      .orderBy("rank")
  }

  /** Per-day distinct users via MERGEABLE HLL sketches (Apache
    * DataSketches HllSketch, Spark's `hll_sketch_agg`/`hll_union_agg`)
    * — the property that makes sketches the 100 TB answer: daily
    * sketches are tiny persistent aggregates a warehouse stores per
    * partition, and ANY date-range distinct count is a register-max
    * union of them — no re-scan of the raw events. ORACLE-GATED (the
    * q8 pattern): exact per-day count(DISTINCT) rows hash-matched,
    * each carrying an estimate gate (HLL at lgK = 12 ≈ 1.6% RSE; the
    * 5%+1 window is 3σ with slack), plus one 'ALL' row whose gate
    * checks the UNION path — the merged-sketch estimate against the
    * exact overall distinct — so both the per-partition sketch and
    * the merge algebra are certified at the driver. */
  def eventsHllDaily(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events").select(to_date(col("ts")).as("day"), col("user_id"))
    val daily = e.groupBy("day").agg(
        countDistinct(col("user_id")).as("n_exact"),
        expr("hll_sketch_agg(user_id, 12)").as("sk"))
      .localCheckpoint()   // two consumers: per-day rows + the union
    val dailyRows = daily.select(
      date_format(col("day"), "yyyy-MM-dd").as("day"), col("n_exact"),
      when(abs(expr("hll_sketch_estimate(sk)") - col("n_exact")) <=
             col("n_exact") * 0.05 + 1.0, lit(0L)).otherwise(lit(1L)).as("gate"))
    val allRow = e.agg(countDistinct(col("user_id")).as("n_exact"))
      .crossJoin(broadcast(daily.agg(
        expr("hll_sketch_estimate(hll_union_agg(sk, false))").as("u_est"))))
      .select(lit("ALL").as("day"), col("n_exact"),
        when(abs(col("u_est") - col("n_exact")) <=
               col("n_exact") * 0.05 + 1.0, lit(0L)).otherwise(lit(1L)).as("gate"))
    dailyRows.unionByName(allRow).orderBy("day")
  }

  /** Word-set Jaccard similarity vs a fixed document (doc_id=0), top 50
    * — the exact-verification kernel of n-gram dedup, oracle-checkable.
    * Single-space split for DuckDB parity (library form is regex-based).
    */
  def dedupJaccard(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"),
        graft.functions.Sketches.sortedDistinct(
          split(lower(trim(col("text"))), " ")).as("tok"))
    val q = docs.filter(col("doc_id") === 0).select(col("tok").as("qtok"))
    docs.filter(col("doc_id") > 0)
      .crossJoin(broadcast(q))
      .select(col("doc_id"),
        round(Dedup.jaccardSorted(col("tok"), col("qtok")), 4).as("jaccard"))
      .orderBy(col("jaccard").desc, col("doc_id"))
      .limit(50)
  }

  /** Asymmetric containment |doc ∩ query| / |query| vs the fixed
    * document ([[graft.functions.Sketches.containmentSortedSim]]) — the
    * quote/excerpt detector Jaccard cannot be: a short benchmark prompt
    * embedded verbatim in a long scraped article has near-zero Jaccard
    * (length mismatch dominates the union) but containment ≈ 1, which
    * is why decontamination sweeps rank by containment, not symmetric
    * similarity. Same broadcast-query shape and merge-walk kernel
    * family as [[dedupJaccard]]; oracle-checked. */
  def dedupContainment(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"),
        graft.functions.Sketches.sortedDistinct(
          split(lower(trim(col("text"))), " ")).as("tok"))
    val q = docs.filter(col("doc_id") === 0).select(col("tok").as("qtok"))
    docs.filter(col("doc_id") > 0)
      .crossJoin(broadcast(q))
      .select(col("doc_id"),
        round(graft.functions.Sketches.containmentSortedSim(
          col("tok"), col("qtok")), 4).as("containment"))
      .orderBy(col("containment").desc, col("doc_id"))
      .limit(50)
  }

  /** Char-5-gram Jaccard vs the fixed document — the character-level
    * n-gram dedup kernel (robust to word-boundary edits), oracle-checked
    * against a DuckDB list comprehension. */
  def dedupJaccardChar(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"),
        graft.functions.Sketches.sortedDistinct(
          Dedup.charShingles(col("text"), 5)).as("sg"))
    val q = docs.filter(col("doc_id") === 0).select(col("sg").as("qsg"))
    docs.filter(col("doc_id") > 0)
      .crossJoin(broadcast(q))
      .select(col("doc_id"),
        round(Dedup.jaccardSorted(col("sg"), col("qsg")), 4).as("jaccard"))
      .orderBy(col("jaccard").desc, col("doc_id"))
      .limit(50)
  }

  /** MinHash+LSH near-dup VERIFIED PAIRS, ORACLE-CHECKED (round 19 —
    * converted from rows-only): the banded-LSH discovery runs for real
    * (shingle → sign → band → bucket join → exact word-3-gram Jaccard
    * verify, the [[graft.operators.Dedup.minhashPairs]] pipeline), and
    * the DuckDB oracle recomputes the truth set EXHAUSTIVELY — so
    * row-set equality IS the gate: a false pair fails precision (it
    * can't — the verify stage is exact), a lost pair fails recall.
    * The quadratic enumeration lives ONLY oracle-side at the verify SF;
    * the Spark plan stays the banded shape. Determinism of the gate:
    * at 16 bands × 4 rows a pair at Jaccard j misses banding with
    * probability (1−j⁴)¹⁶ — ≤ 2·10⁻⁴ at the fixture's weakest true
    * pair (j = 0.8, sf0.1) and fixed by the seed; ProbeDedupGate
    * measured 0 missed / 0 extra at sf0.001/0.01/0.1. Cluster
    * assignment over these pairs stays covered by [[mmImageNeardup]]
    * and DedupSpec ([[graft.operators.Dedup.clusters]]). */
  def dedupMinhash(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashPairs(t(s, dir, "documents"), "doc_id", "text",
        shingleN = 3, numHashes = 64, bands = 16, threshold = 0.5)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
      .orderBy("id_a", "id_b")

  /** Cluster assignment over [[dedupMinhash]]'s verified pair set —
    * the keep-one-per-group step of MinHash dedup, ORACLE-CHECKED
    * (round 19): since the banded pipeline's verified pairs equal the
    * exhaustive truth at every SF (the [[dedupMinhash]] gate), the
    * contracted-graph clustering ([[graft.operators.Dedup.clusters]]:
    * driver union-find under the 10M-edge bound, distributed min-label
    * propagation above it) is a deterministic function the oracle
    * reproduces INDEPENDENTLY — a recursive symmetric-closure CTE over
    * the same truth pairs, component id = min member — with no
    * union-find mirroring. */
  def dedupMinhashClusters(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text",
        shingleN = 3, numHashes = 64, bands = 16, threshold = 0.5)
      .localCheckpoint()   // candidate generation runs once
    Dedup.clusters(docs.select("doc_id"), "doc_id", pairs)
      .select(col("id").as("doc_id"), col("cluster_id"))
      .orderBy("doc_id")
  }

  /** Cross-source near-dup overlap triage, ORACLE-CHECKED (round 19):
    * which sources mirror each other — the report that drives
    * source-level dedup decisions (drop a scraped mirror wholesale
    * instead of fighting it document by document). The verified
    * near-dup pair set ([[dedupMinhash]]'s banded pipeline — equal to
    * the exhaustive truth, see its gate) is joined to the doc→source
    * map on each side (two broadcast-sized skinny joins riding the
    * pair frame) and aggregated per unordered source pair
    * (least/greatest normalization). Scale shape: the pair set is
    * orders of magnitude smaller than the corpus (it survived banding
    * AND exact verification), so the rollup is a trivial groupBy; the
    * heavy lifting stays in the banded discovery. */
  def corpusOverlap(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text",
        shingleN = 3, numHashes = 64, bands = 16, threshold = 0.5)
    val srcMap = docs.select(col("doc_id"), col("source"))
    pairs
      .join(srcMap.select(col("doc_id").as("id_a"), col("source").as("sa")), "id_a")
      .join(srcMap.select(col("doc_id").as("id_b"), col("source").as("sb")), "id_b")
      .select(least(col("sa"), col("sb")).as("src_a"),
        greatest(col("sa"), col("sb")).as("src_b"), col("jaccard"))
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("n_pairs"), round(max(col("jaccard")), 4).as("max_jaccard"))
      .orderBy("src_a", "src_b")
  }

  /** The exact-verification stage of MinHash dedup as an oracle-checked
    * query: deterministic candidate blocking (exact text length —
    * candidate generation by equi-join, the same shape as the LSH band
    * join, with the same hot-bucket guard) followed by the exact
    * char-5-gram Jaccard verify kernel. The seeded LSH banding itself
    * is bound in DedupSpec (DuckDB can't replicate xxhash64); this row
    * proves the verify kernel — the part that decides what actually
    * gets deduped — matches an independent engine bit-for-bit.
    * Blocking is exact length (not a coarse range): coarse buckets
    * concentrate O(bucket²) pairs on few keys (measured 1.2M pairs at
    * sf0.1 with 50-char buckets vs 25k exact), and the ≤100 guard
    * bounds any degenerate bucket exactly like [[Dedup.candidatePairs]].
    */
  def dedupMinhashVerify(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents")
      .select(col("doc_id"), length(col("text")).cast("long").as("lb"), col("text"))
    // bucket sizes via groupBy (map-side combine) + broadcast back: the
    // earlier window-count formulation shuffled every full text by lb;
    // this never shuffles texts at all. Shingles are then computed for
    // SURVIVORS only — the old shape materialized (and checkpointed)
    // char-5-gram arrays for the whole corpus before pruning.
    val keep = base.groupBy("lb").agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") <= 100 && col("bsz") > 1)
      .select("lb")
    val pruned = base.join(broadcast(keep), Seq("lb"))
      .select(col("lb"), col("doc_id"),
        graft.functions.Sketches.sortedDistinct(
          Dedup.charShingles(col("text"), 5)).as("sg"))
      .localCheckpoint()   // keep the shingle expr out of inferred join filters
    val a = pruned.select(col("lb"), col("doc_id").as("id_a"), col("sg").as("sg_a"))
    val b = pruned.select(col("lb"), col("doc_id").as("id_b"), col("sg").as("sg_b"))
    // shuffle-hash, never broadcast: the build side carries the shingle
    // arrays, and broadcast-serializing ~300 strings per row costs more
    // than the whole shuffled join (measured 2.4s vs 0.7s at sf0.1) —
    // and a broadcast side that scales with the corpus is wrong at
    // 100 TB anyway
    a.join(b.hint("shuffle_hash"), Seq("lb"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(Dedup.jaccardSorted(col("sg_a"), col("sg_b")), 4).as("jaccard"))
      .filter(col("jaccard") >= 0.2)
      .orderBy("id_a", "id_b")
  }

  /** SimHash near-dup discovery, ORACLE-GATED (round 19 — converted
    * from rows-only via the planted-twin + recall-floor pattern of
    * [[dedupSemantic]]/[[annLsh]]): every 9th document gets a textual
    * twin at `doc_id + 100000` — the same text with two tokens
    * appended (" zq<d%7>"), a deterministic closed-form edit — and the
    * REAL banded-SimHash pipeline ([[graft.operators.Dedup
    * .simhashPairs]]: 64-bit token-weighted simhash, 4×16-bit band
    * collision, Hamming ≤ 10 verify) runs over the combined corpus.
    * Emitted rows are the planted pairs with their EXACT word-3-gram
    * Jaccard (equi-join by construction — never a pair enumeration),
    * which the oracle recomputes bit-for-bit; `recall_gate` = 0 iff
    * the simhash path rediscovered ≥ 70% of the plant (measured
    * 93–96% across SFs, fixed by the seed — the floor catches broken
    * banding/hamming, where twin self-similarity itself is lost).
    * The simhash VALUE never rides in the output (seeded, engine-
    * specific); DedupSpec pins the kernel behavior. */
  /** Loud guard for the planted-twin scheme (r19 ADVICE): twins live at
    * `id + 100000`, so an organic id ≥ 100000 at a larger SF would
    * silently collide — corrupting the corpus AND the recall/precision
    * gates instead of failing. One bounded 1-row driver aggregate per
    * call (the [[graft.operators.TextAnalysis.bm25RequireI64Envelope]]
    * treatment): the fixture's closed-form oracle requires the fixed
    * offset, so the guard enforces the fixture's premise explicitly. */
  private def requireTwinIdHeadroom(df: DataFrame, idCol: String,
                                    query: String): Unit = {
    val row = df.agg(max(col(idCol)).cast("long")).head()
    val m = if (row.isNullAt(0)) -1L else row.getLong(0)
    require(m < 100000L,
      s"$query: planted-twin ids (id + 100000) collide with organic ids " +
        s"(max $idCol = $m >= 100000); raise the twin offset above max(id)")
  }

  def dedupSimhash(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    requireTwinIdHeadroom(docs, "doc_id", "dedup_simhash")
    val twins = docs.filter(col("doc_id") % 9 === 0)
      .select((col("doc_id") + 100000L).as("doc_id"),
        concat(col("text"), lit(" zq"), (col("doc_id") % 7).cast("string")).as("text"))
    val corpus = docs.unionByName(twins)
    // planted ids are disjoint from organics (≥ 100000) and twin-twin /
    // cross pairs can never satisfy id_b = id_a + 100000, so this
    // filter counts exactly the rediscovered plant
    val nFound = Dedup.simhashPairs(corpus, "doc_id", "text", maxHamming = 10)
      .filter(col("id_b") === col("id_a") + 100000L)
      .agg(count(lit(1)).as("n_found"))
    val shingled = corpus.select(col("doc_id"),
        graft.functions.Sketches.sortedDistinct(
          Dedup.wordShingles(col("text"), 3)).as("sg"))
      .localCheckpoint()   // keep the shingle expr out of inferred join filters
    val parents = shingled.filter(col("doc_id") % 9 === 0 && col("doc_id") < 100000L)
      .select(col("doc_id").as("id_a"), col("sg").as("sg_a"))
    val twinSg = shingled.filter(col("doc_id") >= 100000L)
      .select((col("doc_id") - 100000L).as("id_a"), col("doc_id").as("id_b"),
        col("sg").as("sg_b"))
    val planted = parents.join(twinSg, "id_a")
      .select(col("id_a"), col("id_b"),
        round(Dedup.jaccardSorted(col("sg_a"), col("sg_b")), 4).as("jaccard"))
      .localCheckpoint()   // two consumers: rows + the plant count
    val nPlanted = planted.agg(count(lit(1)).as("n_planted"))
    planted.crossJoin(broadcast(nFound)).crossJoin(broadcast(nPlanted))
      .select(col("id_a"), col("id_b"), col("jaccard"),
        when(col("n_found") * 100 >= col("n_planted") * 70, lit(0L))
          .otherwise(lit(1L)).as("recall_gate"))
      .orderBy("id_a", "id_b")
  }

  /** Embedding sign-LSH near-dup discovery, ORACLE-GATED (round 19 —
    * converted from rows-only): the raw embeddings table has NO
    * organic pair above cosine 0.52 at any SF (probed), so the gate
    * plants the [[dedupSemantic]] twins — every 7th vector
    * deterministically perturbed at `vec_id + 100000`, twin cosine
    * ≥ 0.99 vs an organic ceiling ≤ 0.61 (margins machine-checked in
    * DedupSpec) — and runs the REAL single-bucket sign-LSH discovery
    * ([[graft.operators.Dedup.embeddingPairs]], 16-bit hyperplane
    * bucket + exact-cosine ≥ 0.9 verify) over the combined corpus.
    * Emitted rows: the planted pairs with exact round-4 cosine
    * (equi-join by construction), oracle-recomputed via DuckDB's
    * indexed list lambda; `recall_gate` = 0 iff sign-LSH rediscovered
    * ≥ 50% of the plant (single-bucket retrieval measured 71–75%
    * across SFs — the multiprobe/IVF paths carry the higher ANN
    * floors); `precision_gate` = 0 iff NO non-planted pair survived
    * the cosine verify (deterministic under the 0.61-vs-0.9 margin —
    * a stray pair means the verify kernel broke). */
  def dedupEmbedding(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    requireTwinIdHeadroom(emb, "vec_id", "dedup_embedding")
    val twins = emb.filter(col("vec_id") % 7 === 0)
      .select((col("vec_id") + 100000L).as("vec_id"),
        expr("transform(v, (x, i) -> x + (cast((vec_id * 31 + i) % 7 as double) - 3.0d) * 0.003d)")
          .as("v"))
    val corpus = emb.unionByName(twins)
    val found = Dedup.embeddingPairs(corpus, "vec_id", "v", threshold = 0.9)
      .localCheckpoint()   // two consumers: the recall and precision counts
    val nFound = found.filter(col("id_b") === col("id_a") + 100000L)
      .agg(count(lit(1)).as("n_found"))
    val nStray = found.filter(col("id_b") =!= col("id_a") + 100000L)
      .agg(count(lit(1)).as("n_stray"))
    val planted = emb.filter(col("vec_id") % 7 === 0)
      .select(col("vec_id").as("id_a"), col("v").as("v_a"))
      .join(twins.select((col("vec_id") - 100000L).as("id_a"),
        col("vec_id").as("id_b"), col("v").as("v_b")), "id_a")
      .select(col("id_a"), col("id_b"),
        round(graft.functions.Vecs.cosineSim(col("v_a"), col("v_b")), 4).as("cosine"))
      .localCheckpoint()   // two consumers: rows + the plant count
    val nPlanted = planted.agg(count(lit(1)).as("n_planted"))
    planted.crossJoin(broadcast(nFound)).crossJoin(broadcast(nStray))
      .crossJoin(broadcast(nPlanted))
      .select(col("id_a"), col("id_b"), col("cosine"),
        when(col("n_found") * 100 >= col("n_planted") * 50, lit(0L))
          .otherwise(lit(1L)).as("recall_gate"),
        when(col("n_stray") === 0, lit(0L)).otherwise(lit(1L)).as("precision_gate"))
      .orderBy("id_a", "id_b")
  }

  /** SemDeDup-class semantic dedup ([[graft.operators.Dedup
    * .semanticDedup]]): the dedup class MinHash structurally can't do —
    * duplicates by MEANING (paraphrase, translation, re-render) found
    * by k-means-clustering the embedding space and comparing cosines
    * only within a cluster. Synthesize-then-operate with a planted
    * truth, the [[mmImageNeardup]] pattern: every 7th vector gets a
    * semantic twin at `vec_id + 100000` — the same vector under a
    * deterministic per-dimension perturbation (‖δ‖ ≈ 0.05 against
    * unit-scale vectors → twin cosine ≥ 0.99) — while the fixture's
    * organic max cross-pair cosine is ≤ 0.61 at every SF (margin
    * machine-checked in DedupSpec). Discovery is REAL (trained
    * codebook, cluster-bounded pair join, exact cosine ≥ 0.9, the
    * shared contracted-graph clustering) but the truth is closed-form,
    * so the oracle never trains k-means: groups ARE the plant —
    * `n_dups = 2 iff vec_id % 7 = 0`. */
  def dedupSemantic(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    requireTwinIdHeadroom(emb, "vec_id", "dedup_semantic")
    val twins = emb.filter(col("vec_id") % 7 === 0)
      .select((col("vec_id") + 100000L).as("vec_id"),
        expr("transform(v, (x, i) -> x + (cast((vec_id * 31 + i) % 7 as double) - 3.0d) * 0.003d)")
          .as("v"))
    val corpus = emb.unionByName(twins)
    val seed = Similarity.sampleCentroids(corpus, "vec_id", "v", nlist = 16)
    val cents = Similarity.kmeansRefine(corpus, "vec_id", "v", seed, iters = 2)
    graft.operators.Dedup.semanticDedup(corpus, "vec_id", "v", cents, threshold = 0.9)
      .orderBy("keep_id")
  }

  /** Exact brute-force top-k twin shared by the ORACLE-GATED ANN
    * queries: the [[embKnnGraph]] shape (5-row probe broadcast, round-4
    * cosine, bounded-heap TopKAgg, (sim DESC, id ASC) ranking) with
    * the probe itself INCLUDED (rank 1 at sim 1.0) — the verification
    * baseline every ANN paper reports recall against, cheap in the
    * 5-probe broadcast regime these queries run in. */
  private def annExactTopK(emb: DataFrame, k: Int): DataFrame =
    annExactTopK(emb, emb.filter(col("vec_id") < 5), k)

  /** [[annExactTopK]] with the probe batch decoupled from the corpus —
    * the filtered-search twin needs queries drawn from the FULL
    * collection while candidates come from the predicate's subset. */
  private def annExactTopK(emb: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val e = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val q = queries.select(col("vec_id").as("qid"),
      col("embedding").cast("array<double>").as("qv"))
    e.crossJoin(broadcast(q))
      .select(col("qid"), col("vec_id").as("id"),
        round(graft.functions.Vecs.cosineSim(col("v"), col("qv")), 4).as("sim"))
      .groupBy("qid")
      .agg(graft.functions.TopKAgg.topK(
        struct(col("sim"), (-col("id")).as("nid")), k).as("t"))
      .select(col("qid"), posexplode(col("t")).as(Seq("i", "s")))
      .select(col("qid"), (col("i") + 1).cast("int").as("rank"),
        (-col("s.nid")).as("id"), col("s.sim").as("sim"))
  }

  /** The q8 gate pattern for ANN: emit the EXACT twin's rows
    * (oracle-matched) plus an integer recall gate the oracle pins to
    * 0 — `recall_gate = 0 iff Σ|ann ∩ exact| ≥ floorPct% of the total
    * exact set` AGGREGATED over the probe batch (per-probe recall is
    * noisy at small SFs; the aggregate is what the SimilaritySpec
    * floors assert) — so index-quality drift hard-fails the driver
    * hash check instead of only a ScalaTest floor. The ANN result
    * itself is engine-specific (bucketing/codebook artifacts) and
    * never rides in the output; the 1-row hit total broadcasts as a
    * scalar (the q4 scalar-subquery shape). */
  private def annGate(exact: DataFrame, ann: DataFrame,
                      floorPct: Int): DataFrame = {
    val exactC = exact.localCheckpoint() // two consumers: rows + hit count
    val hits = exactC.join(ann.select(col("qid"), col("id")).distinct(),
        Seq("qid", "id"), "left_semi")
      .agg(count(lit(1)).as("n_hit"))
    val total = exactC.agg(count(lit(1)).as("n_total"))
    exactC.crossJoin(broadcast(hits)).crossJoin(broadcast(total))
      .select(col("qid"), col("rank"), col("id"), col("sim"),
        when(col("n_hit") * 100 >= col("n_total") * floorPct, lit(0L))
          .otherwise(lit(1L)).as("recall_gate"))
      .orderBy("qid", "rank")
  }

  /** ANN: LSH-bucketed top-10 for 5 query vectors, exact re-rank on
    * candidates. ORACLE-GATED via [[annGate]]: exact brute-force rows
    * hash-matched, aggregate recall ≥ 10% pinned (single-probe sign-LSH
    * retrieves from one bucket only — measured 12–22% across SFs; the
    * floor catches a broken bucketing, where even self-retrieval
    * fails, while the multiprobe/IVF variants carry the higher
    * floors). */
  def annLsh(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val ann = Similarity.lshTopK(emb, emb.filter(col("vec_id") < 5), "vec_id",
      "vec_id", "embedding", k = 10, nbits = 8)   // 256 buckets: dense enough at test SFs
    annGate(annExactTopK(emb, 10), ann, floorPct = 10)
  }

  /** ANN via IVF coarse quantization: nlist=16 deterministic centroids,
    * nprobe=4 lists probed per query, exact re-rank. ORACLE-GATED via
    * [[annGate]] at the 40% SimilaritySpec floor. */
  def annIvf(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val cents = Similarity.sampleCentroids(emb, "vec_id", "embedding", nlist = 16)
    val ann = Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 5), "vec_id",
      "vec_id", "embedding", k = 10, cents, nprobe = 4)
    annGate(annExactTopK(emb, 10), ann, floorPct = 40)  // measured 60-68%
  }

  /** IVF-PQ ANN ([[Similarity.ivfPqTopK]]): [[annIvf]]'s coarse
    * codebook and probe width, 8-subspace × 16-centroid product
    * codebooks trained on a deterministic sample, ADC candidate
    * generation over 8-byte codes, exact re-rank of the survivors.
    * ORACLE-GATED via [[annGate]] at the 40% SimilaritySpec floor
    * (the trained PQ artifacts themselves never ride in the output);
    * determinism and re-rank exactness stay spec-asserted. */
  def annIvfPq(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val cents = Similarity.sampleCentroids(emb, "vec_id", "embedding", nlist = 16)
    val books = Similarity.trainPq(emb, "vec_id", "embedding", m = 8, ksub = 16)
    val ann = Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 5), "vec_id",
      "vec_id", "embedding", k = 10, cents, nprobe = 4, books)
    annGate(annExactTopK(emb, 10), ann, floorPct = 30)  // measured 42-60%
  }

  /** FILTERED vector search — the production primitive every vector
    * store ships (metadata predicate + kNN in one query: "nearest
    * docs WITH label ∈ L"): queries come from the FULL collection,
    * candidates only from the predicate's subset (labels ≡ 1 mod 3,
    * ~30% of vectors). The engine PRE-filters — the IVF codebook is
    * trained on and probes the filtered subset, so candidate
    * generation never touches excluded vectors — rather than
    * post-filtering a full-corpus top-k, the naive composition whose
    * recall collapses as the predicate sharpens (a top-10 over
    * everything may contain zero label-matching rows). At 100 TB the
    * same shape is an IVF corpus partitioned by the predicate
    * columns, probed lists pruned by both the codebook AND the
    * predicate ([[annIvfStored]]'s partition filter with label as a
    * second partition key). ORACLE-GATED via [[annGate]]: the exact
    * twin is brute force over the SAME filtered subset with the same
    * full-collection probes, recall floor 40% (the [[annIvf]] class
    * measured on the subset). */
  def annFiltered(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val sub = emb.filter(col("label") % 3 === 1)
    val queries = emb.filter(col("vec_id") < 5)
    val cents = Similarity.sampleCentroids(sub, "vec_id", "embedding", nlist = 16)
    val ann = Similarity.ivfTopK(sub, queries, "vec_id", "vec_id", "embedding",
      k = 10, cents, nprobe = 4)
    annGate(annExactTopK(sub, queries, 10), ann, floorPct = 40)
  }

  /** ANN over a storage-partitioned IVF corpus: same codebook and probe
    * parameters as [[annIvf]], but the corpus is first materialized
    * `partitionBy(list_id)` and the union of probed lists reaches the
    * scan as a static partition filter — only the probed directories
    * are listed and read ([[Similarity.ivfTopKStored]]). This is the
    * plan the engine runs at 100 TB: scan cost scales with
    * nprobe/nlist, not corpus size. Deliberately NOT [[annGate]]d:
    * the exact twin is a full-corpus brute-force scan — reintroducing
    * exactly the scan-cost-proportional-to-corpus shape this query
    * exists to disprove; its gate stays in SimilaritySpec (equality
    * with the in-memory [[annIvf]] plan + the PartitionFilters
    * pruning), rows-only at the driver. */
  /** One stored IVF corpus per source dir per JVM: the partitioned write
    * is index-build cost, not query cost — repeated bench/correctness
    * invocations reuse it instead of re-writing (and leaking) a temp
    * corpus per call. The codebook is deterministic (stride-sampled), so
    * a cached corpus is identical to a fresh one. Deleted on JVM exit. */
  private val ivfStores = new java.util.concurrent.ConcurrentHashMap[String, String]()
  // tmp roots registered at creation, BEFORE the corpus write — a write
  // that fails midway still gets its partial output cleaned at exit
  // (private[queries]: Streaming's per-dir stores register here too)
  private[queries] val ivfTmpRoots =
    java.util.Collections.synchronizedList(new java.util.ArrayList[java.nio.file.Path]())
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      ivfTmpRoots.forEach { root =>
        try {
          val walk = java.nio.file.Files.walk(root)
          try walk.sorted(java.util.Comparator.reverseOrder())
            .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
          finally walk.close()
        } catch { case _: java.io.IOException => () }
      }))
  }

  private def ivfStore(s: SparkSession, dir: String): String =
    ivfStores.computeIfAbsent(dir, _ => {
      val emb = t(s, dir, "embeddings")
      // the codebook is deterministic (stride-sampled), so the probe
      // side recomputes the same centroids without reading the store
      val cents = Similarity.sampleCentroids(emb, "vec_id", "embedding", nlist = 16)
      val root = java.nio.file.Files.createTempDirectory("graft_ivf_q")
      ivfTmpRoots.add(root)
      val st = root.toString + "/corpus"
      Similarity.writeIvfCorpus(emb, "vec_id", "embedding", cents, st)
      st
    })

  def annIvfStored(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val cents = Similarity.sampleCentroids(emb, "vec_id", "embedding", nlist = 16)
    val store = ivfStore(s, dir)
    Similarity.ivfTopKStored(s, store, emb.filter(col("vec_id") < 5),
      "vec_id", "embedding", k = 10, cents, nprobe = 4)
      .select(col("qid"), col("id"), col("rank"), round(col("sim"), 4).as("sim"))
      .orderBy("qid", "rank")
  }

  /** One stored BASE IVF corpus per dir per JVM for the freshness probe
    * ([[annIvfDelta]]): the 7/8 of vectors with `vec_id % 8 != 7`,
    * codebook trained on that indexed subset only (the staleness
    * premise — the index and its centroids predate the tail). */
  private val ivfBaseStores = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def ivfBaseStore(s: SparkSession, dir: String): String =
    ivfBaseStores.computeIfAbsent(dir, _ => {
      val base = t(s, dir, "embeddings")
        .filter(pmod(col("vec_id"), lit(8L)) =!= 7L)
      val cents = Similarity.sampleCentroids(base, "vec_id", "embedding", nlist = 16)
      val root = java.nio.file.Files.createTempDirectory("graft_ivf_base")
      ivfTmpRoots.add(root)
      val st = root.toString + "/corpus"
      Similarity.writeIvfCorpus(base, "vec_id", "embedding", cents, st)
      st
    })

  /** Merge-on-read ANN FRESHNESS — [[indexInvertedDelta]]'s premise on
    * the vector tier (an IVF index rebuilds on a cadence; vectors land
    * continuously; retrieval must not miss the unindexed tail): the
    * probe unions the STORED base-IVF arm (nprobe = 4 over the indexed
    * 7/8, codebook trained pre-tail) with an EXACT cosine arm over the
    * unindexed tail (`vec_id % 8 = 7`, brute-forced — the tail is small
    * by construction, the flat-tail + IVF serving layout). Shape at
    * scale: base probe cost tracks nprobe/nlist (partition-pruned
    * stored lists), tail cost tracks index staleness, never corpus
    * size. Gate: the [[annIvf]] exact-twin discipline — emits the exact
    * brute-force top-10 with a recall gate pinned to 0, sharing
    * [[ExtensionOracles.annExactTop10]] VERBATIM; floor 50% sits above
    * the base-only measured band's low end (60-68% on the FULL index;
    * the delta arm adds exact coverage of the tail, so a probe that
    * silently dropped the tail arm AND lost IVF recall flips the
    * gate). */
  def annIvfDelta(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val base = emb.filter(pmod(col("vec_id"), lit(8L)) =!= 7L)
    val cents = Similarity.sampleCentroids(base, "vec_id", "embedding", nlist = 16)
    val store = ivfBaseStore(s, dir)
    val q = emb.filter(col("vec_id") < 5)
    val ivfArm = Similarity.ivfTopKStored(s, store, q,
        "vec_id", "embedding", k = 10, cents, nprobe = 4)
      .select(col("qid"), col("id"))
    val qv = q.select(col("vec_id").as("qid"),
      col("embedding").cast("array<double>").as("qv"))
    val tailArm = emb.filter(pmod(col("vec_id"), lit(8L)) === 7L)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .crossJoin(broadcast(qv))
      .select(col("qid"), col("vec_id").as("id"),
        graft.functions.Vecs.cosineSim(col("v"), col("qv")).as("sim"))
      .groupBy("qid")
      .agg(graft.functions.TopKAgg.topK(
        struct(col("sim"), (-col("id")).as("nid")), 10).as("t"))
      .select(col("qid"), posexplode(col("t")).as(Seq("i", "s")))
      .select(col("qid"), (-col("s.nid")).as("id"))
    annGate(annExactTopK(emb, 10), ivfArm.unionByName(tailArm), floorPct = 50)
  }

  /** ANN via a k-means-REFINED IVF codebook: the stride-sampled seed of
    * [[annIvf]] is Lloyd-iterated twice ([[Similarity.kmeansRefine]])
    * before the same probe path runs — the trained-codebook flow of a
    * production IVF index (train on a sample, assign the corpus,
    * search). ORACLE-GATED via [[annGate]] (iterated means aren't
    * DuckDB-reproducible, but the exact twin and the recall gate are);
    * recall at equal nprobe ≥ the stride codebook's stays
    * spec-asserted. */
  def annIvfKmeans(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val seed = Similarity.sampleCentroids(emb, "vec_id", "embedding", nlist = 16)
    val cents = Similarity.kmeansRefine(emb, "vec_id", "embedding", seed, iters = 2)
    val ann = Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 5), "vec_id",
      "vec_id", "embedding", k = 10, cents, nprobe = 4)
    annGate(annExactTopK(emb, 10), ann, floorPct = 40)  // measured 62-70%
  }

  /** Batch kNN join ([[Similarity.ivfKnnJoin]]): every 4th vector is a
    * QUERY — a query TABLE a quarter the corpus size, far past the
    * broadcast regime every other ANN query runs in — and each gets
    * its exact-re-ranked top-5 via IVF-assign-both-sides → equi-join
    * on list_id → int8 candidate scoring → per-query bounded-heap
    * top-k → float re-rank of survivors. No cartesian or BNLJ
    * anywhere (PlanAuditSpec). Deliberately NOT [[annGate]]d: the
    * exact twin at batch-query scale IS the quadratic
    * queries×corpus join this operator exists to avoid — gating it
    * would put a cartesian back into the audited plan; recall vs
    * brute force and re-rank exactness stay asserted in
    * SimilaritySpec, rows-only at the driver. */
  def annKnnJoin(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val cents = Similarity.sampleCentroids(emb, "vec_id", "embedding", nlist = 16)
    Similarity.ivfKnnJoin(emb, emb.filter(col("vec_id") % 4 === 0), "vec_id",
      "vec_id", "embedding", k = 5, cents, nprobe = 4)
      .select(col("qid"), col("id"), col("rank"), round(col("sim"), 4).as("sim"))
      .orderBy("qid", "rank")
  }

  /** ANN over int8-quantized codes: integer-dot-product cosine, no
    * dequantization. Oracle-checked: trunc-based quantization and
    * integer dots are exact in both engines, so even the float ranking
    * agrees bit-for-bit (recall vs float brute force additionally
    * asserted in SimilaritySpec). */
  def annQ8(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.bruteForceTopKQ8(emb, emb.filter(col("vec_id") < 5),
      "vec_id", "vec_id", "embedding", k = 10)
      .select(col("qid"), col("id"), col("rank"), round(col("sim"), 4).as("sim"))
      .orderBy("qid", "rank")
  }

  /** Radius search over int8 codes ([[Similarity.rangeSearchQ8]],
    * tau = 0.25): every pair at or above the similarity bar — the
    * dedup-screen shape. Oracle-checked: scoring is the annQ8 integer
    * chain, and the threshold compares IDENTICAL IEEE doubles on both
    * sides, so the boundary cannot disagree. */
  def annQ8Range(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.rangeSearchQ8(emb, emb.filter(col("vec_id") < 5),
      "vec_id", "vec_id", "embedding", tau = 0.25)
      .select(col("qid"), col("id"), round(col("sim"), 4).as("sim"))
      .orderBy("qid", "id")
  }

  /** Int8 quantization of the embedding column: per-vector quantized
    * checksum + reconstruction cosine — the storage-compression op of
    * an embedding pipeline, oracle-checked (trunc-based scheme is
    * bit-portable across engines). */
  def embQuantize(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(col("vec_id"),
        graft.functions.Vecs.quantStats(col("embedding").cast("array<double>")).as("st"))
      .select(col("vec_id"), col("st.q_sum").as("q_sum"),
        round(col("st.recon_cos"), 4).as("recon_cos"))
      .orderBy("vec_id")

  /** Per-label class centroids over the int8-quantized embeddings —
    * the label-propagation / clustering-seed primitive (a centroid per
    * observed class, used downstream for nearest-centroid labeling and
    * drift monitoring). Quantizing FIRST ([[graft.functions.Vecs
    * .quantizeI8]], trunc semantics) makes every per-dimension sum
    * exact integer arithmetic, so the centroid is bit-reproducible
    * across engines and summation orders — the float-accumulation
    * hazard of averaging raw doubles never arises. Shape at scale:
    * posexplode to (label, pos, q) then groupBy(label, pos) — partial
    * aggregation combines map-side, so the shuffle carries
    * labels×dims partial sums per task, never n×dims rows.
    * Oracle-checked. */
  def embCentroid(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(col("label"),
        posexplode(graft.functions.Vecs.quantizeI8(col("embedding").cast("array<double>")))
          .as(Seq("pos0", "q")))
      .groupBy(col("label"), (col("pos0") + 1).cast("long").as("pos"))
      .agg(count(lit(1)).as("n"), sum(col("q").cast("long")).as("q_sum"))
      .select(col("label"), col("pos"), col("n"), col("q_sum"),
        round(col("q_sum").cast("double") / col("n"), 4).as("c"))
      .orderBy("label", "pos")

  /** Nearest-centroid labeling over int8 embeddings — the weak-label /
    * drift-detection primitive on top of [[embCentroid]]: per-label
    * integer code sums collected as a bounded driver artifact
    * (labels × dims, the IVF-codebook pattern), assignment by the
    * codegen'd [[graft.functions.NearestLabelQ8]] kernel with exact
    * int64 distances (D = Σ(n·x − S)², order-free; score = D/n² is ONE
    * correctly-rounded double division, identical in any engine; ties
    * break on label), report = confusion counts. No shuffle beyond the
    * final labels×labels aggregate. Oracle-checked including the
    * argmin. */
  def embClassify(s: SparkSession, dir: String): DataFrame = {
    val q = t(s, dir, "embeddings").select(col("vec_id"),
      col("label").cast("long").as("label"),
      graft.functions.Vecs.quantizeI8(col("embedding").cast("array<double>")).as("qi"))
    // eager action: the centroid table (shared with stream_classify —
    // one derivation, no drift); empty corpus → empty report, not a
    // crash on max() of nothing
    val (labels, ns, sums) =
      graft.operators.Similarity.labelCentroidsQ8(q, "label", "qi").getOrElse {
        return q.sparkSession.emptyDataFrame
          .select(lit(0L).as("label"), lit(0L).as("pred"), lit(0L).as("n"))
          .limit(0)
      }
    q.select(col("label"),
        graft.functions.Vecs.nearestLabelQ8(col("qi"), labels, ns, sums).as("pred"))
      .groupBy("label", "pred").agg(count(lit(1)).as("n"))
      .orderBy("label", "pred")
  }

  /** Diversified retrieval — Maximal Marginal Relevance (Carbonell &
    * Goldstein 1998) re-ranking of each query's candidate pool: pick
    * argmax of `7·rel(d) − 3·max_{s∈chosen} sim(d, s)` five times
    * (λ = 0.7 in tenths), so near-duplicate candidates cannot crowd a
    * result list — the retrieval-side twin of dedup_semantic, and what
    * a curation pipeline uses to draw DIVERSE exemplars instead of 5
    * copies of the best cluster. All scoring is the EXACT integer int8
    * dot product ([[graft.functions.Vecs.dotI8]] — CosineI8's
    * sqrt-free sibling), ties on (score DESC, id ASC): selection order
    * is engine-reproducible, so the oracle unrolls the same 5 picks
    * and hash-matches — a float-scored MMR could never be gated this
    * way. Scale shape: relevance pool = top-20 per query via the
    * bounded-heap TopKAgg (the post-ANN candidate set — MMR is always
    * a per-query POST-process over bounded candidates, never a corpus
    * scan), then 5 rounds of (broadcast-joinable chosen set × pool)
    * scoring on ≤20-row-per-query frames. */
  def embMmr(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
      .select(col("vec_id"),
        graft.functions.Vecs.quantizeI8(col("embedding").cast("array<double>")).as("qi"))
      .localCheckpoint()   // quantize once: pool build + code re-attach
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("qi").as("qqi"))
    val pool = emb.filter(col("vec_id") >= 5)
      .crossJoin(broadcast(q))
      .select(col("qid"), col("vec_id").as("id"),
        graft.functions.Vecs.dotI8(col("qi"), col("qqi")).as("rel"))
      .groupBy("qid")
      .agg(graft.functions.TopKAgg.topK(
        struct(col("rel"), (-col("id")).as("nid")), 20).as("t"))
      .select(col("qid"), explode(col("t")).as("s"))
      .select(col("qid"), (-col("s.nid")).as("id"), col("s.rel").as("rel"))
      .join(emb.select(col("vec_id").as("id"), col("qi")), Seq("id"))
      .localCheckpoint()
    var chosen = pool.select(col("qid"), col("id"), col("qi"),
      lit(0L).as("rank")).limit(0).localCheckpoint()
    var remaining = pool
    var out = pool.select(col("qid"), lit(0L).as("rank"), col("id"),
      col("rel"), lit(0L).as("mmr")).limit(0)
    // NOT run on the BspLoop chassis: unlike the graph loops, this
    // loop's per-step frames are LAZY anti-join chains over the
    // checkpointed pool (deliberately so — see the no-further-lineage-
    // cuts note below), and the static planner without AQE turns their
    // in-step joins into shuffle joins; an interleaved same-session A/B
    // measured 1.8 s → 2.7 s pinned. AQE stays on here.
    for (step <- 1 to 5) {
      val scoredStep =
        if (step == 1) remaining.withColumn("mmr", col("rel") * 7)
        else {
          val mx = remaining.select(col("qid"), col("id"), col("qi"))
            .join(chosen.select(col("qid"), col("qi").as("cqi")), Seq("qid"))
            .select(col("qid"), col("id"),
              graft.functions.Vecs.dotI8(col("qi"), col("cqi")).as("cs"))
            .groupBy("qid", "id").agg(max(col("cs")).as("mx"))
          remaining.join(mx, Seq("qid", "id"))
            .withColumn("mmr", col("rel") * 7 - col("mx") * 3)
        }
      val pick = scoredStep
        .groupBy("qid")
        .agg(max(struct(col("mmr"), (-col("id")).as("nid"))).as("m"))
        .select(col("qid"), (-col("m.nid")).as("id"), col("m.mmr").as("mmr"))
        .join(pool.select(col("qid"), col("id"), col("rel"), col("qi")),
          Seq("qid", "id"))
        .localCheckpoint()
      out = out.unionByName(pick.select(col("qid"), lit(step.toLong).as("rank"),
        col("id"), col("rel"), col("mmr")))
      // no further lineage cuts: chosen is a union of checkpointed
      // picks and remaining a ≤5-deep anti-join chain over the
      // checkpointed pool — shallow by the loop bound, so the extra
      // materialization jobs would cost more than they save
      chosen = chosen.unionByName(pick.select(col("qid"), col("id"), col("qi"),
        lit(step.toLong).as("rank")))
      remaining = remaining.join(pick.select("qid", "id"), Seq("qid", "id"), "left_anti")
    }
    out.orderBy("qid", "rank")
  }

  /** Deterministic 90/5/5 corpus split by content hash (split counts).
    * Oracle-checked: the md5-hex bucket ([[graft.operators.CorpusSplit]])
    * is reproducible in any engine; proportions and partition-
    * independence additionally asserted in CorpusSplitSpec. */
  def corpusSplit(s: SparkSession, dir: String): DataFrame =
    graft.operators.CorpusSplit
      .split(t(s, dir, "documents"), "text", corpusSplitSpec)
      .groupBy("split").agg(count(lit(1)).as("n_docs"))
      .orderBy("split")

  /** The one stratified-sampling spec shared by corpus_sample and its
    * oracle: cap the dominant language at 25%, halve zh, keep the rest
    * whole — the classic corpus-rebalancing move. */
  val corpusSampleSpec: Map[String, Double] = Map("en" -> 0.25, "zh" -> 0.5)

  /** Deterministic stratified downsampling by content hash
    * ([[graft.operators.CorpusSplit.sampleStratified]]): per-language
    * kept counts, oracle-checked — the DuckDB CASE derives its
    * thresholds from the same hexCut computation. */
  def corpusSample(s: SparkSession, dir: String): DataFrame =
    graft.operators.CorpusSplit
      .sampleStratified(t(s, dir, "documents"), "text", "lang", corpusSampleSpec)
      .groupBy("lang").agg(count(lit(1)).as("n_kept"))
      .orderBy("lang")

  /** The one target mixture shared by corpus_interleave and its oracle:
    * a uniform 20% share per language — the dominant language (en, ~44%
    * of the documents table) is downsampled to its target share, the
    * rest keep every row. */
  val corpusInterleaveSpec: Seq[(String, Double)] =
    Seq("de" -> 0.2, "en" -> 0.2, "es" -> 0.2, "fr" -> 0.2, "zh" -> 0.2)

  /** Target-mixture rebalancing ([[graft.operators.CorpusSplit
    * .interleaveToMixture]]): per-language kept counts, oracle-checked —
    * the DuckDB side recomputes the same count → fraction → md5-hex
    * threshold chain (IEEE *,/ and min only, so the thresholds are
    * bit-identical across engines). */
  def corpusInterleave(s: SparkSession, dir: String): DataFrame =
    graft.operators.CorpusSplit
      .interleaveToMixture(t(s, dir, "documents"), "text", "lang", corpusInterleaveSpec)
      .groupBy("lang").agg(count(lit(1)).as("n_kept"))
      .orderBy("lang")

  /** Unicode-script profile
    * ([[graft.operators.TextAnalysis.scriptProfile]]): per-doc counts
    * over literal codepoint-range classes + dominant script — the
    * beyond-known-languages curation filter. Oracle-checked: literal
    * ranges mean the same thing in Java regex and RE2, so DuckDB
    * reproduces every count and the padded argmax exactly. */
  def textScript(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextAnalysis.scriptProfile(t(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")

  /** Split-leakage audit — the eval-integrity check every pipeline
    * should run before training: duplicate documents falling on BOTH
    * sides of a train/eval split leak eval content into training. The
    * corpus is seeded with 100 synthesized twins (the synthUrls
    * pattern), then split two ways: keyed by doc_id (the naive choice —
    * twins draw independent buckets and straddle splits) and keyed by
    * text ([[graft.operators.CorpusSplit.assign]]'s contract — twins
    * share one bucket BY CONSTRUCTION). Reports, per strategy, the
    * duplicated-content hashes and how many of them span more than one
    * split: nonzero for by_id, exactly zero for by_text — the audit
    * PROVES the content-keyed split is leak-free rather than asserting
    * it. Oracle-checked end to end. */
  def corpusLeakage(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val corpus = docs.union(docs.filter(col("doc_id") < 100)
      .select((col("doc_id") + 10000).as("doc_id"), col("text")))
    def leaks(key: Column, label: String): DataFrame =
      corpus
        .withColumn("split", graft.operators.CorpusSplit.assign(key, corpusSplitSpec))
        .groupBy(md5(col("text")).as("h"))
        .agg(countDistinct(col("split")).as("ns"), count(lit(1)).as("nd"))
        .agg(count(when(col("nd") > 1, 1)).as("n_dup_hashes"),
          count(when(col("ns") > 1, 1)).as("n_leaky_hashes"))
        .select(lit(label).as("strategy"), col("n_dup_hashes"), col("n_leaky_hashes"))
    leaks(col("doc_id"), "by_id").union(leaks(col("text"), "by_text"))
      .orderBy("strategy")
  }

  /** Compression-ratio quality signal
    * ([[graft.functions.Compress.deflateLen]]): per-doc UTF-8 byte
    * count, DEFLATE-level-6 byte count, and their rounded ratio —
    * repetitive/template text sits low, near-random noise near (or
    * above) 1. Rows-only: DEFLATE output length is zlib-implementation
    * detail no SQL engine reproduces; the spec pins determinism and
    * the repetitive ≪ prose ≪ noise ordering instead. A pure codegen'd
    * projection over the scan — the cheap one-pass quality filter
    * modern corpus pipelines run alongside heuristic rules. */
  def textCompress(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        octet_length(col("text")).cast("long").as("n_bytes"),
        graft.functions.Compress.deflateLen(col("text")).as("n_deflate"))
      .select(col("doc_id"), col("n_bytes"), col("n_deflate"),
        round(col("n_deflate").cast("double") / col("n_bytes"), 4).as("ratio"))
      .orderBy("doc_id")

  /** Capstone #3 — the round-11 operators composed into one curation
    * plan: corpus-familiarity gate ([[graft.operators.TextAnalysis
    * .familiarity]] ≥ 340 — the LM-score filter) + token-length gate →
    * exact dedup (min-doc representative per content hash) →
    * temperature mixture (T=2, [[graft.operators.CorpusSplit
    * .mixtureByTemperature]] over the SURVIVING corpus — its count →
    * sqrt-weight → threshold chain re-derives from the gated table) →
    * deterministic 90/5/5 split → per-(split, lang) doc/token stats.
    * The deduped frame is checkpointed once for its two consumers (the
    * mixture's bounded counts action and the final plan). Every stage
    * reuses its standalone oracle's arithmetic, so the six-stage
    * pipeline hash-matches DuckDB end to end. */
  def corpusCurate3(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val fam = graft.operators.TextAnalysis.familiarity(docs, "doc_id", "text")
    val base = docs.select(col("doc_id"), col("lang"), col("text"),
        graft.operators.TextAnalysis.tokenCountWs(col("text")).cast("long").as("n_tok"))
      .join(fam.select(col("doc_id"), col("familiarity")), Seq("doc_id"))
      .filter(col("n_tok") >= 16 && col("familiarity") >= 340.0)
    val keep = base.groupBy(md5(col("text")).as("h")).agg(min(col("doc_id")).as("doc_id"))
    val uniq = base.join(keep.select("doc_id"), Seq("doc_id"), "left_semi")
      .localCheckpoint()
    val mixed = graft.operators.CorpusSplit
      .mixtureByTemperature(uniq, "text", "lang", sqrtDepth = 1)
    graft.operators.CorpusSplit.split(mixed, "text", corpusSplitSpec)
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("sum_tokens"))
      .orderBy("split", "lang")
  }

  /** Capstone #4, composing the round-12 operators in one plan: Gopher
    * quality gate ([[TextAnalysis.gopherSignals]]' integer ruleset) →
    * exact dedup (min doc_id per content hash) → token-balanced
    * contiguous sharding ([[graft.operators.Packing.shardByTokens]],
    * 4 shards) → per-shard rollup. The gated projection is
    * checkpointed once for its two consumers (dedup aggregate +
    * semi-join probe); the shard step reuses the two-phase offsets, so
    * there is no single-partition stage anywhere. Oracle-checked:
    * gopher counts, min-id dedup, the offsets window, and the shard
    * arithmetic each reuse their standalone oracle's arithmetic. */
  def corpusCurate4(s: SparkSession, dir: String): DataFrame = {
    // the gate is gopherSignals' rule set with the stop-word threshold
    // tuned to ≥1 for THIS corpus (the synthetic vocabulary carries a
    // single stopword class, so the paper's ≥2 would empty it — exactly
    // the per-corpus threshold tuning a curation run does); the strict
    // gate stays in text_gopher
    val g = TextAnalysis.gopherSignals(col("text"))
    val gated = t(s, dir, "documents").select(col("doc_id"), col("text"),
        g.getField("n_tokens").as("n"), g.getField("sum_token_len").as("sl"),
        g.getField("n_alpha_words").as("na"), g.getField("n_stop_distinct").as("ns"),
        g.getField("n_hash").as("nh"), g.getField("n_ellipsis").as("ne"),
        TextAnalysis.tokenCountWs(col("text")).cast("long").as("n_tok"))
      .filter(col("n") >= 50 && col("n") <= 100000 &&
        lit(3L) * col("n") <= col("sl") && col("sl") <= lit(10L) * col("n") &&
        lit(10L) * (col("nh") + col("ne")) < col("n") &&
        lit(5L) * col("na") >= lit(4L) * col("n") && col("ns") >= 1L)
      .select(col("doc_id"), col("text"), col("n_tok"))
      .localCheckpoint()
    val keep = gated.groupBy(md5(col("text")).as("h")).agg(min(col("doc_id")).as("doc_id"))
    val surv = gated.join(keep.select("doc_id"), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("n_tok"))
    graft.operators.Packing.shardByTokens(surv, "doc_id", "n_tok", nShards = 4)
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("sum_tokens"),
        min(col("offset")).as("min_offset"), max(col("offset")).as("max_offset"))
      .orderBy("shard")
  }

  /** Learned-BPE token counts ([[graft.operators.Bpe]]): merge table
    * trained driver-side on the deterministic 20% md5 sample (48
    * merges), applied corpus-wide by the codegen'd kernel. Rows-only
    * (trained-artifact family, like the IVF/PQ codebooks): the merge
    * table is not expressible in the oracle engine, but BpeSpec pins
    * training determinism, hand-computed merges, and the apply
    * algorithm on fixtures. */
  def bpeTokens(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val merges = graft.operators.Bpe.train(docs, "text", sampleFrac = 0.2, nMerges = 48)
    graft.operators.Bpe.tokenStats(docs, "doc_id", "text", merges).orderBy("doc_id")
  }

  /** Deterministic per-language eval reservoir
    * ([[graft.operators.CorpusSplit.reservoirPerStratum]], k=5): exactly
    * five docs per language, picked by the fixed md5 permutation through
    * the bounded-heap aggregate. Oracle-checked: DuckDB reproduces the
    * pick with a window rank over (md5 DESC, doc_id DESC). */
  def corpusReservoir(s: SparkSession, dir: String): DataFrame =
    graft.operators.CorpusSplit
      .reservoirPerStratum(t(s, dir, "documents"), "text", "lang", "doc_id", k = 5)
      .orderBy("lang", "rank")

  /** Incremental ingest screen
    * ([[graft.operators.Dedup.incrementalDedup]]): docs ≥ 400 play the
    * incoming batch, docs < 400 the existing corpus — per incoming doc,
    * exact corpus twins and length-blocked verified near-dups
    * (Jaccard ≥ 0.2). Oracle-checked: every screen reuses
    * [[ExtensionOracles.dedupMinhashVerify]]'s established SQL
    * spellings. */
  def corpusIncremental(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Dedup.incrementalDedup(
      docs.filter(col("doc_id") < 400), docs.filter(col("doc_id") >= 400),
      "doc_id", "text", maxBucket = 100, minJaccard = 0.2)
      .orderBy("doc_id")
  }

  /** Corpus-familiarity quality score
    * ([[graft.operators.TextAnalysis.familiarity]]): per-document mean
    * corpus document-frequency over its char-3-gram positions — the
    * LM-perplexity-shaped signal in engine-portable integer form.
    * Oracle-checked: trigram extraction, df aggregate, integer sums and
    * the single rounded division all reproduce in DuckDB. */
  def textFamiliarity(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextAnalysis.familiarity(t(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")

  /** Z-order layout report ([[graft.functions.Layout.interleave16]]):
    * orders keyed by (customer bucket, order-day bucket), grouped into
    * 256 z-buckets (top 8 bits of the 20-bit Morton key), reporting each
    * bucket's count and min/max span on BOTH dimensions. The spans are
    * the pruning argument made measurable: fixing the key's top 8 bits
    * confines x and y to 64-value windows each (the spec asserts ≤ 63),
    * so files written per z-bucket carry tight parquet min/max stats on
    * both columns at once — a filter on either dimension prunes to
    * ~1/16 of the files, where a plain sort by x leaves y's per-file
    * span at the full domain. Oracle-checked: DuckDB re-derives the
    * interleave with per-bit shift arithmetic. */
  def layoutZorder(s: SparkSession, dir: String): DataFrame = {
    val x = (col("o_custkey") % 1024).cast("long")
    val y = (datediff(to_date(col("o_orderdate")), lit("1970-01-01")) % 1024).cast("long")
    t(s, dir, "orders")
      .select(graft.functions.Layout.interleave16(x, y).as("z"), x.as("x"), y.as("y"))
      .groupBy(shiftright(col("z"), 12).as("zbucket"))
      .agg(count(lit(1)).as("n"),
        min(col("x")).as("min_x"), max(col("x")).as("max_x"),
        min(col("y")).as("min_y"), max(col("y")).as("max_y"))
      .orderBy("zbucket")
  }

  /** [[layoutZorder]]'s Hilbert-curve sibling
    * ([[graft.functions.LayoutUtil.hilbert8]], codegen'd
    * `HilbertIndex`): the same 2-D clustering report on a 256×256 grid.
    * Hilbert's unit-step adjacency (no Morton seam jumps) keeps
    * UNALIGNED key ranges — where parquet file/row-group boundaries
    * actually fall — in connected regions: LayoutSpec measures worst
    * unaligned 256-cell span 31 vs Morton's 255. The report buckets by
    * the top 8 of 16 key bits; every bucket is a contiguous quarter-
    * curve arc, so both dimension spans stay ≤ 31 (asserted per row in
    * the oracle-checked output by construction of the curve). */
  def layoutHilbert(s: SparkSession, dir: String): DataFrame = {
    val x = (col("o_custkey") % 256).cast("long")
    val y = (datediff(to_date(col("o_orderdate")), lit("1970-01-01")) % 256).cast("long")
    t(s, dir, "orders")
      .select(graft.functions.Layout.hilbert8(x, y).as("h"), x.as("x"), y.as("y"))
      .groupBy(shiftright(col("h"), 8).as("hbucket"))
      .agg(count(lit(1)).as("n"),
        min(col("x")).as("min_x"), max(col("x")).as("max_x"),
        min(col("y")).as("min_y"), max(col("y")).as("max_y"))
      .orderBy("hbucket")
  }

  /** One stored z-ordered orders layout per source dir per JVM — the
    * partitioned write is layout cost paid once ([[bucketedTables]]'
    * reasoning applied to the z-curve); directories are temp-rooted and
    * cleaned by the shared shutdown hook. */
  private val zStores = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def zorderStore(s: SparkSession, dir: String): String =
    zStores.computeIfAbsent(dir, _ => {
      val root = java.nio.file.Files.createTempDirectory("graft_zorder_q")
      ivfTmpRoots.add(root)
      val st = root.toString + "/orders_z"
      val x = (col("o_custkey") % 1024).cast("long")
      val y = (datediff(to_date(col("o_orderdate")), lit("1970-01-01")) % 1024).cast("long")
      t(s, dir, "orders")
        .select(col("o_orderkey"), x.as("x"), y.as("y"),
          shiftright(graft.functions.Layout.interleave16(x, y), 12).as("zbucket"))
        .repartition(col("zbucket"))   // cluster each bucket's rows, not 256 slivers per task
        .write.partitionBy("zbucket").mode("overwrite").parquet(st)
      st
    })

  /** The z-order pruning argument EXECUTED against storage
    * ([[layoutZorder]] reports the spans; this reads a table laid out
    * by them): orders live `partitionBy(zbucket)` (top 8 Morton bits),
    * and a 64-wide range filter on x alone reaches the scan as a
    * STATIC partition filter — the candidate bucket set is pure integer
    * arithmetic on the driver (the even bits of a bucket ARE x₉..x₆, so
    * x ∈ [64, 127] ⇒ x>>6 = 1 ⇒ 16 of 256 directories listed,
    * never a data scan). The window sits low in the x domain so every
    * scale factor populates it (sf0.001 has only 150 customers). This
    * is [[annIvfStored]]'s scan-cost-scales-with-selectivity property
    * for plain relational range predicates; PlanAuditSpec asserts the
    * PartitionFilters line and the 16-of-256 listing. Oracle is the
    * plain unstored scan — layout-invariance at the correctness
    * gate. */
  def layoutZorderStored(s: SparkSession, dir: String): DataFrame = {
    val stored = s.read.parquet(zorderStore(s, dir))
    val (lo, hi) = (64L, 127L)
    // zbucket bits (z>>12, 8 wide): even positions carry x9..x6, odd
    // carry y9..y6 — compact the even bits to recover x>>6
    val buckets = (0 until 256).filter { zb =>
      val xh = (zb & 1) | ((zb >> 1) & 2) | ((zb >> 2) & 4) | ((zb >> 3) & 8)
      xh >= (lo >> 6) && xh <= (hi >> 6)
    }.map(_.toLong)
    stored
      .filter(col("zbucket").isin(buckets: _*) && col("x").between(lo, hi))
      .groupBy("x")
      .agg(count(lit(1)).as("n"), sum(col("y")).as("sum_y"))
      .orderBy("x")
  }

  /** Small-file compaction stores, one pair per source dir per JVM:
    * the FRAGMENTED table (64 deliberate slivers — the ingest-time
    * small-file problem: every micro-batch/task writes its own file,
    * and listing + footer + task overhead at 100 TB scales with file
    * COUNT, not bytes) and its COMPACTED rewrite — repartitionByRange
    * on the key into 4 target-size files, the lakehouse OPTIMIZE
    * operation, which also leaves per-file key ranges DISJOINT so a
    * key predicate prunes to one file by footer min/max
    * (LayoutCompactSpec asserts both the file counts and the
    * disjointness). */
  private val compactStores = new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  private def compactStore(s: SparkSession, dir: String): (String, String) =
    compactStores.computeIfAbsent(dir, _ => {
      val root = java.nio.file.Files.createTempDirectory("graft_compact_q")
      ivfTmpRoots.add(root)
      val frag = root.toString + "/orders_frag"
      val comp = root.toString + "/orders_compact"
      t(s, dir, "orders")
        .select((col("o_orderkey") % 5000).as("k"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
        .repartition(64)   // the sliver regime an unmanaged ingest leaves
        .write.mode("overwrite").parquet(frag)
      s.read.parquet(frag)
        .repartitionByRange(4, col("k"))
        .write.mode("overwrite").parquet(comp)
      (frag, comp)
    })

  private[graft] def compactStorePaths(s: SparkSession, dir: String): (String, String) =
    compactStore(s, dir)

  /** The lakehouse small-file compaction (OPTIMIZE) as a stored
    * two-phase query, ORACLE-CHECKED (round 19): the fragmented
    * 64-sliver table is rewritten by `repartitionByRange(4, k)` —
    * file count 64 → 4 AND per-file key ranges disjoint, so a point
    * or range predicate on `k` prunes to one file via parquet footer
    * min/max (no partition directories needed — this is the
    * row-group/file-skip tier below [[layoutZorderStored]]'s
    * directory-prune tier). The query re-reads the COMPACTED store
    * and emits the rollup plus both file counts (`input_file_name`
    * distincts — deterministic: 15k rows over 64 round-robin slivers
    * leaves none empty, and 4 range buckets of a dense key domain
    * are all hit); the oracle recomputes the rollup from raw orders
    * and pins the counts — storage invariance AND the compaction
    * contract in one hash check. */
  def layoutCompactStored(s: SparkSession, dir: String): DataFrame = {
    val (frag, comp) = compactStore(s, dir)
    // input_file_name only exists at scan time (a checkpoint would
    // blank it); the counts are two bounded scans of tiny footers
    val nFrag = s.read.parquet(frag)
      .select(input_file_name().as("f")).distinct().count()
    val compacted = s.read.parquet(comp)
    val nComp = compacted
      .select(input_file_name().as("f")).distinct().count()
    compacted
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"),
        countDistinct(col("k")).as("n_keys"))
      .select(lit(nFrag).as("files_before"), lit(nComp).as("files_after"),
        col("n_rows"), col("sum_cents"), col("n_keys"))
  }

  /** One stored Hilbert-ordered orders layout per source dir per JVM —
    * [[zorderStore]]'s discipline on the tighter curve. */
  private val hilbertStores = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def hilbertStore(s: SparkSession, dir: String): String =
    hilbertStores.computeIfAbsent(dir, _ => {
      val root = java.nio.file.Files.createTempDirectory("graft_hilbert_q")
      ivfTmpRoots.add(root)
      val st = root.toString + "/orders_h"
      val x = (col("o_custkey") % 256).cast("long")
      val y = (datediff(to_date(col("o_orderdate")), lit("1970-01-01")) % 256).cast("long")
      t(s, dir, "orders")
        .select(col("o_orderkey"), x.as("x"), y.as("y"),
          shiftright(graft.functions.Layout.hilbert8(x, y), 8).as("hbucket"))
        .repartition(col("hbucket"))   // cluster each bucket's rows, not 256 slivers per task
        .write.partitionBy("hbucket").mode("overwrite").parquet(st)
      st
    })

  /** [[layoutZorderStored]] on the Hilbert layout: orders materialized
    * `partitionBy(hbucket)`, an x-range predicate turned into a static
    * partition filter by DRIVER-SIDE curve evaluation — the bucket set
    * for `x ∈ [64,127]` is `{hilbert8(x,y) >> 8}` over the 16 K grid
    * cells of the strip, a pure-function enumeration (microseconds, no
    * data read). On the order-8 curve each bucket IS one level-4 16×16
    * quadrant block (a contiguous 256-cell arc), so the 64-column
    * strip touches exactly 64 of 256 directories — pruning exactly
    * equal to the predicate's selectivity, asserted in PlanAuditSpec;
    * oracle = the plain unstored scan (layout answer-invisibility). */
  def layoutHilbertStored(s: SparkSession, dir: String): DataFrame = {
    val stored = s.read.parquet(hilbertStore(s, dir))
    val (lo, hi) = (64L, 127L)
    val buckets = (for (x <- lo to hi; y <- 0L until 256L)
      yield graft.functions.LayoutUtil.hilbert8(x, y) >> 8).distinct.sorted
    stored
      .filter(col("hbucket").isin(buckets: _*) && col("x").between(lo, hi))
      .groupBy("x")
      .agg(count(lit(1)).as("n"), sum(col("y")).as("sum_y"))
      .orderBy("x")
  }

  /** One stored lineitem layout + ZONE-MAP SIDECAR pair per source dir
    * per JVM: rows land in 40-day `l_shipdate` ranges (bin =
    * ship-epoch-days DIV 40, ~63 populated ranges over the 1995–2001
    * span), and the build ALSO collects per-bin min/max of a
    * correlated NON-layout column — `receipt_days = ship_days +
    * l_orderkey % 30` (the deterministic receipt synthesis; a real
    * receipt date trails shipment by a bounded handling window, which
    * is exactly why its per-range min/max stays narrow) — into a tiny
    * stats parquet, the Iceberg/Delta manifest min/max in miniature. */
  private val zonemapStores = new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  private def zonemapStore(s: SparkSession, dir: String): (String, String) =
    zonemapStores.computeIfAbsent(dir, _ => {
      val root = java.nio.file.Files.createTempDirectory("graft_zonemap_q")
      ivfTmpRoots.add(root)
      val st = root.toString + "/lineitem_zm"
      val zm = root.toString + "/zonemap"
      t(s, dir, "lineitem")
        .select(datediff(to_date(col("l_shipdate")), lit("1992-01-01"))
          .cast("long").as("sd"),
          col("l_orderkey"), col("l_extendedprice"), col("l_returnflag"))
        .select((col("sd") + col("l_orderkey") % 30).as("receipt_days"),
          round(col("l_extendedprice") * 100).cast("long").as("cents"),
          col("l_returnflag"),
          expr("sd DIV 40").as("bin"))
        .repartition(col("bin"))   // one clustered file per range dir
        .write.partitionBy("bin").mode("overwrite").parquet(st)
      s.read.parquet(st).groupBy(col("bin").cast("long").as("bin"))
        .agg(min(col("receipt_days")).as("min_r"),
          max(col("receipt_days")).as("max_r"))
        .coalesce(1).write.mode("overwrite").parquet(zm)
      (st, zm)
    })

  /** Stats-sidecar data skipping — the pruning tier NEITHER
    * [[layoutZorderStored]] (static driver arithmetic on the LAYOUT
    * key) nor [[layoutCompactStored]] (parquet footer min/max on the
    * SORT key) can reach: the predicate is on a column the layout
    * never ordered by (`receipt_days`; layout is 40-day `l_shipdate`
    * ranges), so the candidate range set is knowable only from
    * COLLECTED per-range stats — the Iceberg manifest / Delta
    * data-skipping primitive. The probe reads the O(ranges) sidecar,
    * keeps ranges whose [min_r, max_r] overlaps the 60-day receipt
    * window (a bounded driver artifact: ≤ ~90 bin ids), and turns
    * them into a static partition filter — 3 of ~63 directories
    * listed, because receipt trails shipment by < 30 days so each
    * range's receipt envelope spans ≤ 69 days. Scan cost tracks the
    * predicate's PHYSICAL clustering (via the correlation), not the
    * corpus. Oracle: recomputes the same per-bin min/max + overlap
    * rule AND the aggregate from raw lineitem — pruning contract and
    * answer invariance in one hash check; PlanAuditSpec pins the
    * partition listing. */
  def layoutZonemapStored(s: SparkSession, dir: String): DataFrame = {
    val (st, zm) = zonemapStore(s, dir)
    val (lo, hi) = (1900L, 1959L)
    val stats = s.read.parquet(zm)
    val binsTotal = stats.count()
    val bins = stats.filter(col("max_r") >= lo && col("min_r") <= hi)
      .select(col("bin")).collect().map(_.getLong(0)).sorted
    s.read.parquet(st)
      .filter(col("bin").isin(bins: _*) &&
        col("receipt_days").between(lo, hi))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
      .select(col("l_returnflag"), col("n"), col("sum_cents"),
        lit(bins.length.toLong).as("bins_read"),
        lit(binsTotal).as("bins_total"))
      .orderBy("l_returnflag")
  }

  /** Global token-offset assignment
    * ([[graft.operators.Packing.assignOffsets]]): each document's
    * exclusive prefix sum of whitespace-token counts in doc_id order —
    * the contiguous-stream index a packed corpus writer emits.
    * Oracle-checked: DuckDB's plain `sum() over (order by doc_id)`
    * window reproduces the two-phase result exactly, PROVING the
    * bucketed formulation equals the single-window semantics it
    * replaces. */
  def corpusOffsets(s: SparkSession, dir: String): DataFrame =
    graft.operators.Packing.assignOffsets(
      t(s, dir, "documents").select(col("doc_id"),
        graft.operators.TextAnalysis.tokenCountWs(col("text")).cast("long").as("n_tok")),
      "doc_id", "n_tok")
      .orderBy("doc_id")

  /** Token-balanced contiguous sharding
    * ([[graft.operators.Packing.shardByTokens]], 8 shards) rolled up to
    * per-shard totals — the measurable form of the balance claim: every
    * shard's token sum lands within one document of total/8.
    * Oracle-checked: DuckDB re-derives shard = offset div (total div
    * 8 + 1) from the naive global window. */
  def corpusShard(s: SparkSession, dir: String): DataFrame =
    graft.operators.Packing.shardByTokens(
      t(s, dir, "documents").select(col("doc_id"),
        graft.operators.TextAnalysis.tokenCountWs(col("text")).cast("long").as("n_tok")),
      "doc_id", "n_tok", nShards = 8)
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("sum_tokens"),
        min(col("offset")).as("min_offset"), max(col("offset")).as("max_offset"))
      .orderBy("shard")

  /** Temperature-weighted mixture sampling
    * ([[graft.operators.CorpusSplit.mixtureByTemperature]], T=2):
    * per-language kept counts after flattening the language
    * distribution toward n^0.5 shares. Oracle-checked — the DuckDB side
    * recomputes the count → ⌊2^16·sqrt(n)⌋ integer weight → exact
    * integer weight sum → ((total·w)/Σw)/n fraction → md5-hex threshold
    * chain (sqrt is IEEE-correctly-rounded and the ·2^16 scale is
    * exact, so the thresholds are bit-identical across engines). */
  def corpusMix(s: SparkSession, dir: String): DataFrame =
    graft.operators.CorpusSplit
      .mixtureByTemperature(t(s, dir, "documents"), "text", "lang", sqrtDepth = 1)
      .groupBy("lang").agg(count(lit(1)).as("n_kept"))
      .orderBy("lang")

  /** Train/eval 8-gram contamination report over the 90/5/5 md5 split
    * ([[graft.operators.Decontam]]): eval documents sharing an 8-gram
    * shingle with a training document, with the boilerplate/skew guard
    * at its default. Oracle-checked — DuckDB recomputes the split CASE
    * from the shared thresholds and tokenizes on the shingle kernel's
    * exact whitespace class. */
  def corpusDecontam(s: SparkSession, dir: String): DataFrame =
    graft.operators.Decontam.contamination(
      graft.operators.CorpusSplit.split(t(s, dir, "documents"), "text", corpusSplitSpec),
      "doc_id", "text", "split", "train", Seq("val", "test"))
      .orderBy("doc_id")

  /** [[corpusDecontam]] through the Bloom-prefiltered train path
    * ([[graft.operators.Decontam.contaminationBloom]]) — the variant
    * that matters at 100 TB, where the prefilter drops corpus n-grams
    * that appear in no eval doc BEFORE the train-side shuffles. The
    * prefilter is exact-preserving (no false negatives; survivors still
    * pass the equi-join), so this query shares [[corpusDecontam]]'s
    * DuckDB oracle verbatim: the gate proves bit-identity against an
    * independent engine, and DecontamSpec asserts Spark-side equality
    * of the two paths besides. */
  def corpusDecontamBloom(s: SparkSession, dir: String): DataFrame =
    graft.operators.Decontam.contaminationBloom(
      graft.operators.CorpusSplit.split(t(s, dir, "documents"), "text", corpusSplitSpec),
      "doc_id", "text", "split", "train", Seq("val", "test"))
      .orderBy("doc_id")

  /** Capstone curation pipeline — the composition a corpus team actually
    * runs, end-to-end in one plan: quality gate (≥ 32 whitespace
    * tokens) → language ID (argmax seed-list score, drop 'und') →
    * exact dedup (canonical copy = min doc_id per content hash) →
    * deterministic 90/5/5 split → per-(split, language) doc and token
    * counts. One scan (the scored projection is checkpointed for its
    * two consumers), two real shuffles (the md5 dedup group and the
    * doc_id semi join), plus a tiny final aggregate.
    * Oracle-checked: every stage reuses the exact
    * arithmetic of its standalone oracle (token class, padded-sort-key
    * argmax, hex split thresholds), so the whole pipeline hash-matches
    * DuckDB — operators don't just pass alone, they compose. */
  def corpusCurate(s: SparkSession, dir: String): DataFrame = {
    // pred_lang gates quality (drop docs the seed-list ID can't place);
    // the breakdown uses the table's lang label — the generator's text
    // is English-ish for every label, so pred_lang itself is a
    // degenerate grouping dimension on this corpus
    val scored = t(s, dir, "documents").select(col("doc_id"), col("text"), col("lang"),
        TextAnalysis.tokenCountWs(col("text")).as("n_tokens"),
        TextAnalysis.langId(col("text")).as("pred_lang"))
      .filter(col("n_tokens") >= 32 && col("pred_lang") =!= "und")
      // materialize: `scored` feeds both the dedup aggregate and the
      // semi-join probe side — without the lineage cut the scan and the
      // 5-seed-list language scoring (the expensive row-local work)
      // would run once per branch (same two-consumer shape as
      // topTermsTfIdf's pairs)
      .localCheckpoint()
    val keep = scored.groupBy(md5(col("text")).as("text_hash"))
      .agg(min(col("doc_id")).as("doc_id"))
    scored.join(keep.select("doc_id"), Seq("doc_id"), "left_semi")
      .withColumn("split",
        graft.operators.CorpusSplit.assign(col("text"), corpusSplitSpec))
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
      .orderBy("split", "lang")
  }

  /** Sequence packing into 4096-char chunks across 8 parallel buckets
    * ([[graft.operators.Packing]]), rolled up per chunk and
    * oracle-checked — the window arithmetic is engine-portable. */
  def corpusPack(s: SparkSession, dir: String): DataFrame =
    graft.operators.Packing.chunkStats(
      graft.operators.Packing.packSequences(
        t(s, dir, "documents"), "doc_id", "n_chars", budget = 4096L, buckets = 8),
      "n_chars")
      .orderBy("bucket", "seq_no")

  /** Within-document sliding-window chunking
    * ([[graft.operators.Packing.chunkTokens]]): 64-token windows every
    * 48 tokens (16-token overlap) — the other half of sequence prep
    * next to [[corpusPack]]'s cross-document packing. Oracle-checked:
    * the ceil/tail-window arithmetic and the slice bounds are
    * engine-portable, so DuckDB reproduces every chunk_md5. */
  def corpusChunk(s: SparkSession, dir: String): DataFrame =
    graft.operators.Packing.chunkTokens(
      t(s, dir, "documents"), "doc_id", "text", window = 64, stride = 48)
      .orderBy("doc_id", "chunk_id")

  /** Line-level (CCNet-style) boilerplate removal
    * ([[graft.operators.LineDedup.dedupLines]]). The documents table is
    * single-line prose, so the query first re-lines each text into
    * 10-token lines (pure per-row arithmetic — transform over a
    * sequence, no shuffle); near-duplicate documents then share body
    * lines verbatim (127 distinct cross-document line contents at
    * sf0.01), which `maxDocDf = 1` strips from every document.
    * Oracle-checked end to end: DuckDB rebuilds the same lines with the
    * same slice arithmetic and reproduces each document's kept-line
    * reassembly md5. */
  def lineDedup(s: SparkSession, dir: String): DataFrame = {
    val tk = split(trim(col("text")), TextAnalysis.WsClass)
    val lined = t(s, dir, "documents").select(col("doc_id"),
      concat_ws("\n", transform(
        sequence(lit(0), ceil(size(tk) / lit(10.0)).cast("int") - 1),
        i => concat_ws(" ", slice(tk, i * lit(10) + lit(1), lit(10))))).as("text"))
    graft.operators.LineDedup.dedupLines(lined, "doc_id", "text", maxDocDf = 1)
      .orderBy("doc_id")
  }

  /** Capstone curation pipeline #2 — the line-level + decontamination
    * composition that [[corpusCurate]]'s quality/langid/split chain
    * doesn't cover, proving the round's operators compose inside one
    * plan: re-line into 10-token lines ([[lineDedup]]'s arithmetic) →
    * strip lines shared by >2 documents
    * ([[graft.operators.LineDedup.cleanLines]]; `maxDocDf = 2` keeps
    * pairwise near-dup overlap in the text so the decontamination stage
    * downstream has something real to find, while heavy boilerplate
    * still dies) → quality-gate on the CLEANED text (≥ 16 kept tokens)
    * → exact dedup on the cleaned content hash → deterministic 90/5/5
    * split → Bloom-prefiltered train/eval 8-gram decontamination
    * ([[graft.operators.Decontam.contaminationBloom]]) → per-split doc
    * / kept-token / contaminated-doc counts. Two localCheckpoints cut
    * the two 2-consumer fan-outs (gated feeds the dedup aggregate and
    * the semi-join probe; uniq feeds the decontam shingle pass and the
    * final rollup) — without them the explode-reassemble stage would
    * re-run once per consumer. Oracle-checked end to end: every stage
    * reuses the exact arithmetic of its standalone oracle, so the whole
    * pipeline hash-matches DuckDB. */
  def corpusCurate2(s: SparkSession, dir: String): DataFrame = {
    val tk = split(trim(col("text")), TextAnalysis.WsClass)
    val lined = t(s, dir, "documents").select(col("doc_id"),
      concat_ws("\n", transform(
        sequence(lit(0), ceil(size(tk) / lit(10.0)).cast("int") - 1),
        i => concat_ws(" ", slice(tk, i * lit(10) + lit(1), lit(10))))).as("text"))
    val gated = graft.operators.LineDedup.cleanLines(lined, "doc_id", "text", maxDocDf = 2)
      .select(col("doc_id"), col("clean_text"),
        TextAnalysis.tokenCountWs(col("clean_text")).as("n_tokens"))
      .filter(col("n_tokens") >= 16)
      .localCheckpoint()
    val keep = gated.groupBy(md5(col("clean_text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
    val uniq = gated.join(keep.select("doc_id"), Seq("doc_id"), "left_semi")
      .withColumn("split",
        graft.operators.CorpusSplit.assign(col("clean_text"), corpusSplitSpec))
      .localCheckpoint()
    val contam = graft.operators.Decontam.contaminationBloom(
      uniq, "doc_id", "clean_text", "split", "train", Seq("val", "test"))
    uniq.join(contam.select(col("doc_id"), lit(1).as("hit")), Seq("doc_id"), "left")
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"),
        count(col("hit")).as("n_contaminated"))
      .orderBy("split")
  }

  /** Corpus length census: document token counts binned into
    * power-of-two buckets — the first diagnostic run on any new corpus
    * (tail inspection, truncation planning, packing-budget choice).
    * The bucket is floor(log2(n))+1 computed EXACTLY as the binary
    * digit count `length(bin(n))` — no libm log2, whose last-ulp
    * rounding differs across engines right at the power-of-two bucket
    * edges. One map-side-combined aggregate; oracle-checked. */
  def corpusHist(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(TextAnalysis.tokenCountWs(col("text")).cast("long").as("n_tok"))
      .withColumn("bucket",
        when(col("n_tok") === 0, lit(0L))
          .otherwise(length(bin(col("n_tok"))).cast("long")))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), min(col("n_tok")).as("min_tok"),
        max(col("n_tok")).as("max_tok"), sum(col("n_tok")).as("sum_tok"))
      .orderBy("bucket")

  /** The one-row corpus card: doc/token/byte totals, language count,
    * and the exact-duplicate fraction numerator — the summary block
    * every dataset datasheet leads with. All exact integers (the dup
    * count reuses dedup_exact's md5 grouping); one pass plus the
    * distinct-hash aggregate. Oracle-checked. */
  def corpusStats(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"), col("lang"),
      col("text"), TextAnalysis.tokenCountWs(col("text")).cast("long").as("n_tok"))
    d.agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_tok")).as("n_tokens"),
      sum(octet_length(col("text")).cast("long")).as("n_bytes"),
      countDistinct(col("lang")).as("n_langs"),
      countDistinct(md5(col("text"))).as("n_uniq_texts"),
      min(col("n_tok")).as("min_tok"), max(col("n_tok")).as("max_tok"))
  }

  /** Token counting (whitespace + BPE-ish regex), oracle-checked. */
  def textTokens(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"),
      TextAnalysis.tokenCountWs(col("text")).as("n_ws"),
      TextAnalysis.tokenCountBpe(col("text")).as("n_bpe"))
      .orderBy("doc_id")

  /** Quality signals, oracle-checked. Outputs exact integer numerators/
    * denominators rather than rounded ratios: `round(sum/n, 2)` diverges
    * between engines at decimal-halfway points that are binary-inexact
    * (Spark rounds the shortest decimal repr, DuckDB the binary value —
    * e.g. 4.725 → 4.73 vs 4.72). The ratio form lives in
    * [[TextAnalysis.qualitySignals]]; the exact form is what the gate
    * checks.
    */
  def textQuality(s: SparkSession, dir: String): DataFrame = {
    val tokens = split(lower(trim(col("text"))), " ")
    val stop = Seq("the", "a", "of", "and", "to", "in", "is", "that", "it", "for")
    t(s, dir, "documents").select(col("doc_id"),
      size(tokens).cast("long").as("n_tokens"),
      graft.functions.Sketches.sumStrLen(tokens).as("sum_token_len"),
      graft.functions.Sketches.countInSet(tokens, stop)
        .cast("long").as("n_stop"),
      (length(col("text")) - length(regexp_replace(col("text"), "[^a-zA-Z0-9\\s]", "")))
        .cast("long").as("n_punct"),
      length(col("text")).cast("long").as("n_chars_measured"))
      .orderBy("doc_id")
  }

  /** Gopher quality rules ([[TextAnalysis.gopherSignals]]): exact
    * integer counts plus the cross-multiplied integer gate —
    * oracle-checked including the pass bit itself. */
  def textGopher(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"),
      TextAnalysis.gopherSignals(col("text")).as("g"))
      .select(col("doc_id"),
        col("g.n_tokens").as("n_tokens"),
        col("g.sum_token_len").as("sum_token_len"),
        col("g.n_alpha_words").as("n_alpha_words"),
        col("g.n_stop_distinct").as("n_stop_distinct"),
        col("g.n_hash").as("n_hash"),
        col("g.n_ellipsis").as("n_ellipsis"),
        col("g.n_lines").as("n_lines"),
        col("g.n_bullet_lines").as("n_bullet_lines"),
        col("g.n_ellipsis_lines").as("n_ellipsis_lines"),
        col("g.pass").as("pass"))
      .orderBy("doc_id")

  /** Crawl-frontier URL filter ([[graft.operators.UrlFilter]]) over a
    * synthetic frontier with deliberate scheme / extension / depth /
    * param-count variety keyed off orders — oracle-checked including
    * the keep gate. */
  def synthFrontierUrls(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").select(col("o_orderkey"),
      concat(
        when(col("o_orderkey") % 13 === 0, lit("ftp://")).otherwise(lit("https://")),
        lit("h"), (col("o_custkey") % 17).cast("string"), lit(".example.org"),
        expr("repeat(concat('/s', cast(o_orderkey % 3 as string)), cast(o_custkey % 12 as int))"),
        lit("/page"), col("o_orderkey").cast("string"),
        element_at(array(Seq("", ".html", ".jpg", ".css", ".pdf", ".php", ".js")
          .map(lit): _*), ((col("o_orderkey") % 7) + 1).cast("int")),
        when(col("o_orderkey") % 5 === 0,
          concat(lit("?q=1"), expr("repeat('&p=2', cast(o_custkey % 10 as int))")))
          .otherwise(lit(""))).as("url"))

  def urlFilter(s: SparkSession, dir: String): DataFrame =
    graft.operators.UrlFilter.crawlFilter(
        synthFrontierUrls(s, dir), "o_orderkey", "url")
      .orderBy("o_orderkey")

  /** Deterministic per-host robots rules over the 17 synthetic hosts:
    * a root rule (deny on every 5th host), an /s0 rule alternating by
    * host parity, a longer /s0/s0 override on every 3rd, and a /page
    * deny on every 7th — so longest-match precedence, allow-wins-ties,
    * and the no-rule default all occur in the data. */
  def synthRobotsRules(s: SparkSession): DataFrame = {
    import s.implicits._
    (0 until 17).flatMap { k =>
      val host = s"h$k.example.org"
      Seq((host, "/", if (k % 5 == 0) 0L else 1L),
        (host, "/s0", (k % 2).toLong)) ++
        (if (k % 3 == 0) Seq((host, "/s0/s0", 1L)) else Nil) ++
        (if (k % 7 == 0) Seq((host, "/page", 0L)) else Nil) ++
        // RFC 9309 wildcards: a '*.jpg$' block and a '*'-infix allow —
        // both LONGER than every plain rule, so the most-specific-match
        // order decides real winners on the synthetic frontier
        (if (k % 4 == 0) Seq((host, "/*.jpg$", 0L)) else Nil) ++
        (if (k % 6 == 0) Seq((host, "/s1*page", 1L)) else Nil) ++
        // query-string rule (the RFC 9309 path+query target): a
        // sessionid-style deny that only matches now that the
        // operator matches past the '?'
        (if (k % 2 == 1) Seq((host, "/*?q=1", 0L)) else Nil)
    }.toDF("host", "path_prefix", "allow")
  }

  /** Robots screen ([[graft.operators.UrlFilter.robotsFilter]]) over the
    * synthetic frontier — oracle-checked including the longest-match
    * winner and the allowed bit. */
  def urlRobots(s: SparkSession, dir: String): DataFrame =
    graft.operators.UrlFilter.robotsFilter(
        synthFrontierUrls(s, dir), "o_orderkey", "url", synthRobotsRules(s))
      .orderBy("o_orderkey")

  /** Heuristic language ID (stopword argmax; accuracy bound in tests). */
  def textLangid(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), TextAnalysis.langId(col("text")).as("pred_lang"))
      .orderBy("doc_id")

  /** Per-doc top-3 salient terms by TF-IDF
    * ([[TextAnalysis.topTermsTfIdf]]), oracle-checked: linear-idf ppm
    * scoring keeps every compared quantity inside correctly-rounded
    * IEEE arithmetic, so ranking, ties, and values agree bit-for-bit
    * with the DuckDB window formulation. */
  def textTfidf(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.topTermsTfIdf(t(s, dir, "documents"), "doc_id", "text", k = 3)
      .orderBy("doc_id", "rank")

  /** BM25 more-like-this ([[TextAnalysis.bm25MoreLikeThis]]): every
    * 97th document plays the held-out eval item, its distinct-term set
    * the query; top-5 lexical neighbours among the other documents.
    * ORACLE-CHECKED — both BM25 factors are cleared to integer
    * rationals (ppm DIV, never log()/float division), so scores, ranks,
    * and the (score DESC, doc_id ASC) tie order agree bit-for-bit with
    * the DuckDB window formulation. */
  def textBm25(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.bm25MoreLikeThis(t(s, dir, "documents"), "doc_id", "text",
        id => id % 97 === 0, k = 5)
      .orderBy("query_id", "rank")

  /** Hybrid lexical+dense retrieval by reciprocal-rank fusion (RRF,
    * Cormack et al. 2009) — the retrieval shape RAG-corpus triage
    * actually runs, ORACLE-CHECKED end to end (round 19): the lexical
    * arm is [[textBm25]]'s exact-integer BM25 at k = 10 and the dense
    * arm is [[annQ8]]'s int8-integer-dot brute-force top-10, both over
    * the SAME `% 97` query set (doc_id and vec_id share the dense
    * 0..N−1 domain); the dense self-hit is dropped AFTER ranking (its
    * rank-1 slot stays burned — documented, and mirrored in the
    * oracle). Fusion is pure integer arithmetic —
    * `rrf_ppm = Σ_arm 10⁶ DIV (60 + rank)`, the paper's k = 60 —
    * over a full-outer join on (query, doc), so docs surfaced by one
    * arm only still score. Top-5 per query via the bounded TopKAgg
    * heap ((rrf DESC, id ASC) ties), never a global sort. Both arms
    * keep their own scale shapes: broadcast-gated posting joins and
    * the broadcast probe batch. */
  def retrieveHybrid(s: SparkSession, dir: String): DataFrame = {
    val lex = TextAnalysis.bm25MoreLikeThis(t(s, dir, "documents"), "doc_id",
        "text", id => id % 97 === 0, k = 10)
      .select(col("query_id").as("qid"), col("doc_id").as("id"),
        col("rank").as("r_lex"))
    val emb = t(s, dir, "embeddings")
    val dense = Similarity.bruteForceTopKQ8(emb,
        emb.filter(col("vec_id") % 97 === 0),
        "vec_id", "vec_id", "embedding", k = 10)
      .filter(col("id") =!= col("qid"))
      .select(col("qid"), col("id"), col("rank").cast("long").as("r_dense"))
    lex.join(dense, Seq("qid", "id"), "full_outer")
      .select(col("qid"), col("id"),
        (coalesce(expr("1000000L DIV (60L + r_lex)"), lit(0L)) +
         coalesce(expr("1000000L DIV (60L + r_dense)"), lit(0L))).as("rrf_ppm"),
        coalesce(col("r_lex"), lit(0L)).as("r_lex"),
        coalesce(col("r_dense"), lit(0L)).as("r_dense"))
      .groupBy("qid")
      .agg(graft.functions.TopKAgg.topK(
        struct(col("rrf_ppm"), (-col("id")).as("nid"),
          col("r_lex"), col("r_dense")), 5).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("i", "sel")))
      .select(col("qid"), (col("i") + 1).cast("long").as("rank"),
        (-col("sel.nid")).as("id"), col("sel.rrf_ppm").as("rrf_ppm"),
        col("sel.r_lex").as("r_lex"), col("sel.r_dense").as("r_dense"))
      .orderBy("qid", "rank")
  }

  /** Winnowing-family content fingerprint, ORACLE-CHECKED: min and max
    * md5 over the char-8-gram shingle set — the single-permutation
    * MinHash bound pair, robust to within-document reordering, exactly
    * reproducible in any engine with md5 (unlike the codegen'd rolling
    * FNV of [[textFingerprint]], which stays rows-only by design). A
    * one-pass codegen kernel ([[graft.functions.ShingleMd5Bounds]]):
    * no shingle array, no per-gram strings, no explode, no shuffle —
    * the reduction happens inside the scan projection. */
  def textWinnow(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"),
        graft.functions.Sketches.shingleMd5Bounds(col("text"), 8).as("b"))
      .select(col("doc_id"),
        col("b.n_grams").as("n_grams"),
        col("b.min_md5").as("min_md5"),
        col("b.max_md5").as("max_md5"))
      .orderBy("doc_id")

  /** Rolling-hash fingerprint (custom expression; determinism in tests). */
  def textFingerprint(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fingerprint"))
      .orderBy("doc_id")

  /** Intra-doc repetition counts ([[TextAnalysis.repetitionSignals]]),
    * oracle-checked: the DuckDB side rebuilds the shingle kernel's
    * unigram/bigram semantics (kernel whitespace class, shingle-whole-
    * when-short) and compares exact integers. */
  def textRepetition(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.repetitionSignals(col("text")).as("r"))
      .select(col("doc_id"), col("r.n_tokens").as("n_tokens"),
        col("r.n_uniq_tokens").as("n_uniq_tokens"),
        col("r.n_bigrams").as("n_bigrams"),
        col("r.n_uniq_bigrams").as("n_uniq_bigrams"))
      .orderBy("doc_id")

  /** PII redaction ([[TextAnalysis.redactPii]]) over documents carrying
    * deterministic synthesized PII (the corpus itself has none — same
    * synthesize-then-recover pattern as [[mmDecode]]): an email and an
    * IPv4 derived from doc_id are appended, the scrub has to find and
    * replace them in the actual text, and the oracle re-runs the same
    * RE2-safe patterns in DuckDB — counts plus an md5 over the full
    * redacted text, so every byte of the replacement output is
    * checked. */
  def textRedact(s: SparkSession, dir: String): DataFrame = {
    val withPii = concat(col("text"), lit(" contact user"), col("doc_id"),
      lit("@mail.example.com or 10."), pmod(col("doc_id"), lit(256)), lit(".0.1"))
    t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.redactPii(withPii).as("r"))
      .select(col("doc_id"), col("r.n_emails").as("n_emails"),
        col("r.n_ips").as("n_ips"), md5(col("r.redacted")).as("redacted_md5"))
      .orderBy("doc_id")
  }

  /** Multimodal: byte length of the opaque payload (oracle-checked). */
  def mmBytes(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), octet_length(col("text")).as("n_bytes"))
      .orderBy("doc_id")

  /** Multimodal decode through the REAL header codec
    * ([[Multimodal.HeaderDecoder]]): per-row deterministic PNG/JPEG
    * blobs with genuine container headers (valid signatures, IHDR CRC,
    * SOF marker layout) are synthesized from doc_id, decoded by
    * magic-byte parsing, and the (kind, width, height) round-trip is
    * oracle-checked — the oracle knows the synthesized geometry, the
    * codec has to recover it from the actual bytes. */
  def mmDecode(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Encoders
    val ids = t(s, dir, "documents")
      .select(col("doc_id").cast("long")).as(Encoders.scalaLong)
    val media = ids.mapPartitions { it =>
      it.map { id =>
        val w = (320 + id % 1601).toInt
        val h = (240 + id % 1081).toInt
        Multimodal.MediaRow(id,
          if (id % 2 == 0) Multimodal.MediaFixtures.png(w, h)
          else Multimodal.MediaFixtures.jpeg(w, h))
      }
    }(Encoders.product[Multimodal.MediaRow])
    Multimodal.decode(media, Multimodal.HeaderDecoder).toDF()
      .select(col("media_id"), col("kind"), col("width"), col("height"))
      .orderBy("media_id")
  }

  /** Audio metadata through the real WAV codec: per-row byte-valid
    * RIFF/WAVE containers (fmt chunk, PCM fields, empty data chunk)
    * synthesized from doc_id, sample rate recovered from the actual
    * bytes by [[Multimodal.HeaderDecoder]]'s chunk walk, oracle-checked
    * against the synthesized closed form — the audio-modality twin of
    * [[mmDecode]]. */
  def mmAudio(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Encoders
    val ids = t(s, dir, "documents")
      .select(col("doc_id").cast("long")).as(Encoders.scalaLong)
    val media = ids.mapPartitions { it =>
      it.map { id =>
        Multimodal.MediaRow(id,
          Multimodal.MediaFixtures.wav((8000 + id % 40000).toInt))
      }
    }(Encoders.product[Multimodal.MediaRow])
    Multimodal.decode(media, Multimodal.HeaderDecoder).toDF()
      .select(col("media_id"), col("kind"), col("sample_rate_hz"))
      .orderBy("media_id")
  }

  /** REAL PCM sample decode ([[Multimodal.PcmDecoder]], the JDK's
    * javax.sound.sampled): per-row PCM16 mono WAVs carrying 100–256
    * deterministic samples sᵢ = (doc_id·31 + i·17) mod 65536 − 32768
    * are synthesized from doc_id, the decoder recovers the actual
    * sample values from the container bytes, and (rate, count, Σsᵢ,
    * Σ(i+1)·sᵢ) are oracle-checked against the closed form — the
    * position-weighted checksum makes a decode that permutes, drops,
    * or sign-flips samples unable to match. Exact integer arithmetic
    * end to end, so the comparison is bit-for-bit. */
  def mmPcm(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Encoders
    val ids = t(s, dir, "documents")
      .select(col("doc_id").cast("long")).as(Encoders.scalaLong)
    val media = ids.mapPartitions { it =>
      it.map { id =>
        val n = (100 + id % 157).toInt
        val samples = Array.tabulate(n)(i =>
          ((id * 31 + i * 17) % 65536 - 32768).toShort)
        Multimodal.MediaRow(id,
          Multimodal.MediaFixtures.wavPcm((8000 + id % 40000).toInt, samples))
      }
    }(Encoders.product[Multimodal.MediaRow])
    Multimodal.decodePcm(media).toDF()
      .select(col("media_id"), col("sample_rate_hz").cast("long").as("sample_rate_hz"),
        col("n_samples"), col("sum_samples"), col("wsum_samples"))
      .orderBy("media_id")
  }

  /** HAMMING-TOLERANT perceptual image near-dedup — the scale path
    * the exact-collision [[mmImagePhash]] scaladoc promises: when
    * re-exports perturb a few hash bits instead of none, grouping
    * needs banded LSH over the aHash (4×16-bit bands — any pair
    * within Hamming distance ≤ 3 shares a band, the [[graft
    * operators.Dedup.simhashDocs]] argument), an equi-join ONLY on
    * band collisions, a popcount verify (`bit_count`, codegen'd) on
    * the candidates, and [[graft.operators.Dedup.clusters]] — the
    * same contracted-graph treatment (driver union-find under the
    * edge limit, distributed label propagation above it) the MinHash
    * family uses. Never a pairwise comparison: candidates ∝ band
    * collisions, edges ∝ verified near-dups. The corpus makes the
    * discovery REAL but the truth closed-form: [[graft.operators
    * Multimodal.MediaFixtures.imageGrayCells]] gives full 64-bit
    * control of the hash, so each content (doc_id mod 55) plants a
    * splitmix64 base pattern and two one-bit-flipped variants
    * (distance ≤ 2 within a content, ≥ 16 across contents — margins
    * machine-checked in MultimodalSpec), in three containers. The
    * oracle never computes a hash: clusters ARE the planted contents,
    * `GROUP BY doc_id % 55`. */
  def mmImageNeardup(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Encoders
    val ids = t(s, dir, "documents")
      .select(col("doc_id").cast("long")).as(Encoders.scalaLong)
    val media = ids.mapPartitions { it =>
      it.map { id =>
        val m = (id % 55).toInt
        val base = Multimodal.MediaFixtures.splitmix64(m.toLong)
        val b1 = (m * 17 + 3) % 64
        val b2raw = (m * 29 + 11) % 64
        val b2 = if (b2raw == b1) (b2raw + 1) % 64 else b2raw
        val v = (id % 3).toInt
        val pattern = v match {
          case 0 => base
          case 1 => base ^ (1L << b1)
          case _ => base ^ (1L << b2)
        }
        Multimodal.MediaRow(id, Multimodal.MediaFixtures.imageGrayCells(
          pattern, Seq("png", "bmp", "gif")(v)))
      }
    }(Encoders.product[Multimodal.MediaRow])
    neardupClusters(Multimodal.decodeImageAHash(media).toDF()
      .select(col("media_id"), col("ahash_hi"), col("ahash_lo")))
  }

  /** Shared banded-Hamming clustering over a 64-bit fingerprint in
    * two 32-bit halves (`media_id`, `ahash_hi`, `ahash_lo`): 4×16-bit
    * bands (any pair within Hamming distance 3 shares one), an
    * equi-join on band collisions only, `bit_count` popcount verify
    * at `maxDist`, then [[graft.operators.Dedup.clusters]]'
    * contracted-graph components. Shared by [[mmImageNeardup]] and
    * [[mmAudioNeardup]] — the fingerprint family differs, the scale
    * shape does not. Returns (keep_id, n_dups) per cluster. */
  private def neardupClusters(hashesIn: DataFrame, maxDist: Int = 2): DataFrame = {
    val hashes = hashesIn.localCheckpoint() // decode once: banding + verify reuse it
    val banded = hashes.select(col("media_id"),
      posexplode(array(
        col("ahash_lo").bitwiseAND(lit(65535L)),
        shiftright(col("ahash_lo"), 16).bitwiseAND(lit(65535L)) + 100000L,
        col("ahash_hi").bitwiseAND(lit(65535L)) + 200000L,
        shiftright(col("ahash_hi"), 16).bitwiseAND(lit(65535L)) + 300000L))
        .as(Seq("band_idx", "band_key")))
      .select(col("media_id"), col("band_key"))
    val cands = banded.as("a").join(banded.as("b"), Seq("band_key"))
      .filter(col("a.media_id") < col("b.media_id"))
      .select(col("a.media_id").as("id_a"), col("b.media_id").as("id_b"))
      .distinct()
    val ha = hashes.select(col("media_id").as("id_a"),
      col("ahash_hi").as("hi_a"), col("ahash_lo").as("lo_a"))
    val hb = hashes.select(col("media_id").as("id_b"),
      col("ahash_hi").as("hi_b"), col("ahash_lo").as("lo_b"))
    val pairs = cands.join(ha, "id_a").join(hb, "id_b")
      .filter(expr("bit_count(hi_a ^ hi_b) + bit_count(lo_a ^ lo_b)") <= lit(maxDist))
      .select(col("id_a"), col("id_b"))
    val idsDf = hashes.select(col("media_id"))
    graft.operators.Dedup.clusters(idsDf, "media_id", pairs)
      .groupBy("cluster_id")
      .agg(min(col("id")).as("keep_id"), count(lit(1)).as("n_dups"))
      .select(col("keep_id"), col("n_dups"))
      .orderBy("keep_id")
  }

  /** HAMMING-TOLERANT audio near-dedup — [[mmImageNeardup]]'s audio
    * twin over the [[graft.operators.Multimodal.audioFp]] energy
    * envelope: per-window constant amplitudes (100 when the planted
    * pattern bit is set, 30 otherwise, 8 samples per window) give
    * full 64-bit control of the fingerprint — 64·e_w > E holds for a
    * loud window and fails for a quiet one whenever 1 ≤ popcount ≤
    * 63, so the envelope RECONSTRUCTS the pattern and one-window
    * re-masters flip exactly one bit. Content = doc_id mod 45 plants
    * a splitmix64 base plus two one-bit-flipped variants (≤ 2 within,
    * ≥ 18 across — spec-checked), discovered by the same banding +
    * popcount verify + contracted-graph clustering; the oracle is
    * again hash-free. */
  def mmAudioNeardup(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Encoders
    val ids = t(s, dir, "documents")
      .select(col("doc_id").cast("long")).as(Encoders.scalaLong)
    val media = ids.mapPartitions { it =>
      it.map { id =>
        val m = (id % 45).toInt
        val base = Multimodal.MediaFixtures.splitmix64(m + 1000L)
        val b1 = (m * 13 + 5) % 64
        val b2raw = (m * 23 + 9) % 64
        val b2 = if (b2raw == b1) (b2raw + 1) % 64 else b2raw
        val pattern = (id % 3).toInt match {
          case 0 => base
          case 1 => base ^ (1L << b1)
          case _ => base ^ (1L << b2)
        }
        val samples = Array.tabulate(512) { i =>
          (if (((pattern >>> (i / 8)) & 1L) == 1L) 100 else 30).toShort
        }
        Multimodal.MediaRow(id, Multimodal.MediaFixtures.wavPcm(8000, samples))
      }
    }(Encoders.product[Multimodal.MediaRow])
    neardupClusters(Multimodal.decodeAudioFp(media).toDF()
      .select(col("media_id"), col("fp_hi").as("ahash_hi"), col("fp_lo").as("ahash_lo")))
  }

  /** CONTENT-level image dedup — completes the modality triple with
    * [[mmVideoDedup]] and [[mmAudioDedup]]: still images grouped by a
    * signature of their DECODED raster (geometry, Σsample,
    * row-weighted Σ(y+1)·s), so the same picture in different LOSSLESS
    * containers collides. The corpus plants exactly that: raster
    * content from doc_id mod 100, container chosen by doc_id mod 3 —
    * PNG, BMP, or GIF, three real JDK codecs whose bytes share nothing
    * (different magic, different compression), one pixel signature.
    * Lossless codecs round-trip sample-exact at any geometry (no block
    * alignment needed, unlike the JPEG fixture), so the closed-form
    * oracle is exact. Same scale shape as the twins: in-task
    * reduction, one map-side-combining groupBy of four integers per
    * image, min-id-keeps, no pairwise comparison. */
  def mmImageDedup(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Encoders
    val ids = t(s, dir, "documents")
      .select(col("doc_id").cast("long")).as(Encoders.scalaLong)
    val media = ids.mapPartitions { it =>
      it.map { id =>
        val m = id % 100                                // content id
        val w = (24 + m % 40).toInt
        val h = (16 + (m % 12) * 2).toInt
        val v1 = ((m * 7 + 5) % 256).toInt
        val v2 = ((m * 11 + 9) % 256).toInt
        val fmt = Seq("png", "bmp", "gif")((id % 3).toInt)
        Multimodal.MediaRow(id,
          Multimodal.MediaFixtures.imageGrayHalves(w, h, v1, v2, fmt))
      }
    }(Encoders.product[Multimodal.MediaRow])
    Multimodal.decodeImagePixels(media).toDF()
      .groupBy("width", "height", "sum_px", "wsum_px")
      .agg(min(col("media_id")).as("keep_id"), count(lit(1)).as("n_dups"))
      .select(col("keep_id"), col("n_dups"), col("width"), col("height"),
        col("sum_px"), col("wsum_px"))
      .orderBy("keep_id")
  }

  /** One blob's modality + normalized perceptual signature, the unit
    * of the [[mmCurate]] single-pass sweep (s1–s4 carry the
    * modality-specific group key: image w/h/hash, audio rate/count/fp,
    * video frames/packed-geometry/sequence-hash). */
  final case class CurateSig(kind: String, s1: Long, s2: Long, s3: Long, s4: Long)

  /** MULTIMODAL CURATION CAPSTONE — the pass a mixed 100 TB media
    * dump actually needs, in ONE plan: every blob is triaged by
    * modality and reduced IN-TASK to its perceptual signature — 8×8
    * aHash for images ([[graft.operators.Multimodal.MjpegAvi.aHash]]),
    * 64-window energy envelope for audio ([[graft.operators
    * Multimodal.audioFp]]), order-weighted per-frame aHash sequence
    * for video ([[graft.operators.Multimodal.videoAHashSig]] — no
    * intermediate per-frame shuffle, unlike the standalone
    * [[mmVideoPhash]]) — then near-dup groups collapse and the rollup
    * reports kept vs dropped per modality. Three real decoders
    * (ImageIO, javax.sound, the MJPEG-AVI walk), one mapPartitions,
    * one map-side-combining groupBy chain; blobs never shuffle, five
    * longs per blob do. The corpus plants per-modality perceptual
    * re-exports (brightness/container for images, volume gain for
    * audio, brightness+fps for video — variant = (id mod 9)/3), so
    * every planted duplicate is invisible to byte- or pixel-exact
    * dedup and caught here; the closed-form oracle recomputes all
    * three signature families. */
  def mmCurate(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Encoders
    val ids = t(s, dir, "documents")
      .select(col("doc_id").cast("long")).as(Encoders.scalaLong)
    val sigs = ids.mapPartitions { it =>
      it.flatMap { id =>
        val v = ((id % 9) / 3).toInt                    // re-export variant
        (id % 3) match {
          case 0 =>                                     // image branch
            val m = (id % 60).toInt
            val bytes = Multimodal.MediaFixtures.imageGrayBands(
              24 + m % 40, 16 + (m % 3) * 8, m, 6 * v,
              Seq("png", "bmp", "gif")(v))
            Multimodal.MjpegAvi.aHash(bytes).map { case (w, h, hi, lo) =>
              CurateSig("image", w, h, hi, lo)
            }
          case 1 =>                                     // audio branch
            val m = (id % 50).toInt
            val n = 64 * (4 + m % 5)
            val bytes = Multimodal.MediaFixtures.wavPcm(
              8000 + (m % 5) * 1000,
              Array.tabulate(n)(i => (((m * 7 + i * 13) % 97 - 48) * (1 + v)).toShort))
            Multimodal.audioFp(bytes).map { case (rate, ns, hi, lo) =>
              CurateSig("audio", rate, ns, hi, lo)
            }
          case _ =>                                     // video branch
            val m = (id % 40).toInt
            val (w, h) = (16 + (m % 5) * 8, 16 + (m % 3) * 16)
            val frames = Seq.tabulate(2 + m % 4) { k =>
              Multimodal.MediaFixtures.jpegGrayHalves(w, h,
                ((m * 7 + 13L * k) % 200).toInt + 6 * v,
                ((m * 11 + 5L * k) % 200).toInt + 6 * v)
            }
            val bytes = Multimodal.MediaFixtures.aviMjpeg(w, h, (24 + id % 7).toInt, frames)
            Multimodal.videoAHashSig(bytes).map { case (nf, vw, vh, hi, lo) =>
              CurateSig("video", nf, vw.toLong * 65536 + vh, hi, lo)
            }
        }
      }
    }(Encoders.product[CurateSig])
    sigs.toDF()
      .groupBy("kind", "s1", "s2", "s3", "s4")
      .agg(count(lit(1)).as("c"))
      .groupBy("kind")
      .agg(sum(col("c")).as("n_total"),
        count(lit(1)).as("n_kept"),
        sum(col("c") - 1).as("n_dropped"))
      .orderBy("kind")
  }

  /** PERCEPTUAL image near-dedup — one rung above [[mmImageDedup]]'s
    * exact-content grouping: images grouped by their 8×8 AVERAGE-HASH
    * ([[graft.operators.Multimodal.MjpegAvi.aHash]]), the classic
    * perceptual fingerprint whose strict integer comparisons are
    * invariant under a uniform brightness shift. The corpus plants
    * exactly the duplicates exact pixel dedup can NEVER group:
    * content from doc_id mod 100 re-exported per doc_id mod 3 with a
    * different container (PNG/BMP/GIF) AND a different brightness
    * (delta = 6·(id mod 3)) — every byte differs, every Σsample
    * differs, the aHash collides by construction. Same 100 TB shape
    * as the dedup family: in-task raster reduction to five longs, one
    * map-side-combining groupBy on (geometry, hash), min-id-keeps, no
    * pairwise comparison; a Hamming-tolerant variant would reuse the
    * [[graft.operators.Dedup]] banding instead of the exact key. */
  def mmImagePhash(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Encoders
    val ids = t(s, dir, "documents")
      .select(col("doc_id").cast("long")).as(Encoders.scalaLong)
    val media = ids.mapPartitions { it =>
      it.map { id =>
        val m = (id % 100).toInt                        // content id
        val w = 24 + m % 40
        val h = 16 + (m % 3) * 8                        // multiple of 8
        val delta = ((id % 3) * 6).toInt                // brightness shift
        val fmt = Seq("png", "bmp", "gif")((id % 3).toInt)
        Multimodal.MediaRow(id,
          Multimodal.MediaFixtures.imageGrayBands(w, h, m, delta, fmt))
      }
    }(Encoders.product[Multimodal.MediaRow])
    Multimodal.decodeImageAHash(media).toDF()
      .groupBy("width", "height", "ahash_hi", "ahash_lo")
      .agg(min(col("media_id")).as("keep_id"), count(lit(1)).as("n_dups"))
      .select(col("keep_id"), col("n_dups"), col("width"), col("height"),
        col("ahash_hi"), col("ahash_lo"))
      .orderBy("keep_id")
  }

  /** PERCEPTUAL audio near-dedup — the audio twin of [[mmImagePhash]]
    * and one rung above [[mmAudioDedup]]: WAVs grouped by their
    * 64-window ENERGY-ENVELOPE fingerprint
    * ([[graft.operators.Multimodal.decodeAudioFp]]), whose strict
    * integer comparisons are invariant under a uniform volume gain.
    * The corpus plants exactly the duplicates exact-content dedup can
    * NEVER group: content from doc_id mod 75, re-released at gain
    * 1 + (doc_id mod 3) — every byte differs, every Σsample differs
    * by the gain, the envelope collides by construction (g² scales
    * both sides of every comparison). Sample count is 64·L with L =
    * 4 + m mod 5, so envelope windows align with whole samples and
    * the closed-form oracle is exact. Same 100 TB shape as the dedup
    * family: in-task reduction to five longs, one map-side-combining
    * groupBy, min-id-keeps, no pairwise comparison. */
  def mmAudioFp(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Encoders
    val ids = t(s, dir, "documents")
      .select(col("doc_id").cast("long")).as(Encoders.scalaLong)
    val media = ids.mapPartitions { it =>
      it.map { id =>
        val m = (id % 75).toInt                         // content id
        val g = 1 + (id % 3).toInt                      // volume gain
        val rate = 8000 + (m % 5) * 1000
        val n = 64 * (4 + m % 5)
        val samples = Array.tabulate(n) { i =>
          (((m * 7 + i * 13) % 97 - 48) * g).toShort
        }
        Multimodal.MediaRow(id, Multimodal.MediaFixtures.wavPcm(rate, samples))
      }
    }(Encoders.product[Multimodal.MediaRow])
    Multimodal.decodeAudioFp(media).toDF()
      .groupBy("sample_rate_hz", "n_samples", "fp_hi", "fp_lo")
      .agg(min(col("media_id")).as("keep_id"), count(lit(1)).as("n_dups"))
      .select(col("keep_id"), col("n_dups"), col("sample_rate_hz"),
        col("n_samples"), col("fp_hi"), col("fp_lo"))
      .orderBy("keep_id")
  }

  /** Audio TEMPORAL SEGMENTATION — silence-boundary voice-activity
    * detection, [[mmVideoScene]]'s audio twin (together they complete
    * the per-modality segment-then-sample pair a media pipeline runs
    * before windowed feature extraction): per 64-sample analysis
    * window the exact Σ|s| energy ([[Multimodal.decodeAudioWindows]]),
    * a window is silent iff energy = 0, and voiced windows group into
    * segments wherever consecutive (one lag window per blob over
    * window position — positions and energies cross the shuffle,
    * samples never do). The fixture alternates L-window voiced/silent
    * blocks (L = 1 + id mod 3, W = 6 + id mod 5 windows; voiced
    * samples from a mod-97 ramp that cannot sum to zero), so segment
    * counts have the closed form the oracle recomputes per window
    * position — the detector must decode real WAV bytes and reduce
    * real PCM to match. */
  def mmAudioScene(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Encoders
    val ids = t(s, dir, "documents")
      .select(col("doc_id").cast("long")).as(Encoders.scalaLong)
    val media = ids.mapPartitions { it =>
      it.map { id =>
        val wN = (6 + id % 5).toInt
        val sceneLen = (1 + id % 3).toInt
        // voiced sample: a mod-97 ramp in [-48, 48] — the step 13 is
        // invertible mod 97, so at most one zero sample lands in any
        // 64-sample window and every voiced window's Σ|s| is > 0
        val samples = Array.tabulate(wN * 64) { i =>
          if (((i / 64) / sceneLen) % 2 == 1) 0.toShort
          else (((id % 90) * 7 + i.toLong * 13) % 97 - 48).toShort
        }
        Multimodal.MediaRow(id,
          Multimodal.MediaFixtures.wavPcm((8000 + id % 3 * 1000).toInt, samples))
      }
    }(Encoders.product[Multimodal.MediaRow])
    val win = Multimodal.decodeAudioWindows(media, 64).toDF()
    val totals = win.groupBy(col("media_id"))
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("energy") > 0, 1L).otherwise(0L)).as("n_voiced"))
    val w = Window.partitionBy(col("media_id")).orderBy(col("win_idx"))
    val segs = win.filter(col("energy") > 0)
      .withColumn("prev", lag(col("win_idx"), 1).over(w))
      .groupBy(col("media_id"))
      .agg(sum(when(col("prev").isNull || col("win_idx") > col("prev") + 1, 1L)
        .otherwise(0L)).as("n_segments"))
    totals.join(segs, Seq("media_id"), "left")
      .select(col("media_id"), col("n_windows"), col("n_voiced"),
        coalesce(col("n_segments"), lit(0L)).as("n_segments"))
      .orderBy("media_id")
  }

  /** CONTENT-level audio dedup — the audio twin of [[mmVideoDedup]]:
    * WAVs grouped by a signature of their DECODED PCM16 samples
    * (rate, count, Σsᵢ, position-weighted Σ(i+1)·sᵢ — [[Multimodal
    * decodePcm]]'s four longs per blob), so byte-different files with
    * the same audio collide. The corpus plants exactly that: sample
    * content derives from doc_id mod 90, and every odd doc_id carries
    * a `LIST`/`INFO` comment tag naming its full doc_id — the
    * tagged-by-a-ripper re-release whose bytes md5 dedup can never
    * match — which the JDK's real WAV reader skips at decode. Shape at
    * scale: in-task reduction, one map-side-combining groupBy of four
    * integers per blob, min-id-keeps rollup, no pairwise comparison.
    * Oracle: signatures recomputed from the synthesis closed forms. */
  def mmAudioDedup(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Encoders
    val ids = t(s, dir, "documents")
      .select(col("doc_id").cast("long")).as(Encoders.scalaLong)
    val media = ids.mapPartitions { it =>
      it.map { id =>
        val m = id % 90                                 // content id
        val n = (100 + m % 157).toInt
        val samples = Array.tabulate(n)(i =>
          ((m * 31 + i * 17) % 65536 - 32768).toShort)
        val rate = (8000 + m % 40000).toInt
        Multimodal.MediaRow(id,
          if (id % 2 == 0) Multimodal.MediaFixtures.wavPcm(rate, samples)
          else Multimodal.MediaFixtures.wavPcmTagged(rate, samples, s"src=$id"))
      }
    }(Encoders.product[Multimodal.MediaRow])
    Multimodal.decodePcm(media).toDF()
      .groupBy(col("sample_rate_hz").cast("long").as("sample_rate_hz"),
        col("n_samples"), col("sum_samples"), col("wsum_samples"))
      .agg(min(col("media_id")).as("keep_id"), count(lit(1)).as("n_dups"))
      .select(col("keep_id"), col("n_dups"), col("sample_rate_hz"),
        col("n_samples"), col("sum_samples"), col("wsum_samples"))
      .orderBy("keep_id")
  }

  /** VIDEO container metadata through the real ISO BMFF box walk
    * ([[Multimodal.HeaderDecoder]].mp4Meta): per-row byte-valid MP4s
    * (ftyp + moov{mvhd, trak{tkhd}}, version-0 layouts, 16.16
    * fixed-point geometry) synthesized from doc_id; the decoder walks
    * the actual boxes to recover (width, height, duration ticks,
    * timescale), oracle-checked against the synthesized closed form —
    * the video-modality sibling of [[mmDecode]]/[[mmAudio]]. Frame
    * PIXEL decode stays behind the [[Multimodal.MediaDecoder]] seam
    * (no JDK video codec exists). */
  def mmVideo(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Encoders
    val ids = t(s, dir, "documents")
      .select(col("doc_id").cast("long")).as(Encoders.scalaLong)
    val media = ids.mapPartitions { it =>
      it.map { id =>
        Multimodal.MediaRow(id, Multimodal.MediaFixtures.mp4(
          w = (320 + id % 1601).toInt, h = (240 + id % 1081).toInt,
          timescaleHz = (24 + id % 7).toInt, durationTicks = (30 + id % 86400).toInt))
      }
    }(Encoders.product[Multimodal.MediaRow])
    Multimodal.decode(media, Multimodal.HeaderDecoder).toDF()
      .select(col("media_id"), col("kind"), col("width"), col("height"),
        col("n_frames").cast("long").as("duration_ticks"),
        col("sample_rate_hz").cast("long").as("timescale_hz"))
      .orderBy("media_id")
  }

  /** REAL video FRAME pixel decode ([[Multimodal.MjpegAvi]]): per-row
    * byte-valid MJPEG-in-AVI containers — 2–5 real JPEG frames per
    * blob, each frame a grayscale raster of two closed-form gray
    * levels (top half v1 = (id·7+13k) mod 256, bottom half
    * v2 = (id·11+5k) mod 256) encoded by the JDK JPEG writer at
    * quality 1.0. Block-uniform geometry (w ∈ 8ℤ, h ∈ 16ℤ) makes the
    * lossy codec's round trip EXACT, so the decoded per-frame pixel
    * sums Σs and Σ(row+1)·s have integer closed forms the oracle
    * recomputes — the decoder has to walk the real movi chunks AND
    * decode real JPEG entropy-coded data to match. The row-weighted
    * sum catches a decode that flips, crops, or pads rows; the frame
    * index catches dropped or reordered frames. The corpus is read
    * from the per-JVM store ([[videoCorpus]]): blob synthesis is
    * fixture cost, paid once. */
  def mmVideoFrames(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodeVideoFrames(videoCorpus(s, dir)).toDF()
      .orderBy("media_id", "frame_idx")

  /** One stored MJPEG-in-AVI corpus per (source dir, idMod) per JVM —
    * blob SYNTHESIS (JPEG encoding 2–5 frames per doc) is fixture cost
    * a real pipeline never pays per query, so like [[bucketedTables]]
    * it is paid once and the video queries measure what the operator
    * actually does at 100 TB: scan stored blobs, walk the container,
    * decode pixels. Any leftover directory from a previous JVM is
    * deleted before the write.
    *
    * `idMod = 0` derives each blob's CONTENT from the full doc_id
    * (all-distinct corpus, [[mmVideoFrames]]); a positive `idMod`
    * derives content from doc_id mod idMod, planting pixel-identical
    * duplicate groups — while the container FPS still comes from the
    * full doc_id, so group members differ at the BYTE level
    * (re-encoded/re-containered duplicates, [[mmVideoDedup]]'s prey). */
  private val videoStores = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def videoCorpus(s: SparkSession, dir: String, idMod: Long = 0L,
                          shifted: Boolean = false): org.apache.spark.sql.Dataset[Multimodal.MediaRow] = {
    import org.apache.spark.sql.Encoders
    val path = videoStores.computeIfAbsent(s"$dir#$idMod#$shifted", _ => {
      val tag = java.lang.Integer.toHexString(dir.hashCode)
      val loc = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"), s"graft_video_${tag}_${idMod}_$shifted")
      loc.getFileSystem(s.sparkContext.hadoopConfiguration).delete(loc, true)
      val ids = t(s, dir, "documents")
        .select(col("doc_id").cast("long")).as(Encoders.scalaLong)
      ids.mapPartitions { it =>
        it.map { id =>
          val m = if (idMod > 0) id % idMod else id     // content id
          val w = (16 + (m % 5) * 8).toInt
          val h = (16 + (m % 3) * 16).toInt
          val n = (2 + m % 4).toInt
          // shifted mode: half values mod 200 plus a uniform brightness
          // delta from the FULL id — the [[mmVideoPhash]] re-exports
          // (delta ≤ 12 keeps every sample under 256, no wrap)
          val delta = if (shifted) ((id % 3) * 6).toInt else 0
          val modv = if (shifted) 200L else 256L
          val frames = Seq.tabulate(n) { k =>
            Multimodal.MediaFixtures.jpegGrayHalves(w, h,
              ((m * 7 + 13L * k) % modv).toInt + delta,
              ((m * 11 + 5L * k) % modv).toInt + delta)
          }
          Multimodal.MediaRow(id,
            Multimodal.MediaFixtures.aviMjpeg(w, h, (24 + id % 7).toInt, frames))
        }
      }(Encoders.product[Multimodal.MediaRow])
        .write.mode("overwrite").parquet(loc.toString)
      loc.toString
    })
    s.read.parquet(path).as(Encoders.product[Multimodal.MediaRow])
  }

  /** Scene-structured MJPEG-in-AVI corpus for [[mmVideoScene]] (the
    * [[videoCorpus]] store pattern, one directory per JVM): each video
    * has `n = 5 + id%6` frames in scenes of length `L = 2 + id%3`;
    * within a scene every frame is identical, and at each scene
    * boundary the two gray halves SWAP brightness order (even scene:
    * top 160+x / bottom 40+x, odd scene: reversed) — so the per-frame
    * aHash flips all 64 bits exactly at the cuts and nowhere else,
    * giving the detector a closed-form ground truth: cuts at multiples
    * of L, `ceil(n/L)` scenes. */
  private def sceneVideoCorpus(s: SparkSession, dir: String)
      : org.apache.spark.sql.Dataset[Multimodal.MediaRow] = {
    import org.apache.spark.sql.Encoders
    val path = videoStores.computeIfAbsent(s"$dir#scene", _ => {
      val tag = java.lang.Integer.toHexString(dir.hashCode)
      val loc = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"), s"graft_video_${tag}_scene")
      loc.getFileSystem(s.sparkContext.hadoopConfiguration).delete(loc, true)
      val ids = t(s, dir, "documents")
        .select(col("doc_id").cast("long")).as(Encoders.scalaLong)
      ids.mapPartitions { it =>
        it.map { id =>
          val w = (16 + (id % 5) * 8).toInt
          val h = (16 + (id % 3) * 16).toInt
          val n = (5 + id % 6).toInt
          val sceneLen = (2 + id % 3).toInt
          val x = (id % 40).toInt
          val frames = Seq.tabulate(n) { k =>
            val even = (k / sceneLen) % 2 == 0
            val (v1, v2) = if (even) (160 + x, 40 + x) else (40 + x, 160 + x)
            Multimodal.MediaFixtures.jpegGrayHalves(w, h, v1, v2)
          }
          Multimodal.MediaRow(id,
            Multimodal.MediaFixtures.aviMjpeg(w, h, (24 + id % 7).toInt, frames))
        }
      }(Encoders.product[Multimodal.MediaRow])
        .write.mode("overwrite").parquet(loc.toString)
      loc.toString
    })
    s.read.parquet(path).as(Encoders.product[Multimodal.MediaRow])
  }

  /** Video TEMPORAL SEGMENTATION — scene-cut detection, the step a
    * video training pipeline runs between container walk and frame
    * sampling (sample per SCENE, not per fixed stride, or a 2-hour
    * static shot eats the token budget a montage deserves): a cut at
    * frame k iff hamming(aHash_k, aHash_{k−1}) > τ over the per-frame
    * perceptual hashes of [[Multimodal.decodeVideoAHash]] — the
    * brightness-shift-invariant detector actual shot-boundary systems
    * build on. One window (partitionBy video, orderBy stream position,
    * lag 1) + one aggregate; at 100 TB the window shuffles (video_id,
    * 2×i64 hash) rows, never pixels — frame decode happened in the
    * same task that read the blob. Closed-form fixture
    * ([[sceneVideoCorpus]]) ⇒ fully oracle-checked: n_scenes =
    * ceil(n/L), first cut at L. */
  def mmVideoScene(s: SparkSession, dir: String): DataFrame = {
    val frames = Multimodal.decodeVideoAHash(sceneVideoCorpus(s, dir)).toDF()
    val w = Window.partitionBy(col("media_id")).orderBy(col("frame_idx"))
    frames
      .withColumn("ph", lag(col("ahash_hi"), 1).over(w))
      .withColumn("pl", lag(col("ahash_lo"), 1).over(w))
      .withColumn("cut", col("ph").isNotNull &&
        (bit_count(col("ahash_hi").bitwiseXOR(col("ph"))) +
          bit_count(col("ahash_lo").bitwiseXOR(col("pl")))) > 16)
      .groupBy(col("media_id"))
      .agg(count(lit(1)).as("n_frames"),
        (coalesce(sum(when(col("cut"), 1L)), lit(0L)) + 1L).as("n_scenes"),
        min(when(col("cut"), col("frame_idx"))).cast("long").as("first_cut"))
      .orderBy("media_id")
  }

  /** CONTENT-level video dedup: group videos by a signature of their
    * DECODED FRAME PIXELS — n_frames, geometry, and three exact frame
    * reductions (Σ per-frame pixel sum, its frame-order-weighted twin
    * Σ(k+1)·sum_k, and Σ row-weighted wsum_k) — so two AVIs whose
    * containers differ byte-for-byte (different fps header, different
    * entropy bytes after a re-encode) still collide when their pixels
    * match, which is exactly what byte-hash dedup ([[Extensions
    * dedup_exact]]'s md5) can never catch. The corpus plants such
    * groups: content from doc_id mod 120, container fps from the full
    * doc_id. The frame-ORDER-weighted component keeps two videos with
    * the same frames in different order apart. Shape at scale: decode
    * reduces per-frame to longs in-task, the signature is one
    * map-side-combining groupBy of six integers per video, dup groups
    * roll up with min-id-keeps — no pairwise comparison anywhere.
    * Oracle: the same arithmetic from the synthesis closed forms. */
  def mmVideoDedup(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodeVideoFrames(videoCorpus(s, dir, idMod = 120L)).toDF()
      .groupBy("media_id")
      .agg(count(lit(1)).as("n_frames"),
        max(col("width")).as("width"), max(col("height")).as("height"),
        sum(col("sum_px")).as("sig_sum"),
        sum((col("frame_idx") + 1L) * col("sum_px")).as("sig_osum"),
        sum(col("wsum_px")).as("sig_wsum"))
      .groupBy("n_frames", "width", "height", "sig_sum", "sig_osum", "sig_wsum")
      .agg(min(col("media_id")).as("keep_id"), count(lit(1)).as("n_dups"))
      .select(col("keep_id"), col("n_dups"), col("n_frames"),
        col("width"), col("height"), col("sig_sum"), col("sig_osum"), col("sig_wsum"))
      .orderBy("keep_id")

  /** PERCEPTUAL video near-dedup — the video rung completing the
    * perceptual triple with [[mmImagePhash]] and [[mmAudioFp]]:
    * videos grouped by an ORDER-WEIGHTED sum of per-frame aHashes
    * (Σ(k+1)·hash_k over [[graft.operators.Multimodal
    * decodeVideoAHash]]). Each frame hash is brightness-shift-
    * invariant, so the whole signature is; the (k+1) weight keeps
    * frame order significant. The corpus plants re-exports exact
    * pixel dedup ([[mmVideoDedup]]) can NEVER group: content from
    * doc_id mod 110, fps from the full id AND a brightness delta =
    * 6·(id mod 3) added to every sample — every byte differs, every
    * frame's Σsample differs, the aHash sequence collides by
    * construction. Frames are two gray halves with h ∈ 16ℤ, so the
    * 8×8 grid aligns with the half boundary and each frame hash is
    * exactly 2³²−1 in the winning half (delta cancels in the strict
    * compare) — the closed-form oracle recomputes that sign pattern.
    * Same 100 TB shape: per-frame in-task reduction, one
    * map-side-combining groupBy per video, min-id-keeps. */
  def mmVideoPhash(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodeVideoAHash(videoCorpus(s, dir, idMod = 110L, shifted = true)).toDF()
      .groupBy("media_id")
      .agg(count(lit(1)).as("n_frames"),
        max(col("width")).as("width"), max(col("height")).as("height"),
        sum((col("frame_idx") + 1L) * col("ahash_hi")).as("sig_hi"),
        sum((col("frame_idx") + 1L) * col("ahash_lo")).as("sig_lo"))
      .groupBy("n_frames", "width", "height", "sig_hi", "sig_lo")
      .agg(min(col("media_id")).as("keep_id"), count(lit(1)).as("n_dups"))
      .select(col("keep_id"), col("n_dups"), col("n_frames"),
        col("width"), col("height"), col("sig_hi"), col("sig_lo"))
      .orderBy("keep_id")

  /** SAMPLED video frame decode: the same MJPEG-in-AVI corpus as
    * [[mmVideoFrames]] decoded at an every-3rd-frame cadence — the
    * sweep shape a 100 TB video pass actually runs: the chunk walk
    * touches every frame (byte arithmetic), the JPEG entropy decode
    * (the dominant cost) runs only on kept frames, so cost is ∝ 1/N.
    * Oracle = the mm_video_frames closed form filtered to sampled
    * positions — proving the skip happens by STREAM position, not
    * after decode. */
  def mmVideoSample(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodeVideoFrames(videoCorpus(s, dir), everyN = 3).toDF()
      .orderBy("media_id", "frame_idx")

  /** Multimodal CENSUS capstone: a MIXED-container corpus (PNG, JPEG,
    * WAV, MP4, AVI by doc_id mod 5, every blob byte-valid) through ONE
    * [[Multimodal.HeaderDecoder]] pass, gated by modality-specific
    * predicates (images: minimum geometry; audio: sample-rate band;
    * mp4: minimum duration; avi: frame-rate floor + geometry), rolled
    * up per kind — the triage-the-crawl pass a mixed 100 TB media dump
    * needs before any expensive pixel/sample decode, and the proof the
    * five container walks compose in one plan. The AVI blobs are
    * header-only (empty movi): a metadata triage reads headers, and a
    * byte-valid frameless AVI is exactly that cost. Exact integers end
    * to end; oracle-checked against the synthesized closed form. */
  def mmCensus(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Encoders
    val ids = t(s, dir, "documents")
      .select(col("doc_id").cast("long")).as(Encoders.scalaLong)
    val media = ids.mapPartitions { it =>
      it.map { id =>
        val w = (320 + id % 1601).toInt; val h = (240 + id % 1081).toInt
        Multimodal.MediaRow(id, (id % 5) match {
          case 0 => Multimodal.MediaFixtures.png(w, h)
          case 1 => Multimodal.MediaFixtures.jpeg(w, h)
          case 2 => Multimodal.MediaFixtures.wav((8000 + id % 40000).toInt)
          case 3 => Multimodal.MediaFixtures.mp4(w, h,
            (24 + id % 7).toInt, (30 + id % 86400).toInt)
          case _ => Multimodal.MediaFixtures.aviMjpeg(w, h,
            (24 + id % 7).toInt, Nil)
        })
      }
    }(Encoders.product[Multimodal.MediaRow])
    Multimodal.decode(media, Multimodal.HeaderDecoder).toDF()
      .withColumn("pass", (
        (col("kind").isin("png", "jpeg") &&
          col("width") >= 480 && col("height") >= 360) ||
        (col("kind") === "wav" &&
          col("sample_rate_hz").between(16000, 44100)) ||
        (col("kind") === "mp4" && col("n_frames") >= 3000) ||
        (col("kind") === "avi" &&
          col("sample_rate_hz") >= 27 && col("width") >= 480)).cast("long"))
      .groupBy("kind")
      .agg(count(lit(1)).as("n_media"), sum("pass").as("n_pass"),
        sum(col("width").cast("long")).as("sum_w"),
        sum(col("height").cast("long")).as("sum_h"),
        sum(col("sample_rate_hz").cast("long")).as("sum_rate"),
        sum(col("n_frames").cast("long")).as("sum_frames"))
      .orderBy("kind")
  }

  /** Aspect-preserving resize plan ([[Multimodal.resizePlan]], max side
    * 256) over the SAME synthesized containers as [[mmDecode]], decoded
    * through the real header codec — the metadata half of the resize
    * step (the pixel transform lives behind the [[Multimodal
    * .MediaDecoder]] seam). Oracle-checked: the scale chain
    * `round(dim · least(1, 256/max(w,h)))` is correctly-rounded IEEE
    * mul/div plus half-away rounding in both engines, so the planned
    * geometry matches bit-for-bit. */
  def mmResize(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Encoders
    val ids = t(s, dir, "documents")
      .select(col("doc_id").cast("long")).as(Encoders.scalaLong)
    val media = ids.mapPartitions { it =>
      it.map { id =>
        val w = (320 + id % 1601).toInt
        val h = (240 + id % 1081).toInt
        Multimodal.MediaRow(id,
          if (id % 2 == 0) Multimodal.MediaFixtures.png(w, h)
          else Multimodal.MediaFixtures.jpeg(w, h))
      }
    }(Encoders.product[Multimodal.MediaRow])
    Multimodal.resizePlan(Multimodal.decode(media, Multimodal.HeaderDecoder),
        maxSide = 256)
      .orderBy("media_id")
  }

  /** Frame-sampling generator over deterministic multi-frame metadata:
    * n_frames = 1 + doc_id % 3000 (so single-frame rows are excluded by
    * the generator's own filter), every 30th frame sampled, per-media
    * counts oracle-checked against the closed form floor(m/30)+1. The
    * decode stage has its own oracle row (mm_decode); this one proves
    * the sequence/posexplode generator. */
  def mmFrames(s: SparkSession, dir: String): DataFrame =
    Multimodal.sampleFrames(
      t(s, dir, "documents").select(
        col("doc_id").cast("long").as("media_id"),
        (lit(1) + pmod(col("doc_id"), lit(3000))).cast("int").as("n_frames")),
      everyN = 30)
      .groupBy("media_id").agg(count(lit(1)).as("n_samples"))
      .orderBy("media_id")

  /** Salted join through [[graft.operators.SkewJoin.saltedJoin]] over a
    * PATHOLOGICALLY skewed key: ~70% of lineitem rows are mapped onto
    * one nation key (the hot-key shape AQE's runtime split can't always
    * save — one key's partition spills or serializes a stage at 100 TB),
    * the 25-row dim is replicated salts× so the hot key spreads over 8
    * shuffle partitions. The oracle is the UNSALTED join's answer —
    * salt-invariance proven at the correctness gate, exact integer
    * aggregates so the comparison is bit-for-bit. */
  def skewJoin(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select(
      when(pmod(col("l_orderkey"), lit(10)) < 7, lit(0L))
        .otherwise(pmod(col("l_orderkey"), lit(25)).cast("long"))
        .as("n_nationkey"),
      col("l_quantity").cast("long").as("q"))
    val dim = t(s, dir, "nation")
      .select(col("n_nationkey").cast("long").as("n_nationkey"), col("n_name"))
    graft.operators.SkewJoin.saltedJoin(li, dim, Seq("n_nationkey"), salts = 8)
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_items"), sum(col("q")).as("sum_qty"))
      .orderBy("n_name")
  }

  /** One pair of bucketed tables per source dir per JVM — the bucketed
    * write is table-layout cost paid once (the point of bucketing), not
    * query cost; repeated bench/correctness invocations reuse it. Any
    * leftover location from a PREVIOUS JVM (the in-memory catalog
    * forgets managed tables across sessions while their directories
    * survive) is deleted before the write, so the create never trips
    * over a stale path. */
  private val bucketStores = new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  private def bucketedTables(s: SparkSession, dir: String): (String, String) =
    bucketStores.computeIfAbsent(dir, _ => {
      val tag = java.lang.Integer.toHexString(dir.hashCode)
      val names = (s"graft_borders_$tag", s"graft_blineitem_$tag")
      Seq(names._1, names._2).foreach { name =>
        s.sql(s"DROP TABLE IF EXISTS $name")
        val loc = new org.apache.hadoop.fs.Path(
          s.conf.get("spark.sql.warehouse.dir"), name)
        loc.getFileSystem(s.sparkContext.hadoopConfiguration).delete(loc, true)
      }
      graft.sources.Bucketed.write(
        t(s, dir, "orders").select("o_orderkey", "o_totalprice"),
        names._1, Seq("o_orderkey"), buckets = 8)
      graft.sources.Bucketed.write(
        t(s, dir, "lineitem").select("l_orderkey", "l_quantity"),
        names._2, Seq("l_orderkey"), buckets = 8)
      names
    })

  /** Join over [[graft.sources.Bucketed]] storage: orders ⋈ lineitem
    * both bucketed+sorted by their join key, so the join plans with NO
    * exchange and NO sort — the shuffle was paid once at write time and
    * is amortized over the table's lifetime (the 100 TB co-location
    * story; PlanAuditSpec asserts the zero-Exchange plan). Oracle is
    * the plain unbucketed join — layout-invariance at the correctness
    * gate. */
  def bucketedJoin(s: SparkSession, dir: String): DataFrame = {
    val (oT, lT) = bucketedTables(s, dir)
    val o = graft.sources.Bucketed.read(s, oT)
    val l = graft.sources.Bucketed.read(s, lT)
    o.join(l, o("o_orderkey") === l("l_orderkey"))
      .groupBy(col("o_orderkey"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast("long")).as("sum_qty"))
      .orderBy("o_orderkey")
  }

  /** Bigram conditional-probability LM quality score
    * ([[graft.operators.TextAnalysis.lmBigramScore]]) — the
    * perplexity-shaped corpus filter with real CONDITIONING, exact
    * integers end to end. Oracle-checked: shingle extraction, both
    * count tables, the per-position floor division and the floored
    * mean all reproduce in DuckDB. */
  def textLmBigram(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextAnalysis.lmBigramScore(t(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")

  /** Held-out trigram Stupid-Backoff LM quality score
    * ([[graft.operators.TextAnalysis.lmTrigramScore]]): counts trained
    * on the 90% train slice of the shared md5 split, val/test documents
    * scored — so unseen trigrams REALLY back off (a corpus scored
    * against its own counts never misses; the bigram form text_lm_bigram
    * keeps that self-scoring shape, this one is the honest held-out
    * filter). All integer arithmetic; oracle-checked digit for digit
    * including the backoff CASE chain. */
  def textLmTrigram(s: SparkSession, dir: String): DataFrame = {
    val d = graft.operators.CorpusSplit
      .split(t(s, dir, "documents"), "text", corpusSplitSpec)
    graft.operators.TextAnalysis.lmTrigramScore(
        d.filter(col("split") === "train"),
        d.filter(col("split").isin("val", "test")),
        "doc_id", "text")
      .orderBy("doc_id")
  }

  /** Duplicate-multiplicity distribution — the datasheet histogram
    * beside [[corpusStats]]: how many exact-content clusters exist at
    * each copy count (1 = unique, 2 = one re-post, heavy tail =
    * template spam). Two map-side-combining aggregates over 16-byte
    * hashes; the shape that tells you whether exact dedup will shave
    * 3% or 40% BEFORE paying for it. The testdata is content-unique,
    * so re-posts are planted (synthesize-then-operate, the
    * dedup_semantic twin pattern): every 7th doc appears once more
    * under a new id, and every 49th twice more — a genuine 1/2/3
    * multiplicity spread. Oracle-checked. */
  def corpusDupHist(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val once = d.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val twice = d.filter(col("doc_id") % 49 === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"), col("text"))
    d.unionByName(once).unionByName(twice)
      .groupBy(md5(col("text")).as("h")).agg(count(lit(1)).as("n_copies"))
      .groupBy(col("n_copies"))
      .agg(count(lit(1)).as("n_clusters"),
        (col("n_copies") * count(lit(1))).as("n_docs"))
      .orderBy("n_copies")
  }

  /** Held-out n-gram NOVELTY — the memorization/contamination-adjacent
    * metric beside [[textLmTrigram]]: per val/test document, the
    * fraction of its trigram POSITIONS whose trigram never occurs in
    * the train slice (1e6-scaled, integer floor). High novelty = text
    * unlike anything trained on (fresh domains, noise, or genuinely
    * novel content); near-zero = verbatim-ish overlap — the cheap
    * memorization screen run before expensive decontam sweeps. One
    * distinct train-trigram set (16-byte-hashable strings on the
    * shuffle), positions LEFT-joined against it. */
  def corpusNovelty(s: SparkSession, dir: String): DataFrame = {
    val d = graft.operators.CorpusSplit
      .split(t(s, dir, "documents"), "text", corpusSplitSpec)
    val trainG = d.filter(col("split") === "train")
      .select(explode(graft.functions.Sketches.wordShingles(col("text"), 3)).as("g"))
      .distinct()
      .withColumn("seen", lit(true))
      .localCheckpoint()
    d.filter(col("split").isin("val", "test"))
      .select(col("doc_id"),
        graft.functions.Sketches.wordShingles(col("text"), 1).as("uni"),
        graft.functions.Sketches.wordShingles(col("text"), 3).as("tri"))
      .filter(size(col("uni")) >= 3)
      .select(col("doc_id"), explode(col("tri")).as("g"))
      .join(trainG, Seq("g"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_trigrams"),
        coalesce(sum(when(col("seen").isNull, 1L)), lit(0L)).as("n_unseen"))
      .select(col("doc_id"), col("n_trigrams"), col("n_unseen"),
        expr("(1000000 * n_unseen) DIV n_trigrams").as("novelty_ppm"))
      .orderBy("doc_id")
  }

  /** Link-analysis quality prior ([[graft.operators.Graph.pageRankE9]]):
    * 10 fixed-point PageRank iterations over a deterministic domain
    * graph derived from the documents table (synthesize-then-operate —
    * the [[synthUrls]] pattern; the testdata has no link column). The
    * domain of a document is `doc_id % 100`; each domain links to
    * `(d² + k) % 100` for k ∈ {1,2,3}, so out-degree is exactly 3
    * everywhere while in-degree is NOT uniform — squares mod 100
    * concentrate on the quadratic residues (e.g. d² ≡ 0 has ten roots),
    * so residue-adjacent domains become genuine hubs and the ranks
    * spread (an affine d·a+k map would keep in-degree constant at 3 and
    * collapse PageRank to the uniform vector; any self-loops the
    * formula produces are kept as ordinary edges on both sides). The
    * all-integer update rule means the oracle unrolls the same 10
    * iterations as chained SQL CTEs and hash-matches exactly. */
  def graphPagerank(s: SparkSession, dir: String): DataFrame = {
    val dom = t(s, dir, "documents").select((col("doc_id") % 100).as("node"))
    val nodes = dom.distinct()
    val edges = dom
      .select(col("node").as("src"), explode(array(lit(1), lit(2), lit(3))).as("k"))
      .select(col("src"), ((col("src") * col("src") + col("k")) % 100).as("dst"))
      .distinct()
    graft.operators.Graph.pageRankE9(edges, nodes, iterations = 10)
      .orderBy("node")
  }

  /** Personalized PageRank over the [[graphPagerank]] fixture: the
    * teleport set is the mod-10 residues (the "trusted domains"), so
    * rank flows ONLY along directed paths out of the seeds — the
    * TrustRank-form link-spam prior (Gyöngyi, Garcia-Molina & Pedersen
    * 2004), one `seeds` parameter on the same BSP chassis. Same
    * all-integer update rule with the base, init, and dangling terms
    * seed-restricted, so the oracle unrolls the same 10 iterations
    * with a `node % 10 = 0` conditional replacing the uniform base and
    * hash-matches exactly. */
  def graphPpr(s: SparkSession, dir: String): DataFrame = {
    val dom = t(s, dir, "documents").select((col("doc_id") % 100).as("node"))
    val nodes = dom.distinct()
    val edges = dom
      .select(col("node").as("src"), explode(array(lit(1), lit(2), lit(3))).as("k"))
      .select(col("src"), ((col("src") * col("src") + col("k")) % 100).as("dst"))
      .distinct()
    val seeds = nodes.filter(col("node") % 10 === 0)
    graft.operators.Graph.pageRankE9(edges, nodes, iterations = 10,
        seeds = Some(seeds))
      .orderBy("node")
  }

  /** [[graphPpr]]'s VOLUME twin on the [[volumeGraph]] expander —
    * TrustRank at data-dominated scale: seeds `node % 997 = 0` (the
    * [[graphSsspVolume]] convention — 1 seed at sf0.01, 6 at sf0.1,
    * scaling with the domain), so the seed-restricted base/init/
    * dangling terms run against a seed set many orders smaller than
    * the graph, the production shape (a trusted-domain whitelist is
    * thousands of rows against billions of pages). Same unrolled
    * oracle with the `% 997` conditional. */
  def graphPprVolume(s: SparkSession, dir: String): DataFrame = {
    val (nodes, edges) = volumeGraph(s, dir)
    val seeds = nodes.filter(col("node") % 997 === 0)
    graft.operators.Graph.pageRankE9(edges, nodes, iterations = 10,
        seeds = Some(seeds))
      .orderBy("node")
  }

  /** [[graphPagerankWeighted]]'s VOLUME twin: weights `dst % 5 + 1`
    * (the [[graphSsspVolume]] convention), so the out-WEIGHT sum and
    * the per-edge `rank·w DIV W` contribution both run over the
    * 10N-edge frame. Narrow i64 path — rank·w ≤ 5·10⁹ and the damped
    * sum is bounded by 100·SCALE·Σw_in, comfortable at any test SF
    * (past ~2·10⁷ nodes the `wide` flag lifts both, proven at the
    * oracle gate by graph_pagerank_wide). */
  def graphPagerankWeightedVolume(s: SparkSession, dir: String): DataFrame = {
    val (nodes, edges) = volumeGraph(s, dir)
    val weighted = edges.withColumn("w", col("dst") % 5 + 1)
    graft.operators.Graph.pageRankE9(weighted, nodes, iterations = 10,
        weightCol = Some("w"))
      .orderBy("node")
  }

  /** [[graphPagerank]] through the decimal-128 arithmetic path
    * (`wide = true`) — the configuration a >9·10⁷-node graph needs,
    * declared so the widened damped sum is proven AT THE ORACLE GATE,
    * not just in a unit test: it shares graph_pagerank's oracle string
    * verbatim, so a hash match certifies the two paths agree with each
    * other and with DuckDB's HUGEINT arithmetic in one check (the
    * stream_funnel ≡ q29 pattern). */
  def graphPagerankWide(s: SparkSession, dir: String): DataFrame = {
    val dom = t(s, dir, "documents").select((col("doc_id") % 100).as("node"))
    val nodes = dom.distinct()
    val edges = dom
      .select(col("node").as("src"), explode(array(lit(1), lit(2), lit(3))).as("k"))
      .select(col("src"), ((col("src") * col("src") + col("k")) % 100).as("dst"))
      .distinct()
    graft.operators.Graph.pageRankE9(edges, nodes, iterations = 10, wide = true)
      .orderBy("node")
  }

  /** Weighted PageRank over the [[graphPagerank]] fixture: edge weight
    * `(dst % 3) + 1` (a deterministic stand-in for link multiplicity /
    * anchor trust), so the surfer follows (u,v) with probability
    * w/W(u) and the out-WEIGHT W(u) varies node to node (the three
    * dsts' residues mod 3 differ per source). One `weightCol`
    * parameter on the same BSP chassis; all-integer update
    * (`rank·w DIV W`), so the oracle unrolls the same 10 iterations
    * with the weighted contribution and hash-matches exactly. */
  def graphPagerankWeighted(s: SparkSession, dir: String): DataFrame = {
    val dom = t(s, dir, "documents").select((col("doc_id") % 100).as("node"))
    val nodes = dom.distinct()
    val edges = dom
      .select(col("node").as("src"), explode(array(lit(1), lit(2), lit(3))).as("k"))
      .select(col("src"), ((col("src") * col("src") + col("k")) % 100).as("dst"))
      .distinct()
      .withColumn("w", (col("dst") % 3) + 1)
    graft.operators.Graph.pageRankE9(edges, nodes, iterations = 10,
        weightCol = Some("w"))
      .orderBy("node")
  }

  /** HITS hubs & authorities ([[graft.operators.Graph.hitsPpm]]) over
    * the [[graphPagerank]] quadratic-residue fixture — the
    * link-analysis dual PageRank misses: a directory page that links
    * to every good authority scores as a HUB even with zero in-links,
    * and the two scores separate navigational from content pages in a
    * crawl-quality prior (Kleinberg 1999). 8 mutual updates,
    * L∞-normalized to ppm each step — all-integer, so the oracle
    * unrolls the same 16 CTEs (ar→a→hr→h per step) and hash-matches
    * exactly; the fixture's in-degree skew (squares mod 100 concentrate
    * on quadratic residues) gives both scores real structure. */
  def graphHits(s: SparkSession, dir: String): DataFrame = {
    val dom = t(s, dir, "documents").select((col("doc_id") % 100).as("node"))
    val nodes = dom.distinct()
    val edges = dom
      .select(col("node").as("src"), explode(array(lit(1), lit(2), lit(3))).as("k"))
      .select(col("src"), ((col("src") * col("src") + col("k")) % 100).as("dst"))
      .distinct()
    graft.operators.Graph.hitsPpm(edges, nodes, iterations = 8)
      .orderBy("node")
  }

  /** Volume-scale graph fixture shared by the `graph_*_volume` family:
    * nodes = the FULL `doc_id` domain (dense 0..N−1 — N grows with the
    * scale factor, 500 at sf0.01, 5000 at sf0.1, millions at corpus
    * scale), edges = 10 deterministic out-edges per node via the
    * quadratic-residue spread `(d² + k) mod N`, k = 1..10 — an
    * expander-shaped multigraph-free edge list 10× the node count whose
    * in-degree skew gives the ranks real structure. Unlike the 100-node
    * `doc_id % 100` fixtures (correctness-first, per-iteration cost
    * pure overhead), this one's per-iteration shuffle volume is
    * DATA-dominated and scales linearly with sf — the evidence that the
    * BSP chassis's cost tracks the edge list, not the step count. N is
    * one bounded driver scalar (the pageRank-N class); edge synthesis
    * is projection + explode — no shuffle, no distinct (doc_id is
    * unique by contract, and k < N keeps the 10 dsts per node
    * distinct). d² ≤ N² stays i64-exact to N ≈ 3·10⁹ docs. */
  private def volumeGraph(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val nodes = t(s, dir, "documents").select(col("doc_id").as("node"))
    val n = nodes.count()
    val edges = nodes
      .select(col("node").as("src"),
        explode(array((1 to 10).map(lit(_)): _*)).as("k"))
      .select(col("src"),
        ((col("src") * col("src") + col("k")) % n).as("dst"))
    (nodes, edges)
  }

  /** [[graphHits]]'s VOLUME twin on the [[volumeGraph]] expander — the
    * data-dominated proof run for the mutual-update chassis (the
    * 100-node fixture proves semantics; this proves each of the 16
    * per-step shuffles tracks the 10N-edge frame, and exercises the
    * DECIMAL(38,0) normalizing product on sums that would pass i64
    * here but not at 10⁷ nodes). Same unrolled oracle over the volume
    * edge synthesis. */
  def graphHitsVolume(s: SparkSession, dir: String): DataFrame = {
    val (nodes, edges) = volumeGraph(s, dir)
    graft.operators.Graph.hitsPpm(edges, nodes, iterations = 8)
      .orderBy("node")
  }

  /** PageRank on the [[volumeGraph]] fixture — the volume-scale proof
    * run for the BSP chassis ([[graft.operators.Graph.pageRankE9]]):
    * identical update rule and oracle shape to [[graphPagerank]], but
    * over N = |documents| nodes and 10N edges, so the 10 iterations'
    * cost is dominated by the shuffled edge frame, not fixed per-step
    * overhead. The oracle unrolls the same 10 integer iterations over
    * the same synthesized edge list. */
  def graphPagerankVolume(s: SparkSession, dir: String): DataFrame = {
    val (nodes, edges) = volumeGraph(s, dir)
    graft.operators.Graph.pageRankE9(edges, nodes, iterations = 10)
      .orderBy("node")
  }

  /** Connected components on the UNDIRECTED closure of [[volumeGraph]]
    * ([[graft.operators.Graph.connectedComponentsMinLabel]]), 8
    * synchronous min-label steps — the volume twin of [[graphCc]]. The
    * undirected quadratic-residue expander has tiny diameter (degree
    * ~20), so 8 steps converge to the true single-component labeling;
    * either way the unrolled oracle matches the deterministic step-8
    * state bit for bit. */
  def graphCcVolume(s: SparkSession, dir: String): DataFrame = {
    val (nodes, edges) = volumeGraph(s, dir)
    graft.operators.Graph.connectedComponentsMinLabel(edges, nodes, iterations = 8)
      .orderBy("node")
  }

  /** Multi-source shortest distances on [[volumeGraph]] with weights
    * `dst % 5 + 1` and seeds `node % 997 = 0` (1 seed at sf0.01, 6 at
    * sf0.1 — the seed set scales with the domain) — the volume twin of
    * [[graphSssp]]. The relaxation budget of 16 covers the weighted
    * shortest-path hop count on the expander with slack (the
    * compare-only final probe accepts exactly-at-budget convergence;
    * an insufficient budget FAILS LOUDLY, never truncates silently).
    * The oracle unrolls the same 16 min-merge relaxation steps —
    * min is associative/idempotent, so both engines' step-16 frames
    * are the same fixpoint. */
  def graphSsspVolume(s: SparkSession, dir: String): DataFrame = {
    val (nodes, edges) = volumeGraph(s, dir)
    val weighted = edges.withColumn("w", col("dst") % 5 + 1)
    val sources = nodes.filter(col("node") % 997 === 0)
    graft.operators.Graph.shortestDistances(weighted, nodes, sources,
        maxIters = 16)
      .orderBy("node")
  }

  /** Corpus-level entity resolution
    * ([[graft.operators.Graph.connectedComponentsMinLabel]]): the
    * shared-identifier clustering the reference runs over its
    * other_ads/phone link graph (frontPage etl_process.py:66-126 —
    * `get_other_ads` + `phone_extract` yield the shared identifiers
    * that link ads) — here as min-label components over a
    * deterministic domain graph (synthesize-then-operate; the testdata
    * has no link column). Nodes are `doc_id % 100`; edges chain each
    * domain to its successor within blocks of 7 (`d → d+1` unless
    * `d ≡ 6 mod 7`), then two long bridges `0→50` and `25→75` merge
    * four of the ⌈100/7⌉ chains — so components are NOT aligned with
    * the block structure and the min label must travel a 6-hop path
    * (e.g. 21→…→25→75→76). 8 synchronous steps ≥ the 6-hop
    * eccentricity bound, so the result is fully converged AND a
    * deterministic function of (graph, 8) the oracle reproduces by
    * unrolling the same steps as chained CTEs. */
  def graphCc(s: SparkSession, dir: String): DataFrame = {
    val nodes = t(s, dir, "documents")
      .select((col("doc_id") % 100).as("node")).distinct()
    val chain = nodes.filter(col("node") % 7 =!= 6 && col("node") < 99)
      .select(col("node").as("src"), (col("node") + 1).as("dst"))
    val bridges = nodes.filter(col("node").isin(0, 25))
      .select(col("node").as("src"), (col("node") + 50).as("dst"))
    // keep the edge list closed over the node set (a sparse sf dir may
    // miss a residue): induced-subgraph semantics, same as the operator
    val edges = chain.unionByName(bridges)
      .join(nodes.select(col("node").as("dst")), Seq("dst"), "left_semi")
    graft.operators.Graph.connectedComponentsMinLabel(edges, nodes, iterations = 8)
      .orderBy("node")
  }

  /** The second Common-Crawl-style rank
    * ([[graft.operators.Graph.harmonicCentralityE9]]): exact integer
    * harmonic centrality over the SAME chained-blocks-plus-bridges
    * domain graph as [[graphCc]], taken DIRECTED (chains point forward,
    * bridges point low→high), so in-path structure differs node to
    * node: block heads receive nothing, bridge targets accumulate two
    * chains' worth of origins. The directed diameter of the fixture is
    * ≤ 12 (a head-to-tail walk through a bridge), so `maxDist = 12`
    * makes the truncated sum the exact value; the oracle unrolls the
    * same 12 BFS steps. */
  def graphHarmonic(s: SparkSession, dir: String): DataFrame = {
    val nodes = t(s, dir, "documents")
      .select((col("doc_id") % 100).as("node")).distinct()
    val chain = nodes.filter(col("node") % 7 =!= 6 && col("node") < 99)
      .select(col("node").as("src"), (col("node") + 1).as("dst"))
    val bridges = nodes.filter(col("node").isin(0, 25))
      .select(col("node").as("src"), (col("node") + 50).as("dst"))
    graft.operators.Graph.harmonicCentralityE9(
      chain.unionByName(bridges), nodes, maxDist = 12)
      .orderBy("node")
  }

  /** The distance-distribution statistic on the same fixture
    * ([[graft.operators.Graph.neighborhoodFunction]]): N(d) = ordered
    * pairs within directed distance d, for d = 1..12 — the curve whose
    * 90% crossing is the effective diameter (the Common Crawl/webgraph
    * headline number). Exact, so the oracle derives the identical
    * cumulative counts from the same unrolled BFS CTEs as
    * [[graphHarmonic]]. */
  def graphNf(s: SparkSession, dir: String): DataFrame = {
    val nodes = t(s, dir, "documents")
      .select((col("doc_id") % 100).as("node")).distinct()
    val chain = nodes.filter(col("node") % 7 =!= 6 && col("node") < 99)
      .select(col("node").as("src"), (col("node") + 1).as("dst"))
    val bridges = nodes.filter(col("node").isin(0, 25))
      .select(col("node").as("src"), (col("node") + 50).as("dst"))
    graft.operators.Graph.neighborhoodFunction(
      chain.unionByName(bridges), nodes, maxDist = 12)
      .orderBy("dist")
  }

  /** Per-node edge reciprocity over the directed quadratic-residue
    * fixture — the link-spam signal beside [[graphClustering]]: organic
    * citation is overwhelmingly one-way, while link farms exchange
    * links, so a node whose out-edges are mostly reciprocated is
    * suspect (the classic directed-graph reciprocity statistic, here
    * per node). Reciprocity is planted by construction: every edge
    * whose source ≡ 0 mod 3 also gets its reverse, so the census has
    * real strata. Shape: one semi-join of the edge list against its
    * own transpose on the (src, dst) pair — edges ship as two longs,
    * map-side combine on the per-source rollup; integer ppm. */
  def graphReciprocity(s: SparkSession, dir: String): DataFrame = {
    val dom = t(s, dir, "documents").select((col("doc_id") % 100).as("node"))
    val nodes = dom.distinct()
    val base = dom
      .select(col("node").as("src"), explode(array(lit(1), lit(2), lit(3))).as("k"))
      .select(col("src"), ((col("src") * col("src") + col("k")) % 100).as("dst"))
      .distinct()
    val edges = base.unionByName(
        base.filter(col("src") % 3 === 0)
          .select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint()   // self-transpose semi-join must see attributes
    // transpose under fresh names: same-name self-join columns trip
    // Spark's ambiguous-self-join analyzer
    val rev = edges.select(col("dst").as("rsrc"), col("src").as("rdst"))
    val recip = edges.join(rev,
        col("src") === col("rsrc") && col("dst") === col("rdst"), "left_semi")
      .groupBy(col("src").as("src_r")).agg(count(lit(1)).as("n_recip"))
    val out = edges.groupBy(col("src").as("src_o")).agg(count(lit(1)).as("n_out"))
    nodes.join(out, nodes("node") === out("src_o"), "left")
      .join(recip, nodes("node") === recip("src_r"), "left")
      .select(col("node"),
        coalesce(col("n_out"), lit(0L)).as("n_out"),
        coalesce(col("n_recip"), lit(0L)).as("n_recip"),
        when(coalesce(col("n_out"), lit(0L)) === 0, lit(0L))
          .otherwise(expr("(1000000 * coalesce(n_recip, 0L)) DIV n_out"))
          .as("recip_ppm"))
      .orderBy("node")
  }

  /** Multi-source weighted shortest distances
    * ([[graft.operators.Graph.shortestDistances]]): link distance from
    * a trusted seed set — the crawl-depth prior paired with seeded
    * PageRank ([[graphPpr]]) in whitelist-distance spam filtering.
    * Fixture: the [[graphCc]] chain-blocks graph taken DIRECTED with
    * weight `dst % 5 + 1` per edge, seeds {0, 60}; block boundaries
    * (`d ≡ 6 mod 7`) cut the chains, so most nodes are genuinely
    * unreachable and produce no row. Exact integers; the oracle walks
    * the same weighted edges with a bounded recursive CTE and takes
    * the per-node minimum. */
  def graphSssp(s: SparkSession, dir: String): DataFrame = {
    val nodes = t(s, dir, "documents")
      .select((col("doc_id") % 100).as("node")).distinct()
    val chain = nodes.filter(col("node") % 7 =!= 6 && col("node") < 99)
      .select(col("node").as("src"), (col("node") + 1).as("dst"))
    val bridges = nodes.filter(col("node").isin(0, 25))
      .select(col("node").as("src"), (col("node") + 50).as("dst"))
    val edges = chain.unionByName(bridges)
      .withColumn("w", col("dst") % 5 + 1)
    val sources = nodes.filter(col("node").isin(0, 60))
    graft.operators.Graph.shortestDistances(edges, nodes, sources, maxIters = 16)
      .orderBy("node")
  }

  /** Strongly connected components
    * ([[graft.operators.Graph.stronglyConnectedComponents]]): the
    * mutual-reachability partition a link graph needs where undirected
    * components ([[graphCc]]) are too coarse — link farms and mirror
    * rings are directed CYCLES, while ordinary citation structure is
    * acyclic, so the non-trivial SCCs are precisely the suspicious
    * dense cores. Fixture (synthesize-then-operate): nodes are
    * `doc_id % 100`; blocks of 5 form directed 5-cycles (`d → d+1`,
    * block tail back to head), two-way bridges `2→7` and `8→3` merge
    * the first two cycles into one 10-node SCC, and four ONE-WAY edges
    * `10→20, 30→40, 50→60, 95→15` link cycles into a depth-1
    * condensation DAG — so the run needs exactly two peel rounds (each
    * one-way edge leaves one side's (F, B) pair split in round one:
    * the side whose min label is polluted by the other's smaller min)
    * and a 10-step budget covers the merged SCC's ≤9-hop diameter.
    * Exact and fully converged, so the oracle recomputes true SCCs
    * independently — a recursive-CTE transitive closure and a mutual-
    * reachability min — with no step unrolling. */
  def graphScc(s: SparkSession, dir: String): DataFrame = {
    val nodes = t(s, dir, "documents")
      .select((col("doc_id") % 100).as("node")).distinct()
    val cycle = nodes.select(col("node").as("src"),
      when(col("node") % 5 === 4, col("node") - 4)
        .otherwise(col("node") + 1).as("dst"))
    val extra = nodes.filter(col("node").isin(2, 8, 10, 30, 50, 95))
      .select(col("node").as("src"),
        when(col("node") === 2, lit(7L)).when(col("node") === 8, lit(3L))
          .when(col("node") === 10, lit(20L)).when(col("node") === 30, lit(40L))
          .when(col("node") === 50, lit(60L)).otherwise(lit(15L)).as("dst"))
    graft.operators.Graph.stronglyConnectedComponents(
      cycle.unionByName(extra), nodes, propagationIters = 10, maxRounds = 4)
      .orderBy("node")
  }

  /** [[graphScc]]'s volume twin — the peel-round chassis on a
    * full-doc_id-domain fixture (round 19, closing the volume family):
    * blocks of 50 are each made strongly connected by an in-block ring
    * (`r → r+1 mod sz` — the mirror-ring shape, guaranteeing strong
    * connectivity) plus 10 in-block quadratic-residue spread edges per
    * node (`r → (r² + k) mod sz`, k = 1..10 — the [[volumeGraph]]
    * degree, so each F/B propagation step shuffles a DATA-dominated
    * 11N-edge frame), and one-way bridges `base(2m) → base(2m+1)` link
    * each even block into its odd successor. SCCs are exactly the
    * blocks; the bipartite even→odd condensation forces exactly TWO
    * peel rounds (round 1 assigns even blocks — odd blocks' F label is
    * polluted by the smaller even minimum; round 2, bridges peeled,
    * assigns the rest), proving the peel loop's per-round cost tracks
    * the edge list at volume. The generous propagation budget is free
    * — the label loop fixpoint-exits early — and both loud requires
    * (fixpoint before budget, rounds ≤ max) stay armed. The oracle
    * recomputes true SCCs independently via transitive closure over
    * the same synthesized edges (reachability is block-local + one
    * hop, so the closure stays ~2·sz per node at the verify SF). */
  def graphSccVolume(s: SparkSession, dir: String): DataFrame = {
    val (nodes, cohesion, n) = blockVolumeGraph(s, dir)
    val bridges = nodes.filter(col("node") % 100 === 0 && col("node") + 50 < n)
      .select(col("node").as("src"), (col("node") + 50).as("dst"))
    graft.operators.Graph.stronglyConnectedComponents(
        cohesion.unionByName(bridges), nodes,
        propagationIters = 60, maxRounds = 3)
      .orderBy("node")
  }

  /** Block fixture shared by the round-19 `graph_*_volume` additions
    * (scc/kcore/lpa): blocks of 50 over the FULL doc_id domain, each
    * made cohesive (and, directed, strongly connected) by an in-block
    * mirror ring `r → r+1 mod sz` plus 10 in-block quadratic-residue
    * spread edges `r → (r² + k) mod sz` — 11N edges total, so every
    * BSP/peel/vote step shuffles a DATA-dominated frame that scales
    * linearly with sf, while block locality keeps oracle-side
    * reachability bounded. N is one bounded driver scalar (the
    * [[volumeGraph]] class); callers add their own coupling edges. */
  private def blockVolumeGraph(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, Long) = {
    val nodes = t(s, dir, "documents").select(col("doc_id").as("node"))
    val n = nodes.count()
    def base(c: Column) = c - (c % 50)
    def sz(c: Column) = least(lit(50L), lit(n) - base(c))
    val ring = nodes.select(col("node").as("src"),
      (base(col("node")) + pmod(col("node") - base(col("node")) + 1,
        sz(col("node")))).as("dst"))
    val spread = nodes
      .select(col("node").as("src"),
        explode(array((1 to 10).map(lit(_)): _*)).as("k"))
      .select(col("src"),
        (base(col("src")) + pmod((col("src") - base(col("src"))) *
          (col("src") - base(col("src"))) + col("k"), sz(col("src")))).as("dst"))
    (nodes, ring.unionByName(spread), n)
  }

  /** [[graphKcore]]'s volume twin (round 19): the h-index chassis over
    * the [[blockVolumeGraph]] fixture plus a FIXED 20-node clique on
    * nodes < 20 — bounded by construction, so the planted dense core
    * stays O(1) while the histogram/window step processes the
    * data-dominated 22N-row symmetrized frame. The oracle unrolls the
    * same 8 h-index steps from the same degree init; the operator's
    * fixpoint early-exit returns exactly the step-8 state either
    * way. */
  def graphKcoreVolume(s: SparkSession, dir: String): DataFrame = {
    val (nodes, cohesion, _) = blockVolumeGraph(s, dir)
    val cl = nodes.filter(col("node") < 20)
    val clique = cl.select(col("node").as("src"))
      .crossJoin(cl.select(col("node").as("dst")))
      .filter(col("src") < col("dst"))
    graft.operators.Graph.corenessHIndex(
        cohesion.unionByName(clique), nodes, iterations = 8)
      .orderBy("node")
  }

  /** [[graphLpa]]'s volume twin (round 19): deterministic label
    * propagation over [[blockVolumeGraph]] — blocks are the planted
    * communities (dense inside via ring + spread), loosely coupled by
    * ONE bridge per adjacent block pair (`offset-25 → next block's
    * offset-25`) — the dense-inside/sparse-between regime LPA is built
    * for, at a per-step vote volume of 22N rows. 8 synchronous
    * (count DESC, label ASC) steps; the oracle unrolls the identical
    * vote/argmax chain, so the step-8 state hash-matches whether or
    * not the votes have stabilized. */
  def graphLpaVolume(s: SparkSession, dir: String): DataFrame = {
    val (nodes, cohesion, n) = blockVolumeGraph(s, dir)
    val bridges = nodes.filter(col("node") % 50 === 25 && col("node") + 50 < n)
      .select(col("node").as("src"), (col("node") + 50).as("dst"))
    graft.operators.Graph.labelPropagationMinTie(
        cohesion.unionByName(bridges), nodes, iterations = 8)
      .orderBy("node")
  }

  /** [[graphModularity]]'s volume twin: the Newman-modularity scoring
    * aggregates proven data-dominated on [[blockVolumeGraph]] — LPA-8
    * over the 11N-edge fixture (the [[graphLpaVolume]] run verbatim),
    * then the two per-community hash aggregates and the integer
    * rational over ~N/50 planted blocks. The per-community frame is
    * O(communities), the driver artifact two DECIMAL(38,0) scalars —
    * the shape that holds when N is the corpus, not 100 residues. */
  def graphModularityVolume(s: SparkSession, dir: String): DataFrame = {
    val (nodes, cohesion, n) = blockVolumeGraph(s, dir)
    val bridges = nodes.filter(col("node") % 50 === 25 && col("node") + 50 < n)
      .select(col("node").as("src"), (col("node") + 50).as("dst"))
    val edges = cohesion.unionByName(bridges)
    // ONE canonical-closure derivation shared by the LPA pass and the
    // scoring aggregates (the ...Over variants) — the closure is a pure
    // function of the edge list, so deriving it per operator paid the
    // semi-join + distinct materialization twice for the same frame
    val nset = nodes.select(col("node"))
    val und = graft.operators.Graph.canonicalUndirected(edges, nset)
    val labels = graft.operators.Graph.labelPropagationMinTieOver(
      und, nset, iterations = 8)
    graft.operators.Graph.modularityPpmOver(und, labels)
  }

  /** [[graphTriangles]]'s volume twin (round 19): degree-ordered
    * triangle counting over [[blockVolumeGraph]] alone — the ring ×
    * quadratic-residue spread closes plenty of in-block triangles
    * organically, and block locality bounds the oracle's ordered-
    * triple enumeration to per-block work. The operator's
    * degree-ordering keeps the wedge join's fan-out at
    * O(Σ d_min(edge)), the 100 TB triangle shape. */
  def graphTrianglesVolume(s: SparkSession, dir: String): DataFrame = {
    val (nodes, cohesion, _) = blockVolumeGraph(s, dir)
    graft.operators.Graph.triangleCounts(cohesion, nodes)
      .orderBy("node")
  }

  /** Per-node triangle participation
    * ([[graft.operators.Graph.triangleCounts]]): the local-clustering
    * cohesion signal over a triangle-rich deterministic domain graph —
    * the chain edges (d → d+1 within blocks of 7) plus a skip edge
    * d → d+2 wherever the whole triple sits inside one block, so every
    * in-block consecutive triple closes a triangle and block boundaries
    * provably don't. Exact integer counts; the oracle enumerates
    * ordered triples x<y<z over the same canonical undirected edge
    * set. */
  def graphTriangles(s: SparkSession, dir: String): DataFrame = {
    val nodes = t(s, dir, "documents")
      .select((col("doc_id") % 100).as("node")).distinct()
    val chain = nodes.filter(col("node") % 7 =!= 6 && col("node") < 99)
      .select(col("node").as("src"), (col("node") + 1).as("dst"))
    val skip = nodes.filter(col("node") % 7 < 5 && col("node") < 98)
      .select(col("node").as("src"), (col("node") + 2).as("dst"))
    graft.operators.Graph.triangleCounts(chain.unionByName(skip), nodes)
      .orderBy("node")
  }

  /** [[graphTriangles]] normalized to the local clustering coefficient
    * ([[graft.operators.Graph.clusteringCoefficientPpm]]): exact
    * integer ppm over the same fixture — the per-node cohesion score a
    * curation pipeline actually thresholds on (link-farm detection). */
  def graphClustering(s: SparkSession, dir: String): DataFrame = {
    val nodes = t(s, dir, "documents")
      .select((col("doc_id") % 100).as("node")).distinct()
    val chain = nodes.filter(col("node") % 7 =!= 6 && col("node") < 99)
      .select(col("node").as("src"), (col("node") + 1).as("dst"))
    val skip = nodes.filter(col("node") % 7 < 5 && col("node") < 98)
      .select(col("node").as("src"), (col("node") + 2).as("dst"))
    graft.operators.Graph.clusteringCoefficientPpm(chain.unionByName(skip), nodes)
      .orderBy("node")
  }

  /** Link prediction ([[graft.operators.Graph.linkPredict]]) over the
    * triangle fixture: chain + skip edges leave plenty of distance-2
    * non-edges (every in-block (d, d+2) pair whose skip edge the
    * block-boundary rule withheld, plus all (d, d+3)s through two
    * centers), so the wedge → anti-join → score chain is exercised on
    * every branch. Exact integer scores (common-neighbor count,
    * Jaccard ppm, resource-allocation ppm, preferential attachment),
    * total (jaccard DESC,
    * common DESC, a, b) order; the oracle enumerates wedges over the
    * same canonical undirected closure. The fixture's max degree is 4,
    * so the declared center cap (10) is non-binding here — its
    * semantics are pinned separately by [[graphLinkpredVolume]]'s
    * planted hub, which the cap must exclude. */
  def graphLinkpred(s: SparkSession, dir: String): DataFrame = {
    val nodes = t(s, dir, "documents")
      .select((col("doc_id") % 100).as("node")).distinct()
    val chain = nodes.filter(col("node") % 7 =!= 6 && col("node") < 99)
      .select(col("node").as("src"), (col("node") + 1).as("dst"))
    val skip = nodes.filter(col("node") % 7 < 5 && col("node") < 98)
      .select(col("node").as("src"), (col("node") + 2).as("dst"))
    graft.operators.Graph.linkPredict(
        chain.unionByName(skip), nodes, maxCenterDegree = 10L)
      .orderBy(col("jaccard_ppm").desc, col("common").desc, col("a"), col("b"))
  }

  /** [[graphLinkpred]]'s volume twin: the wedge → score chain proven
    * data-dominated on [[blockVolumeGraph]] (11N edges, in-block
    * degree ≤ ~23, so wedge fan-out is a flat few-hundred per center),
    * PLUS a planted star hub (node 0 → every node ≡ 0 mod 5) whose
    * N/5 degree exceeds the declared center cap (50) at EVERY shipped
    * SF — the cap semantics under real skew: the hub produces NO
    * wedges (else it alone would emit (N/5)² ≈ N²/25 candidate
    * pairs), while pairs it touches still surface through in-block
    * centers and still count its TRUE degree in their Jaccard/PA
    * terms. Output folded to one row per node (its predicted-link
    * count at jaccard ≥ 0.15) to keep the verify frame O(N); the
    * oracle runs the same wedge enumeration + cap. */
  def graphLinkpredVolume(s: SparkSession, dir: String): DataFrame = {
    val (nodes, cohesion, _) = blockVolumeGraph(s, dir)
    val hub = nodes.filter(col("node") % 5 === 0 && col("node") > 0)
      .select(lit(0L).as("src"), col("node").as("dst"))
    val scored = graft.operators.Graph.linkPredict(
      cohesion.unionByName(hub), nodes, maxCenterDegree = 50L)
    val perSide = scored.filter(col("jaccard_ppm") >= 150000L)
      .select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_pred"))
    nodes.join(perSide, Seq("node"), "left")
      .select(col("node"), coalesce(col("n_pred"), lit(0L)).as("n_pred"))
      .orderBy("node")
  }

  /** [[graphHarmonic]]'s web-scale twin
    * ([[graft.operators.Graph.harmonicCentralityHyperBall]]): the same
    * directed fixture and 12-step horizon, but O(m)-bytes-per-node
    * HyperBall sketch state instead of explicit pair rows. ORACLE-GATED
    * (the q8 pattern): the HLL estimate itself isn't SQL-expressible,
    * so the query joins the EXACT twin in-engine and emits
    * (node, harmonic_e9 exact — oracle-matched — and an integer
    * err_gate that is 0 iff the sketch lands within the published
    * 12%-relative + 0.5-absolute HyperBall tolerance, with exact-zero
    * nodes required to estimate exactly 0). The oracle pins err_gate=0
    * per node, so estimator drift hard-fails the driver hash check;
    * GraphSpec keeps the value-level accuracy and determinism specs. */
  def graphHarmonicHll(s: SparkSession, dir: String): DataFrame = {
    val nodes = t(s, dir, "documents")
      .select((col("doc_id") % 100).as("node")).distinct()
    val chain = nodes.filter(col("node") % 7 =!= 6 && col("node") < 99)
      .select(col("node").as("src"), (col("node") + 1).as("dst"))
    val bridges = nodes.filter(col("node").isin(0, 25))
      .select(col("node").as("src"), (col("node") + 50).as("dst"))
    val edges = chain.unionByName(bridges)
    val exact = graft.operators.Graph.harmonicCentralityE9(
      edges, nodes, maxDist = 12)
    val approx = graft.operators.Graph.harmonicCentralityHyperBall(
      edges, nodes, maxDist = 12, m = 256)
    exact.join(approx, Seq("node"))
      .select(col("node"), col("harmonic_e9"),
        when(abs(col("harmonic_approx") - col("harmonic_e9") / 1e9) <=
               col("harmonic_e9") / 1e9 * 0.12 + 0.5
             && (col("harmonic_e9") =!= 0L || col("harmonic_approx") === 0.0),
          lit(0L)).otherwise(lit(1L)).as("err_gate"))
      .orderBy("node")
  }

  /** [[graphNf]]'s web-scale twin
    * ([[graft.operators.Graph.neighborhoodFunctionHyperAnf]]): the
    * distance-distribution curve from HyperANF ball-mass sums over the
    * same directed fixture and 12-step horizon — O(N·m) sketch state
    * instead of the exact form's pair frame (the one formulation that
    * goes quadratic on a dense web graph). ORACLE-GATED (the q8 /
    * graph_harmonic_hll pattern): emits the EXACT per-horizon pair
    * count (oracle-matched) plus two integer gates the oracle pins to
    * 0 — err_gate (sketch within 10% relative + 1.0 absolute of exact)
    * and mono_gate (ball mass non-decreasing in the horizon, the
    * HyperANF sanity invariant). GraphSpec keeps the value-level
    * accuracy and determinism specs. */
  def graphNfHll(s: SparkSession, dir: String): DataFrame = {
    val nodes = t(s, dir, "documents")
      .select((col("doc_id") % 100).as("node")).distinct()
    val chain = nodes.filter(col("node") % 7 =!= 6 && col("node") < 99)
      .select(col("node").as("src"), (col("node") + 1).as("dst"))
    val bridges = nodes.filter(col("node").isin(0, 25))
      .select(col("node").as("src"), (col("node") + 50).as("dst"))
    val edges = chain.unionByName(bridges)
    val exact = graft.operators.Graph.neighborhoodFunction(
      edges, nodes, maxDist = 12)
    val approx = graft.operators.Graph.neighborhoodFunctionHyperAnf(
      edges, nodes, maxDist = 12, m = 256)
    // the 12-row horizon frame is driver-scale; the lag window is free
    val w = Window.orderBy("dist")
    exact.join(approx, Seq("dist"))
      .select(col("dist"), col("pairs"),
        when(abs(col("pairs_approx") - col("pairs")) <=
               col("pairs") * 0.10 + 1.0, lit(0L)).otherwise(lit(1L))
          .as("err_gate"),
        when(col("pairs_approx") >=
               lag(col("pairs_approx"), 1, Double.MinValue).over(w),
          lit(0L)).otherwise(lit(1L)).as("mono_gate"))
      .orderBy("dist")
  }

  /** Pivot-sampled betweenness centrality
    * ([[graft.operators.Graph.betweennessBrandesPpm]]) over the
    * [[graphHarmonic]] chain+bridges directed fixture — the
    * bridge-detection rank that completes the centrality family (a
    * node with modest degree but high betweenness is a chokepoint the
    * degree/harmonic/pagerank priors all miss; in a link graph these
    * are the hub pages stitching communities). Pivots = the mod-10
    * residues (K=10 of N=100 — the Brandes-Pich sampling trade),
    * horizon 12 covers the fixture's directed diameter, so each
    * pivot's dependency pass is exact. ORACLE-CHECKED: both phases
    * unroll as CTE chains (forward = the graphHarmonic BFS unroll plus
    * the σ column; backward = 12 integer ppm delta steps) — the
    * fixed-point arithmetic was chosen exactly so the accumulation is
    * engine-reproducible, and the hash match proves it digit for
    * digit. GraphSpec additionally gates against an independently-
    * coded exact Brandes (Double arithmetic, no step mirroring), plus
    * closed forms. */
  def graphBetweenness(s: SparkSession, dir: String): DataFrame = {
    val nodes = t(s, dir, "documents")
      .select((col("doc_id") % 100).as("node")).distinct()
    val chain = nodes.filter(col("node") % 7 =!= 6 && col("node") < 99)
      .select(col("node").as("src"), (col("node") + 1).as("dst"))
    val bridges = nodes.filter(col("node").isin(0, 25))
      .select(col("node").as("src"), (col("node") + 50).as("dst"))
    val pivots = nodes.filter(col("node") % 10 === 0)
    graft.operators.Graph.betweennessBrandesPpm(
      chain.unionByName(bridges), nodes, pivots, maxDist = 12)
      .orderBy("node")
  }

  /** [[graphBetweenness]]'s VOLUME twin on the [[volumeGraph]]
    * expander — the data-dominated proof run for the two-phase Brandes
    * chassis (the 100-node fixture proves semantics; this proves the
    * per-step cost tracks the 10N-edge frame): pivots `node % 997 = 0`
    * scale with the domain (1 at sf0.01, 6 at sf0.1), horizon 8 covers
    * the degree-10 expander's reach with slack. Same oracle generator
    * as the small fixture. */
  def graphBetweennessVolume(s: SparkSession, dir: String): DataFrame = {
    val (nodes, edges) = volumeGraph(s, dir)
    val pivots = nodes.filter(col("node") % 997 === 0)
    graft.operators.Graph.betweennessBrandesPpm(edges, nodes, pivots,
        maxDist = 8)
      .orderBy("node")
  }

  /** CDC log application (merge-on-read compaction): reduce a change
    * log of upserts and deletes to the current snapshot — the
    * last-writer-wins-by-sequence primitive behind every
    * Delta/Hudi-style warehouse merge, and the proper form of the
    * reference's conform loop (frontPage etl_process.py:227-241
    * reconciles raw vs clean by re-scanning; a log-structured
    * warehouse replays the tail instead). The log is synthesized
    * deterministically from orders: key = `o_orderkey % 5000`
    * (collisions intended — multiple versions per key), sequence =
    * `o_orderkey`, op = DELETE on every 11th version else UPSERT,
    * payload = price in integer cents. Winner per key = one
    * associative `max(struct(seq, op, payload))` — seq is UNIQUE per
    * key so the struct tiebreak never engages and map-side combine
    * applies; keys whose winning op is DELETE vanish. ONE shuffle on
    * the key, no window, no sort — the compaction shape that holds at
    * a 100 TB change log. */
  def cdcApply(s: SparkSession, dir: String): DataFrame = {
    // change-log derivation shared with the streaming twin (stream_cdc)
    // so the two engines' logs can never drift
    val log = graft.streaming.CdcStream.changeLog(t(s, dir, "orders"))
    log.groupBy(col("k"))
      .agg(max(struct(col("seq"), col("op"), col("cents"))).as("m"))
      .filter(col("m.op") =!= "D")
      .select(col("k"), col("m.seq").as("seq"), col("m.cents").as("cents"))
      .orderBy("k")
  }

  /** One stored change-log layout per source dir per JVM — the same
    * write-once discipline as [[zorderStore]]: the log lands
    * `partitionBy(k_bucket, seq_era)` (16 key buckets × coarse
    * sequence eras), the Hudi/Delta file-group layout where a key's
    * whole history lives under one bucket directory. */
  private val cdcStores = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def cdcStore(s: SparkSession, dir: String): String =
    cdcStores.computeIfAbsent(dir, _ => {
      val root = java.nio.file.Files.createTempDirectory("graft_cdc_log")
      ivfTmpRoots.add(root)
      val st = root.toString + "/cdc_log"
      graft.streaming.CdcStream.changeLog(t(s, dir, "orders"))
        .withColumn("k_bucket", col("k") % 16)
        .withColumn("seq_era", expr("seq DIV 10000"))
        .repartition(col("k_bucket"))  // cluster each bucket, not slivers
        .write.partitionBy("k_bucket", "seq_era").mode("overwrite").parquet(st)
      st
    })

  /** [[cdcApply]] AGAINST STORAGE — the merge-on-read compaction shape
    * at rest ([[layoutZorderStored]]'s stored-pattern applied to the
    * change log): the log lives `partitionBy(k_bucket, seq_era)`, and
    * compacting one file group (k_bucket < 4, the per-group compaction
    * a Hudi/Delta table runs) reaches the scan as a STATIC partition
    * filter — 4 of 16 bucket directory trees listed, never a full-log
    * scan, while every seq_era within a chosen bucket IS read
    * (last-writer-wins needs the key's whole history; pruning is on
    * the key dimension, not time). The compaction itself is the same
    * one-shuffle struct-max as [[cdcApply]]; the oracle is the same
    * row_number SQL restricted to the compacted buckets. PlanAuditSpec
    * asserts the PartitionFilters line and the 4-of-16 listing. */
  def cdcApplyStored(s: SparkSession, dir: String): DataFrame = {
    s.read.parquet(cdcStore(s, dir))
      .filter(col("k_bucket") < 4)
      .groupBy(col("k"))
      .agg(max(struct(col("seq"), col("op"), col("cents"))).as("m"))
      .filter(col("m.op") =!= "D")
      .select(col("k"), col("m.seq").as("seq"), col("m.cents").as("cents"))
      .orderBy("k")
  }

  /** Time travel over the stored CDC log — the as-of-sequence snapshot
    * read that completes the lakehouse tier (Delta's `VERSION AS OF` /
    * Hudi's point-in-time query): replaying `seq ≤ S` through the SAME
    * one-shuffle struct-max as [[cdcApply]] reconstructs the table
    * exactly as it stood after change S, tombstones honored AS OF that
    * point (a key deleted before S but re-upserted after stays deleted
    * in the snapshot). S = the seq midpoint, one bounded driver scalar
    * (the [[cdcCompactRewrite]] cut precedent — min/max come from
    * parquet footer stats, no data scan). Shape at scale: the stored
    * layout's SECOND partition dimension earns its keep here — the
    * as-of filter reaches the scan as `seq_era ≤ S DIV 10000`, a
    * STATIC partition filter pruning every directory written after
    * the as-of point ([[cdcApplyStored]] prunes the key dimension;
    * this prunes time — together they span the layout's design), with
    * the exact `seq ≤ S` predicate pushed into the surviving eras'
    * row groups. The oracle recomputes S with the same integer
    * midpoint and replays the filtered log through the row_number
    * formulation; PlanAuditSpec pins the era listing and the
    * replay-equals-filtered-apply invariance. */
  def cdcTimeTravel(s: SparkSession, dir: String): DataFrame = {
    val store = cdcStore(s, dir)
    val env = s.read.parquet(store)
      .agg(min(col("seq")).cast("long"), max(col("seq")).cast("long")).head()
    val asOf = (env.getLong(0) + env.getLong(1)) / 2
    s.read.parquet(store)
      .filter(col("seq_era") <= asOf / 10000L && col("seq") <= asOf)
      .groupBy(col("k"))
      .agg(max(struct(col("seq"), col("op"), col("cents"))).as("m"))
      .filter(col("m.op") =!= "D")
      .select(col("k"), col("m.seq").as("seq"), col("m.cents").as("cents"),
        lit(asOf).as("as_of_seq"))
      .orderBy("k")
  }

  /** cdc_compact_rewrite's written-back base: the stored log's OLDER
    * HALF (`seq ≤ cut`, cut = the seq midpoint — one bounded driver
    * scalar) compacted to one winner struct per key — DELETE winners
    * INCLUDED as tombstones (dropping them here would resurrect an
    * older base row when no newer delta exists) — and rewritten
    * `partitionBy(k_bucket)` as the new base file group. Built once
    * per sf dir, the [[cdcStore]]/layout pattern. */
  private val cdcCompactStores =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Long)]()

  private def cdcCompactStore(s: SparkSession, dir: String): (String, Long) =
    cdcCompactStores.computeIfAbsent(dir, _ => {
      val root = java.nio.file.Files.createTempDirectory("graft_cdc_base")
      ivfTmpRoots.add(root)
      val base = root.toString + "/cdc_base"
      val log = s.read.parquet(cdcStore(s, dir))
      val cut = log.agg(max(col("seq"))).head().getLong(0) / 2
      log.filter(col("seq") <= cut)
        .groupBy(col("k_bucket"), col("k"))
        .agg(max(struct(col("seq"), col("op"), col("cents"))).as("m"))
        .select(col("k_bucket"), col("k"), col("m.seq").as("seq"),
          col("m.op").as("op"), col("m.cents").as("cents"))
        .repartition(col("k_bucket"))
        .write.partitionBy("k_bucket").mode("overwrite").parquet(base)
      (base, cut)
    })

  /** The WRITE side of merge-on-read compaction, closing the loop
    * [[cdcApplyStored]] opened (round 19): the stored log's older half
    * is compacted and REWRITTEN as the base file group
    * ([[cdcCompactStore]] — tombstones kept, `partitionBy(k_bucket)`),
    * and this query then performs the post-compaction read a
    * Hudi/Delta reader runs: base ⊎ the live log tail (`seq > cut`,
    * the deltas that arrived "after" compaction), one struct-max
    * merge, DELETE winners dropped only at read time. Because
    * last-writer-wins is an associative idempotent max, compact-then-
    * merge must equal compacting the whole log — so the query SHARES
    * [[ExtensionOracles.cdcApplyStored]]'s oracle verbatim (storage
    * invariance as a driver hash check), and PlanAuditSpec asserts the
    * bucket filter prunes BOTH scans' partition listings. */
  def cdcCompactRewrite(s: SparkSession, dir: String): DataFrame = {
    val (baseDir, cut) = cdcCompactStore(s, dir)
    val cols = Seq("k_bucket", "k", "seq", "op", "cents").map(col)
    val base = s.read.parquet(baseDir)
      .filter(col("k_bucket") < 4).select(cols: _*)
    val live = s.read.parquet(cdcStore(s, dir))
      .filter(col("k_bucket") < 4 && col("seq") > cut).select(cols: _*)
    base.unionByName(live)
      .groupBy(col("k"))
      .agg(max(struct(col("seq"), col("op"), col("cents"))).as("m"))
      .filter(col("m.op") =!= "D")
      .select(col("k"), col("m.seq").as("seq"), col("m.cents").as("cents"))
      .orderBy("k")
  }

  /** Bipartite → unipartite co-occurrence projection: users who act in
    * the same (hour, event_type) bucket become weighted user–user
    * edges — the graph-CONSTRUCTION step feeding the BSP family (the
    * reference builds exactly this from shared phone numbers,
    * frontPage etl_process.py:77-126 `phone_extract`; a corpus
    * pipeline builds it from
    * shared hosts/templates before running cc/pagerank/kcore on it).
    * Membership is deduplicated per (user, bucket) first, pairs are
    * oriented `a < b` so each undirected edge counts once, and the
    * long tail is pruned at weight ≥ 2 (the standard projection
    * hygiene). Scale shape: the self-join fans out quadratically in
    * PER-BUCKET cardinality — bounded here by design (distinct users
    * per hour-type bucket), and the groupBy behind it rides map-side
    * combine; a heavy-hitter bucket gets the per-bucket top-B cap
    * BEFORE the join, never after: `row_number` over the bucket
    * (deterministic `user_id` order) keeps ≤ [[CoaccessCap]] members,
    * so worst-case fan-out per bucket is B·(B−1)/2 regardless of how
    * hot the bucket is — the join can never go quadratic in bucket
    * cardinality. The cap window shuffles on the SAME (h, event_type)
    * key the join needs, so it adds no extra exchange over the
    * uncapped plan. The DuckDB oracle applies the identical cap. */
  val CoaccessCap = 64

  def graphCoaccess(s: SparkSession, dir: String): DataFrame = {
    val m = t(s, dir, "events")
      .select(col("user_id"), date_trunc("hour", col("ts")).as("h"),
        col("event_type"))
      .distinct()
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("h"), col("event_type"))
          .orderBy(col("user_id"))))
      .filter(col("rn") <= CoaccessCap)
      .drop("rn")
    val a = m.select(col("h"), col("event_type"), col("user_id").as("ua"))
    val b = m.select(col("h"), col("event_type"), col("user_id").as("ub"))
    a.join(b, Seq("h", "event_type"))
      .filter(col("ua") < col("ub"))
      .groupBy(col("ua"), col("ub")).agg(count(lit(1)).as("w"))
      .filter(col("w") >= 2)
      .orderBy("ua", "ub")
  }

  /** Per-node core number ([[graft.operators.Graph.corenessHIndex]]):
    * the dense-subgraph prior over the triangle fixture's chain+skip
    * edges PLUS a 5-clique on domains {10,30,50,70,90} — so the
    * decomposition has real structure to find: clique members sit in a
    * 4-core, in-block triangle runs in a 2-core, bare chain links and
    * block boundaries in the 1-core. 8 h-index iterations (≥ the
    * fixture's convergence depth); the oracle unrolls the same 8 steps
    * from the same degree init. */
  def graphKcore(s: SparkSession, dir: String): DataFrame = {
    val nodes = t(s, dir, "documents")
      .select((col("doc_id") % 100).as("node")).distinct()
    val chain = nodes.filter(col("node") % 7 =!= 6 && col("node") < 99)
      .select(col("node").as("src"), (col("node") + 1).as("dst"))
    val skip = nodes.filter(col("node") % 7 < 5 && col("node") < 98)
      .select(col("node").as("src"), (col("node") + 2).as("dst"))
    val cl = nodes.filter(col("node") % 20 === 10)
    val clique = cl.select(col("node").as("src"))
      .crossJoin(cl.select(col("node").as("dst")))
      .filter(col("src") < col("dst"))
    graft.operators.Graph.corenessHIndex(
      chain.unionByName(skip).unionByName(clique), nodes, iterations = 8)
      .orderBy("node")
  }

  /** Deterministic label-propagation communities
    * ([[graft.operators.Graph.labelPropagationMinTie]]) over a
    * block-community fixture: blocks of 10 made cohesive by chain
    * (d → d+1) and skip (d → d+2) edges entirely inside each block,
    * loosely coupled by ONE bridge per block pair (b·10+5 → b·10+15) —
    * dense-inside/sparse-between, the regime LPA is built for. 8
    * synchronous (count DESC, label ASC) steps; the oracle unrolls the
    * identical vote/argmax per step. */
  def graphLpa(s: SparkSession, dir: String): DataFrame = {
    val nodes = t(s, dir, "documents")
      .select((col("doc_id") % 100).as("node")).distinct()
    val chain = nodes.filter(col("node") % 10 < 9 && col("node") < 99)
      .select(col("node").as("src"), (col("node") + 1).as("dst"))
    val skip = nodes.filter(col("node") % 10 < 8 && col("node") < 98)
      .select(col("node").as("src"), (col("node") + 2).as("dst"))
    val bridges = nodes.filter(col("node") % 10 === 5 && col("node") < 90)
      .select(col("node").as("src"), (col("node") + 10).as("dst"))
    graft.operators.Graph.labelPropagationMinTie(
      chain.unionByName(skip).unionByName(bridges), nodes, iterations = 8)
      .orderBy("node")
  }

  /** Community-quality scoring over the [[graphLpa]] assignment
    * ([[graft.operators.Graph.modularityPpm]]): Newman modularity in
    * exact integer ppm — LPA assigns, this SCORES, the measure that
    * decides whether detected mirror-clusters are real structure or
    * noise (blocks-of-10 with sparse bridges score high; a random
    * labeling near zero). Runs the REAL 8-step LPA in-query, then two
    * hash aggregates over the canonical undirected closure; the
    * oracle replays the same unrolled LPA steps and the same integer
    * rational, so assignment AND measure land in one hash. */
  def graphModularity(s: SparkSession, dir: String): DataFrame = {
    val nodes = t(s, dir, "documents")
      .select((col("doc_id") % 100).as("node")).distinct()
    val chain = nodes.filter(col("node") % 10 < 9 && col("node") < 99)
      .select(col("node").as("src"), (col("node") + 1).as("dst"))
    val skip = nodes.filter(col("node") % 10 < 8 && col("node") < 98)
      .select(col("node").as("src"), (col("node") + 2).as("dst"))
    val bridges = nodes.filter(col("node") % 10 === 5 && col("node") < 90)
      .select(col("node").as("src"), (col("node") + 10).as("dst"))
    val edges = chain.unionByName(skip).unionByName(bridges)
    // one shared canonical closure for assign + score (see the volume twin)
    val nset = nodes.select(col("node"))
    val und = graft.operators.Graph.canonicalUndirected(edges, nset)
    val labels = graft.operators.Graph.labelPropagationMinTieOver(
      und, nset, iterations = 8)
    graft.operators.Graph.modularityPpmOver(und, labels)
  }

  /** Per-community conductance of the [[graphLpa]] assignment
    * ([[graft.operators.Graph.conductancePpm]]) — [[graphModularity]]
    * localizes to the cluster level: one integer cut-quality ppm per
    * detected community over the same bridged blocks-of-10 graph, the
    * threshold that separates tight mirror-clusters (keep) from porous
    * ones (re-split). Same chassis: the REAL 8-step LPA in-query, two
    * hash aggregates over the canonical undirected closure, loud
    * zero-divisor guard; the oracle replays the unrolled LPA then the
    * identical min(vol, 2m−vol) rational in HUGEINT. */
  def graphConductance(s: SparkSession, dir: String): DataFrame = {
    val nodes = t(s, dir, "documents")
      .select((col("doc_id") % 100).as("node")).distinct()
    val chain = nodes.filter(col("node") % 10 < 9 && col("node") < 99)
      .select(col("node").as("src"), (col("node") + 1).as("dst"))
    val skip = nodes.filter(col("node") % 10 < 8 && col("node") < 98)
      .select(col("node").as("src"), (col("node") + 2).as("dst"))
    val bridges = nodes.filter(col("node") % 10 === 5 && col("node") < 90)
      .select(col("node").as("src"), (col("node") + 10).as("dst"))
    val edges = chain.unionByName(skip).unionByName(bridges)
    // one shared canonical closure for assign + score (see graphModularityVolume)
    val nset = nodes.select(col("node"))
    val und = graft.operators.Graph.canonicalUndirected(edges, nset)
    val labels = graft.operators.Graph.labelPropagationMinTieOver(
      und, nset, iterations = 8)
    graft.operators.Graph.conductancePpmOver(und, labels)
  }

  /** Exact k-NN graph over the embedding table — the all-pairs
    * construction semantic-dedup clustering and diversity sampling
    * start from: each probe vector (every 10th `vec_id`, the bounded
    * probe batch of a full-corpus sweep) gets its 5 nearest neighbors
    * by cosine, ranked (sim DESC, id ASC) on the SAME round-4 values
    * the oracle ranks on. Scale shape: probes broadcast against the
    * corpus scan, and the per-probe top-k runs through
    * [[graft.functions.TopKAgg]] — map-side k-sized partials, ONE
    * shuffle of k-row states on `qid`, no window over the pair set (a
    * window formulation shuffles |corpus|·|probes| rows; this shuffles
    * |probes|·k). The ANN family (ann_lsh/ivf/ivfpq) is the sublinear
    * path; this is the exact baseline that defines their recall. */
  /** Hard-negative mining for retrieval training, ORACLE-CHECKED
    * (round 19): per query, the top-k most-similar docs that are NOT
    * near-duplicates — contrastive training wants negatives that are
    * hard (close in embedding space) but genuinely different; a
    * near-dup slipping in as a "negative" poisons the loss (it's a
    * positive). The near-dup screen is the radius rule: candidates at
    * exact round-4 cosine ≥ 0.9 are EXCLUDED (and counted —
    * `n_screened`), the top-5 BELOW the bar are the mined negatives.
    * The [[dedupSemantic]] twins are planted so every query (`% 70` —
    * planted parents ∩ the probe stride) has exactly the decoy the
    * screen must catch: without it the twin would be rank-1. Exact
    * per-query cosine in the broadcast-probe regime (the
    * [[embKnnGraph]] shape) keeps the screen deterministic — an LSH
    * screen's recall would leak into the output. Bounded-heap top-k,
    * never a global sort. */
  def embHardNegatives(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    requireTwinIdHeadroom(emb, "vec_id", "emb_hard_negatives")
    val twins = emb.filter(col("vec_id") % 7 === 0)
      .select((col("vec_id") + 100000L).as("vec_id"),
        expr("transform(v, (x, i) -> x + (cast((vec_id * 31 + i) % 7 as double) - 3.0d) * 0.003d)")
          .as("v"))
    val corpus = emb.unionByName(twins)
    val q = emb.filter(col("vec_id") % 70 === 0)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val scored = corpus.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("id"),
        round(graft.functions.Vecs.cosineSim(col("v"), col("qv")), 4).as("sim"))
      .localCheckpoint()   // two consumers: the screen count + the top-k
    val screened = scored.filter(col("sim") >= 0.9)
      .groupBy("qid").agg(count(lit(1)).as("n_screened"))
    scored.filter(col("sim") < 0.9)
      .groupBy("qid")
      .agg(graft.functions.TopKAgg.topK(
        struct(col("sim"), (-col("id")).as("nid")), 5).as("t"))
      .join(screened, Seq("qid"), "left")
      .na.fill(0L, Seq("n_screened"))
      .select(col("qid"), col("n_screened"), posexplode(col("t")).as(Seq("i", "s")))
      .select(col("qid"), (col("i") + 1).cast("long").as("rank"),
        (-col("s.nid")).as("id"), col("s.sim").as("sim"), col("n_screened"))
      .orderBy("qid", "rank")
  }

  def embKnnGraph(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val q = emb.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val scored = emb.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("id"),
        round(graft.functions.Vecs.cosineSim(col("v"), col("qv")), 4).as("sim"))
    scored.groupBy("qid")
      .agg(graft.functions.TopKAgg.topK(
        struct(col("sim"), (-col("id")).as("nid")), 5).as("t"))
      .select(col("qid"), posexplode(col("t")).as(Seq("i", "s")))
      .select(col("qid"), (col("i") + 1).cast("int").as("rank"),
        (-col("s.nid")).as("nbr"), col("s.sim").as("sim"))
      .orderBy("qid", "rank")
  }

  /** Dominant eigenvector of the embedding Gram matrix by EXACT-INTEGER
    * power iteration — the spectral drift/collapse statistic an
    * embedding-quality monitor tracks (a corpus whose top singular
    * direction swallows the spectrum has collapsed; its drift between
    * snapshots flags upstream distribution shift). Everything is
    * engine-portable integer arithmetic so the oracle replays it
    * digit-for-digit: components quantize to `floor((x+1)·63)` ∈
    * [0,126] (NON-NEGATIVE, so floor-div and trunc-div agree in every
    * engine), the Gram matrix C = Σ_r q_r q_rᵀ accumulates exactly in
    * i64, and 8 iterations of `v ← (C·v) div (max(C·v) div 1e6 + 1)`
    * (L∞ normalization — max and integer div, no sqrt) converge to the
    * dominant eigenvector up to the documented fixed-point rounding.
    *
    * Scale shape: the Gram accumulation is ONE explode + groupBy with
    * exactly d² = 4096 distinct keys — map-side combine collapses
    * every task's contribution to ≤ 4096 partials, so the shuffle is
    * O(tasks·d²) rows regardless of corpus size. The 64×64 result is a
    * bounded driver scalar (32 KB — the IVF-codebook class), and the
    * 8-step iteration runs driver-side in exact Long arithmetic.
    * Overflow bound: C entries ≤ 126²·N, the matvec ≤ 64·C_max·1e6 —
    * i64-safe to N ≈ 9·10⁶ rows. [[pcaPowerIterate]] enforces the
    * bound with a loud `require` on the max Gram cell (the exact
    * quantity whose matvec wraps) instead of trusting the comment;
    * past it, rescale the quantization or lift the matvec to
    * DECIMAL(38,0) (the graph_pagerank_wide pattern). */
  def embPcaPower(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val q = emb.select(
      expr("transform(cast(embedding as array<double>), x -> cast(floor((x + 1) * 63) as bigint))")
        .as("qv"))
    val cells = q
      .select(col("qv"), posexplode(col("qv")).as(Seq("i", "xi")))
      .select(col("i"), col("xi"), posexplode(col("qv")).as(Seq("j", "xj")))
      .groupBy(col("i"), col("j")).agg(sum(col("xi") * col("xj")).as("c"))
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toMap
    val d = 64
    val mat = Array.tabulate(d, d)((i, j) => cells.getOrElse((i, j), 0L))
    val v = pcaPowerIterate(mat)
    import s.implicits._
    v.zipWithIndex.map { case (x, i) => (i.toLong, x) }.toSeq
      .toDF("idx", "loading").orderBy("idx")
  }

  /** The 8-step L∞-normalized integer power iteration behind
    * [[embPcaPower]]. Fails loudly when any Gram cell is large enough
    * that the i64 matvec (≤ d·C_max·1e6) could wrap — the silent-wrap
    * hazard the scaladoc bound describes (N ≈ 9·10⁶ rows at d=64). */
  private[queries] def pcaPowerIterate(mat: Array[Array[Long]]): Array[Long] = {
    val d = mat.length
    val cMax = mat.iterator.flatMap(_.iterator).max
    require(cMax <= Long.MaxValue / (d.toLong * 1000000L),
      s"embPcaPower Gram cell $cMax overflows the i64 matvec bound " +
        s"(max ${Long.MaxValue / (d.toLong * 1000000L)} at d=$d, ~9e6 rows); " +
        "rescale the quantization or lift to DECIMAL(38,0)")
    var v = Array.fill(d)(1000000L)
    for (_ <- 1 to 8) {
      val w = Array.tabulate(d)(i =>
        (0 until d).map(j => mat(i)(j) * v(j)).sum)
      val div = w.max / 1000000L + 1L
      v = w.map(_ / div)
    }
    v
  }

  /** Dimension-truncation retrieval evaluation (the Matryoshka-style
    * accuracy check an embedding pipeline runs before shipping
    * truncated vectors): per probe, how many of the full-dimension
    * top-5 neighbors survive when both sides are cut to the first 16
    * of 64 dims. Everything is exact — same round-4 cosine ranking as
    * [[embKnnGraph]] on both variants — so the overlap count is a pure
    * integer the oracle reproduces; the expensive part rides the same
    * broadcast-probe + [[graft.functions.TopKAgg]] shape (two passes
    * over the corpus scan, k-row partials, no pair-set shuffle). */
  def embTruncRecall(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    def top5(vecExpr: String): DataFrame = {
      val c = emb.select(col("vec_id"), expr(vecExpr).as("v"))
      val q = c.filter(col("vec_id") % 10 === 0)
        .select(col("vec_id").as("qid"), col("v").as("qv"))
      c.crossJoin(broadcast(q)).filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id").as("id"),
          round(graft.functions.Vecs.cosineSim(col("v"), col("qv")), 4).as("sim"))
        .groupBy("qid")
        .agg(graft.functions.TopKAgg.topK(
          struct(col("sim"), (-col("id")).as("nid")), 5).as("t"))
        .select(col("qid"), expr("transform(t, s -> -s.nid)").as("ids"))
    }
    top5("cast(embedding as array<double>)")
      .join(top5("cast(slice(embedding, 1, 16) as array<double>)")
        .withColumnRenamed("ids", "ids16"), Seq("qid"))
      .select(col("qid"),
        size(array_intersect(col("ids"), col("ids16"))).as("n_overlap"))
      .orderBy("qid")
  }

  /** SCD type-2 dimension history
    * ([[graft.operators.Temporal.scd2History]]) over the orders change
    * log: per customer, consecutive equal order priorities collapse and
    * the survivors carry half-open `[valid_from, valid_to)` validity
    * ranges, `valid_to IS NULL` flagging the current row — the proper
    * warehouse form of the reference's raw-vs-clean reconciliation
    * (frontPage etl_process.py:227-241). The final sort includes
    * `valid_to NULLS FIRST` on both engines so the row order is total
    * even when one customer changes priority twice on one date. */
  def scd2History(s: SparkSession, dir: String): DataFrame =
    graft.operators.Temporal.scd2History(
      t(s, dir, "orders"), "o_custkey", "o_orderpriority",
      "o_orderdate", "o_orderkey")
      .select(col("o_custkey").as("custkey"),
        col("o_orderpriority").as("priority"),
        col("valid_from"), col("valid_to"), col("is_current"))
      .orderBy(col("custkey"), col("valid_from"), col("priority"),
        col("valid_to").asc_nulls_first)

  /** INCREMENTAL SCD2 maintenance — the nightly dimension-update
    * operator ([[scd2History]] builds from scratch; a warehouse never
    * re-reads years of history to absorb a day of changes): the
    * change stream is split at a cut date (the epoch-day midpoint,
    * one bounded driver scalar from parquet footer stats — the
    * [[cdcTimeTravel]] convention), the OLD half folded to the
    * existing history table (localCheckpointed — the stored
    * dimension stand-in, built once, read twice), and the DELTA batch
    * merged in: per-key change detection over the delta SEEDED with
    * each key's current attribute (the first delta row compares
    * against the open interval, not against nothing — the boundary
    * condition that makes incremental equal full), each key's open
    * interval closed at its first delta change, new intervals
    * appended with the last left open. Per-key windows in one
    * exchange over the DELTA only + an equi-join to the current rows
    * — cost tracks the batch, never the history. The gate is the
    * whole point: the result shares [[scd2History]]'s full-rebuild
    * oracle VERBATIM, so the driver hash certifies
    * merge(H_old, delta) ≡ rebuild(all) — the associativity a
    * lakehouse dimension pipeline silently relies on. */
  def scd2Merge(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders").select(col("o_custkey").as("custkey"),
      col("o_orderpriority").as("priority"),
      col("o_orderdate").as("ts"), col("o_orderkey").as("id"))
    val env = o.agg(
      datediff(to_date(min(col("ts"))), lit("1970-01-01")).cast("long"),
      datediff(to_date(max(col("ts"))), lit("1970-01-01")).cast("long")).head()
    val cutDay = (env.getLong(0) + env.getLong(1)) / 2
    val isOld = datediff(to_date(col("ts")), lit("1970-01-01")) < cutDay
    val hOld = graft.operators.Temporal.scd2History(
        o.filter(isOld), "custkey", "priority", "ts", "id")
      .localCheckpoint()
    val cur = hOld.filter(col("is_current"))
      .select(col("custkey"), col("priority").as("cur_priority"))
    val w = Window.partitionBy("custkey").orderBy("ts", "id")
    // seeded change detection: lag within the delta, the current
    // attribute as the phantom row 0 (null for brand-new keys)
    val changes = o.filter(!isOld)
      .join(cur, Seq("custkey"), "left")
      .withColumn("prev",
        coalesce(lag(col("priority"), 1).over(w), col("cur_priority")))
      .filter(col("prev").isNull || col("prev") =!= col("priority"))
    val newIv = changes
      .withColumn("valid_from", col("ts"))
      .withColumn("valid_to", lead(col("ts"), 1).over(w))
      .select(col("custkey"), col("priority"), col("valid_from"),
        col("valid_to"), col("valid_to").isNull.as("is_current"))
      .localCheckpoint()   // two consumers: rows + the close-at frame
    val firstChange = newIv.groupBy("custkey")
      .agg(min(col("valid_from")).as("close_at"))
    val curMerged = hOld.filter(col("is_current"))
      .join(firstChange, Seq("custkey"), "left")
      .select(col("custkey"), col("priority"), col("valid_from"),
        col("close_at").as("valid_to"), col("close_at").isNull.as("is_current"))
    hOld.filter(!col("is_current"))
      .select(col("custkey"), col("priority"), col("valid_from"),
        col("valid_to"), col("is_current"))
      .unionByName(curMerged)
      .unionByName(newIv)
      .orderBy(col("custkey"), col("valid_from"), col("priority"),
        col("valid_to").asc_nulls_first)
  }

  /** Robust per-entity outlier census — median/MAD flagging in EXACT
    * integer cents (the data-quality sweep an event pipeline runs
    * before aggregates: a mis-scaled currency or a fat-fingered value
    * shifts a mean silently, but survives a median): per user, the
    * deterministic lower median of event values (row_number pick at
    * ⌊(n+1)/2⌋ under the total (cents, event_id) order — never a
    * float percentile, whose interpolation differs across engines),
    * the median absolute deviation by the same pick over (|v−med|,
    * event_id), and the count of events with `100·dev > 480·mad`
    * (≈ 4.8 MADs ≈ 3.2σ under normality, in pure integer arithmetic
    * so the oracle matches digit for digit; mad = 0 degenerates to
    * "any deviation flags", the right call for constant-valued
    * users). Two sorts + one aggregate, all inside a single exchange
    * on user_id. */
  def eventsAnomaly(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events").select(col("user_id"), col("event_id"),
      round(col("value") * 100).cast("long").as("cents"))
    val wAll = Window.partitionBy("user_id")
    val wOrd = wAll.orderBy("cents", "event_id")
    val med = e.withColumn("rn", row_number().over(wOrd))
      .withColumn("n", count(lit(1)).over(wAll))
      .filter(col("rn") === expr("(n + 1) div 2"))
      .select(col("user_id"), col("cents").as("med"))
    val d = e.join(med, "user_id")
      .withColumn("dev", abs(col("cents") - col("med")))
    val wDev = wAll.orderBy("dev", "event_id")
    val mad = d.withColumn("rn", row_number().over(wDev))
      .withColumn("n", count(lit(1)).over(wAll))
      .filter(col("rn") === expr("(n + 1) div 2"))
      .select(col("user_id"), col("dev").as("mad"))
    d.join(mad, "user_id")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        max(col("med")).as("med_cents"), max(col("mad")).as("mad_cents"),
        sum(when(col("dev") * 100 > col("mad") * 480, 1L).otherwise(0L))
          .as("n_outliers"))
      .orderBy("user_id")
  }

  /** POINT-IN-TIME-correct dimension lookup over the [[scd2History]]
    * validity ranges — the feature-store primitive ML training-data
    * assembly calls a point-in-time join: each probe (entity, as-of
    * timestamp) must see the attribute value that was CURRENT at that
    * instant, never a later one (using today's value for yesterday's
    * training example is label leakage). Probes are every 10th order's
    * customer as-of 30 days after that order; the half-open rule
    * `valid_from ≤ t < valid_to` (open current row unbounded) picks at
    * most one range per probe — LEFT join, so a probe before the
    * entity's first recorded change surfaces a NULL attribute rather
    * than silently disappearing. Scale shape: the join is EQUI on the
    * entity key with the range rule as a post-filter — per-entity
    * histories are bounded by change counts, so no interval index or
    * cartesian is ever needed; PlanAuditSpec's no-BNLJ gate applies. */
  def scd2Lookup(s: SparkSession, dir: String): DataFrame = {
    val hist = graft.operators.Temporal.scd2History(
        t(s, dir, "orders"), "o_custkey", "o_orderpriority",
        "o_orderdate", "o_orderkey")
      .select(col("o_custkey").as("custkey"),
        col("o_orderpriority").as("priority"),
        col("valid_from"), col("valid_to"))
    val probes = t(s, dir, "orders")
      .filter(col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey").as("probe_id"),
        col("o_custkey").as("custkey"),
        (col("o_orderdate") + expr("INTERVAL 30 DAYS")).as("as_of"))
    probes.join(hist,
        probes("custkey") === hist("custkey") &&
          col("valid_from") <= col("as_of") &&
          (col("valid_to").isNull || col("as_of") < col("valid_to")),
        "left")
      .select(col("probe_id"), probes("custkey"), col("as_of"), col("priority"))
      .orderBy("probe_id")
  }

  /** Gaps-and-islands interval merge
    * ([[graft.operators.Temporal.mergeIntervals]]): each event opens a
    * VARIABLE-LENGTH activity interval `[ts, ts + (event_id%600+60)s)`
    * and overlapping/touching intervals per user coalesce into islands
    * via the cumulative-max-end construction — deliberately NOT
    * equivalent to q23's lag-gap sessionization: a long early interval
    * swallows later short ones, which the lag test mis-splits. Output
    * is one row per island in epoch micros. */
  def intervalMerge(s: SparkSession, dir: String): DataFrame = {
    val sUs = unix_micros(col("ts"))
    val eUs = sUs + (col("event_id") % 600 + 60) * lit(1000000L)
    graft.operators.Temporal.mergeIntervals(
      t(s, dir, "events"), "user_id", sUs, eUs, "event_id")
      .select(col("user_id"), col("island_no"),
        col("start_us"), col("end_us"), col("n").as("n_events"))
      .orderBy("user_id", "island_no")
  }

  /** Interval OVERLAP join — both sides are INTERVALS (view-activity
    * windows × click-activity windows per user), the two-sided
    * generalization of [[graft.queries.Inventory]] q14's
    * point-in-range join and the join tier of the interval algebra
    * [[intervalMerge]] starts: per user, every (view, click) window
    * pair that overlaps, with the exact overlap duration summed.
    * Durations are the deterministic event_id synthesis (1–4 h /
    * 0.5–3 h), half-open [s, e) overlap.
    *
    * Scale shape — grid-bucketed equi join, never a non-equi range
    * join: each interval explodes to the 4-h grid cells it spans
    * (grid ≥ max duration ⇒ ≤ 2 cells per interval), the join is a
    * plain hash equi join on (user, cell), and each overlapping pair
    * is kept EXACTLY ONCE by the overlap-start-ownership rule — only
    * the cell containing greatest(s_a, s_b) emits the pair, a cell
    * both sides provably carry (the overlap start lies inside both
    * intervals). No DISTINCT pass, no pair ever shuffled twice;
    * per-cell fan-out is bounded by per-user activity within one grid
    * cell, the same bound q14 rides. The oracle is the plain non-equi
    * join — bucketing must be answer-invisible. */
  def intervalJoin(s: SparkSession, dir: String): DataFrame = {
    val g = 14400000000L   // 4-h grid in µs, ≥ both max durations
    val ev = t(s, dir, "events")
    def intervals(tpe: String, durMod: Long, durMin: Long,
                  sN: String, eN: String) =
      ev.filter(col("event_type") === tpe)
        .select(col("user_id"), unix_micros(col("ts")).as(sN),
          (unix_micros(col("ts")) +
            (col("event_id") % durMod + durMin) * 1000000L).as(eN))
    val ax = intervals("view", 10800L, 3600L, "s_a", "e_a")
      .withColumn("cell", explode(sequence(
        expr(s"s_a DIV $g"), expr(s"(e_a - 1) DIV $g"))))
    val bx = intervals("click", 9000L, 1800L, "s_b", "e_b")
      .withColumn("cell", explode(sequence(
        expr(s"s_b DIV $g"), expr(s"(e_b - 1) DIV $g"))))
    ax.join(bx, Seq("user_id", "cell"))
      .filter(col("s_a") < col("e_b") && col("s_b") < col("e_a"))
      .filter(col("cell") === expr(s"greatest(s_a, s_b) DIV $g"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_pairs"),
        sum(least(col("e_a"), col("e_b")) -
          greatest(col("s_a"), col("s_b"))).as("overlap_us"))
      .orderBy("user_id")
  }

  /** Distribution-drift gate between two corpus halves — the
    * feature-drift check a training pipeline runs before trusting a
    * new ingest window (PSI/KL need logs; the metric here is TOTAL
    * VARIATION DISTANCE over ppm-floored shares, integer end to end
    * and scale-independent: shares are ≤ 10⁶ whatever the corpus
    * size, so nothing overflows at 10¹² events). Reference = days
    * ≤ Jan 15, current = the rest; per event_type the exact counts
    * and ppm shares, plus the global `tvd_ppm = Σ|Δshare| div 2` and
    * a ≥ 5% drift flag on every row. Shape: two map-side-combined
    * count aggregates, a full-outer type join (types may appear in
    * one half only), totals and the TVD as 1-row scalar broadcasts
    * (boundedScalarBnlj class). */
  def dqDrift(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("event_type"), to_date(col("ts")).as("d"))
    val ref = ev.filter(col("d") <= lit("2024-01-15").cast("date"))
      .groupBy("event_type").agg(count(lit(1)).as("n_ref"))
    val cur = ev.filter(col("d") > lit("2024-01-15").cast("date"))
      .groupBy("event_type").agg(count(lit(1)).as("n_cur"))
    driftReport(ref.join(cur, Seq("event_type"), "full_outer")
      .select(col("event_type"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur")))
  }

  /** [[dqDrift]]'s scoring tail over a `(event_type, n_ref, n_cur)`
    * census — separable so the drift/no-drift contract is
    * closed-form-testable on planted distributions. */
  private[queries] def driftReport(jIn: DataFrame): DataFrame = {
    val j = jIn.localCheckpoint()   // consumers: totals + shares
    val tot = j.agg(sum(col("n_ref")).as("t_ref"), sum(col("n_cur")).as("t_cur"))
    val scored = j.crossJoin(broadcast(tot))
      // fail-loudly guard (round-20 advice): an EMPTY half-census makes
      // t_ref/t_cur zero, integer DIV then yields NULL shares and a
      // NULL tvd_ppm, and drift_flag silently stays 0 — a quality gate
      // passing because its reference window is empty. assert_true
      // rides the same projection (no extra job) and aborts the query
      // instead; the predicate holds on any non-degenerate window, so
      // plans and results are unchanged wherever the gate was valid.
      .where(expr("assert_true(t_ref > 0 AND t_cur > 0, " +
        "'driftReport: empty reference or current half-census — the TVD " +
        "drift gate is undefined; fix the window bounds') IS NULL"))
      .select(col("event_type"), col("n_ref"), col("n_cur"),
        expr("(n_ref * 1000000) DIV t_ref").as("share_ref_ppm"),
        expr("(n_cur * 1000000) DIV t_cur").as("share_cur_ppm"))
      .localCheckpoint()   // consumers: TVD scan + final projection
    val tvd = scored.agg(
      expr("sum(abs(share_ref_ppm - share_cur_ppm)) DIV 2").as("tvd_ppm"))
    scored.crossJoin(broadcast(tvd))
      .select(col("event_type"), col("n_ref"), col("n_cur"),
        col("share_ref_ppm"), col("share_cur_ppm"), col("tvd_ppm"),
        when(col("tvd_ppm") >= 50000L, lit(1L)).otherwise(lit(0L))
          .as("drift_flag"))
      .orderBy("event_type")
  }

  /** Cohort retention triangle — the product-analytics staple (and the
    * data-mix health check an LLM ingest pipeline runs on its crawl
    * sources: does a cohort of first-seen domains/users keep producing
    * k days later?): users cohorted by FIRST active day, then for each
    * (cohort_day, day_offset ≤ 7) the count of distinct cohort members
    * active exactly that many days later. Shape at scale: ONE distinct
    * over (user, day) — the exchange carries (i64, date), never events
    * — then the cohort via a min-window inside the SAME user_id
    * partitioning (one more exchange), then a hash aggregate whose
    * distinct-count key (cohort, offset, user) is bounded by active
    * user-days, with map-side partial dedup. No join at all: the
    * window formulation replaces the groupBy-then-self-join idiom and
    * saves its third exchange. */
  def eventsRetention(s: SparkSession, dir: String): DataFrame = {
    val ud = t(s, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("d"))
      .distinct()
    val cohort = min(col("d")).over(Window.partitionBy("user_id"))
    ud.withColumn("cohort_day", cohort)
      .withColumn("day_offset", datediff(col("d"), col("cohort_day")).cast("long"))
      .filter(col("day_offset") <= 7)
      .groupBy("cohort_day", "day_offset")
      // count, NOT countDistinct: the frame is already distinct (user,
      // day) and cohort_day/day_offset are functions of that key, so a
      // user appears at most once per group — the distinct would only
      // add an Expand + second shuffle phase for the same result
      .agg(count(lit(1)).as("n_users"))
      .orderBy("cohort_day", "day_offset")
  }

  /** Weekly cohort retention — [[eventsRetention]]'s reporting
    * granularity (daily triangles are noisy for small cohorts; the
    * weekly roll-up is what a growth dashboard actually charts):
    * distinct (user, week) frame with week = epoch-day DIV 7 (fixed
    * 7-day buckets anchored at 1970-01-01 — engine-portable integer
    * arithmetic, no locale/ISO-week divergence between engines),
    * cohort week = each user's first active week via one per-user
    * min-window, offsets capped at 8 weeks. Same plan shape and the
    * same count-not-countDistinct argument: (user, week) is unique
    * after the distinct and cohort/offset are functions of it. */
  def eventsRetentionWeekly(s: SparkSession, dir: String): DataFrame = {
    val uw = t(s, dir, "events")
      .select(col("user_id"),
        expr("CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') AS BIGINT) DIV 7")
          .as("w"))
      .distinct()
    val cohort = min(col("w")).over(Window.partitionBy("user_id"))
    uw.withColumn("cohort_week", cohort)
      .withColumn("week_offset", col("w") - col("cohort_week"))
      .filter(col("week_offset") <= 8)
      .groupBy("cohort_week", "week_offset")
      .agg(count(lit(1)).as("n_users"))
      .orderBy("cohort_week", "week_offset")
  }

  /** DAU/WAU stickiness — [[eventsRetention]]'s sibling on the same
    * distinct user-day frame (the second product-analytics chassis a
    * crawl-health dashboard runs: of everyone active in the trailing
    * week, what share came back today?): per observed day, DAU =
    * distinct active users, WAU = distinct users active in the
    * trailing 7-day window, `stickiness_ppm = DAU·10⁶ DIV WAU`.
    * Shape at scale: ONE distinct over (user, day) — the exchange
    * carries (i64, date), never events — then the trailing window via
    * a BOUNDED 7× explode (each user-day covers the 7 window-days it
    * can serve) re-deduped per (user, window_day); both counts are
    * hash aggregates with map-side partial dedup, joined day-to-day
    * (skinny date-keyed frames). No window function over users, no
    * range self-join — the explode formulation keeps the shuffle
    * linear in active user-days × 7. Days with activity gaps
    * contribute to later WAUs but emit no row themselves (inner join
    * on the DAU side — a day nobody visited has no stickiness). */
  def eventsStickiness(s: SparkSession, dir: String): DataFrame = {
    val ud = t(s, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("d"))
      .distinct()
      .localCheckpoint()   // two consumers: DAU direct, WAU exploded
    val dau = ud.groupBy(col("d").as("day"))
      .agg(count(lit(1)).as("dau"))
    val wau = ud
      .select(col("user_id"),
        explode(array((0 to 6).map(lit(_)): _*)).as("k"), col("d"))
      .select(col("user_id"), expr("date_add(d, k)").as("day"))
      .distinct()
      .groupBy("day").agg(count(lit(1)).as("wau"))
    dau.join(wau, "day")
      .select(col("day"), col("dau"), col("wau"),
        expr("(dau * 1000000) DIV wau").as("stickiness_ppm"))
      .orderBy("day")
  }

  /** Change-point detection on the daily event volume — the CUSUM
    * statistic (Page 1954) a crawl-health / ingest-monitoring pipeline
    * runs to locate WHEN a level shift happened (a source went dark, a
    * scraper was blocked, a bot flooded in), complementing
    * [[eventsAnomaly]]'s which-days-are-outliers view. Exact integer
    * throughout: instead of Σᵢ(nᵢ − mean) (a rational — mean = T/D),
    * the cumulative deviation is D-scaled, `cusum_d = Σᵢ≤d (nᵢ·D − T)`
    * with D = #days, T = Σnᵢ — the same monotone rescaling trick as
    * text_pmi, so argmax |cusum| is the classic CUSUM change-point
    * estimate and every value hash-matches the oracle. `is_peak`
    * flags the argmax rows (all of them on ties — deterministic).
    * Scale shape: the raw event volume collapses to O(days) rows in
    * ONE map-side-combined count aggregate; the ordered window and
    * both scalar totals then run on the daily frame (a 1-row
    * broadcast each, PlanAuditSpec's boundedScalarBnlj class), so
    * nothing unbounded ever sits in one partition. */
  def eventsChangepoint(s: SparkSession, dir: String): DataFrame =
    cusumDaily(t(s, dir, "events")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n")))

  /** [[eventsChangepoint]]'s CUSUM tail over a `(day, n)` daily frame —
    * shared with the streaming twin, whose drained state lands here as
    * the same O(days) input. */
  private[queries] def cusumDaily(dailyIn: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = dailyIn
      .localCheckpoint()   // three consumers: totals, window, peak scan
    val tot = daily.agg(count(lit(1)).as("n_days"), sum(col("n")).as("total"))
    val w = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cusum = daily.crossJoin(broadcast(tot))
      .withColumn("cusum",
        sum(col("n") * col("n_days") - col("total")).over(w))
      .localCheckpoint()   // two consumers: max scan + final projection
    val mx = cusum.agg(max(abs(col("cusum"))).as("mx"))
    cusum.crossJoin(broadcast(mx))
      .select(col("day"), col("n"), col("cusum"),
        when(abs(col("cusum")) === col("mx"), lit(1L)).otherwise(lit(0L))
          .as("is_peak"))
      .orderBy("day")
  }

  /** Greedy prefix selection under a per-language TOKEN BUDGET — the
    * curation step that turns "we can afford B tokens of each
    * language" into a concrete keep set (the mixture-balancing
    * complement of [[domainQuota]]'s count quotas and [[corpusMix]]'s
    * ratio targets: budgets are TOKENS, the unit training cost is
    * priced in, not document counts). Docs are taken in doc_id
    * (arrival) order per language while the running token total stays
    * ≤ B = 2000 — a per-partition cumulative-sum window, the
    * [[corpusOffsets]] prefix-sum shape keyed by language, so
    * parallelism is per-language and nothing global sorts. Tokens =
    * the whitespace kernel ([[graft.operators.TextAnalysis
    * .tokenCountWs]]); output is the per-language fill report with
    * the exact fill ratio in ppm. */
  def corpusTokenBudget(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val budget = 2000L
    val toks = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        graft.operators.TextAnalysis.tokenCountWs(col("text")).as("n_tok"))
    val w = Window.partitionBy("lang").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    toks.withColumn("cum_tok", sum(col("n_tok")).over(w))
      .filter(col("cum_tok") <= budget)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_kept"), sum(col("n_tok")).as("kept_tokens"))
      .select(col("lang"), col("n_kept"), col("kept_tokens"),
        expr(s"(kept_tokens * 1000000) DIV $budget").as("fill_ppm"))
      .orderBy("lang")
  }

  /** Collocation mining by pointwise mutual information — the
    * phrase-discovery pass a tokenizer/corpus pipeline runs to find
    * multiword units ("new york") whose co-occurrence beats chance
    * (Church & Hanks 1990). All arithmetic EXACT-INTEGER so the
    * ranking is engine-portable: instead of log(p(xy)/(p(x)p(y))) the
    * score is the ppm-scaled rational
    * `c_xy·N_uni²·10⁶ div (c_x·c_y·N_bi)` — log is monotone, so the
    * PMI order IS this rational's order — computed in DECIMAL(38,0)
    * (the graph_pagerank_wide treatment; the intermediate
    * c_xy·N_uni²·10⁶ stays under 38 digits while c_xy·N_uni² < 10³²,
    * comfortable past 10¹² tokens; the final quotient is ≤
    * N_uni·10⁶/minCount and fits i64 to ~10¹³ tokens). Shape at
    * scale: one token-array projection localCheckpointed and scanned
    * for unigram and adjacent-pair counts (both map-side-combined
    * hash aggregates), the two totals ride 1-row scalar broadcasts
    * (PlanAuditSpec boundedScalarBnlj), the vocab joins are term-keyed
    * equi joins, and the global top-50 is TakeOrderedAndProject with
    * the (pmi_ppm DESC, gram) total tie-break. A c_xy ≥ 5 floor keeps
    * hapax noise out, the standard PMI practice. */
  def textPmi(s: SparkSession, dir: String): DataFrame = {
    val tk = t(s, dir, "documents")
      .select(graft.functions.Sketches.wordShingles(col("text"), 1).as("tk"))
      .localCheckpoint()
    val uni = tk.select(explode(col("tk")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
      .localCheckpoint()   // three consumers: N_uni + both vocab joins
    val bi = tk.filter(size(col("tk")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(tk) - 1), i -> struct(tk[i-1] AS w1, tk[i] AS w2))")).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c_xy"))
      .localCheckpoint()   // two consumers: N_bi + the scored join
    val totals = uni.agg(sum(col("c")).as("n_uni"))
      .crossJoin(bi.agg(sum(col("c_xy")).as("n_bi")))
    bi.filter(col("c_xy") >= 5)
      .join(uni.select(col("tok").as("w1"), col("c").as("c1")), "w1")
      .join(uni.select(col("tok").as("w2"), col("c").as("c2")), "w2")
      .crossJoin(broadcast(totals))
      .withColumn("pmi_ppm", expr(
        """CAST((CAST(c_xy AS DECIMAL(38,0)) * n_uni * n_uni * 1000000)
          |     div (CAST(c1 AS DECIMAL(38,0)) * c2 * n_bi) AS BIGINT)""".stripMargin))
      .select(concat_ws(" ", col("w1"), col("w2")).as("gram"),
        col("c_xy"), col("c1"), col("c2"), col("pmi_ppm"))
      .orderBy(col("pmi_ppm").desc, col("gram")).limit(50)
  }

  /** The fixed conjunctive probe the inverted-index query answers —
    * `dup` is the corpus's one rare token (~5% of docs), so the
    * conjunction is selective at every SF; the spec and the oracle both
    * derive from this list. */
  private[graft] val InvIndexTerms = Seq("dup", "vector", "merge")
  private[graft] val InvIndexBuckets = 64

  /** One stored inverted index per source dir per JVM ([[ivfStores]]'
    * discipline): postings (term, doc_id, tf) from the shingle kernel's
    * tokenizer, laid out `partitionBy(tbucket = crc32(term) % 64)`.
    * Since round 20 the build also persists the BM25 serving artifacts
    * BESIDE the postings — `doclen` (doc_id, dl) and a 1-row `stats`
    * (n_docs, s_tok, max_dl) — derived by re-reading the written
    * postings (skinny i64 rows, one extra build-time pass), so a
    * scored probe ([[indexBm25Probe]]) never touches raw text. */
  private val invStores = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def invStore(s: SparkSession, dir: String): String =
    invStores.computeIfAbsent(dir, _ => {
      val root = java.nio.file.Files.createTempDirectory("graft_inv_q")
      ivfTmpRoots.add(root)
      val st = root.toString + "/postings"
      // POSITIONAL postings (round 20): the sorted 0-based position
      // list rides as one more parquet column — phrase probes read it,
      // boolean/BM25 probes never do (columnar pruning makes a
      // positional index cost nothing to non-positional queries, the
      // Lucene-with-positions trade without a second artifact)
      t(s, dir, "documents")
        .select(col("doc_id"), posexplode(
          graft.functions.Sketches.wordShingles(col("text"), 1)).as(Seq("pos", "term")))
        .groupBy("term", "doc_id")
        .agg(count(lit(1)).as("tf"),
          sort_array(collect_list(col("pos"))).as("positions"))
        .withColumn("tbucket", pmod(crc32(col("term")), lit(InvIndexBuckets.toLong)))
        .repartition(col("tbucket"))  // cluster each bucket, not 64 slivers per task
        .write.partitionBy("tbucket").mode("overwrite").parquet(st)
      val doclen = s.read.parquet(st)
        .groupBy("doc_id").agg(sum(col("tf")).as("dl"))
      doclen.write.mode("overwrite").parquet(root.toString + "/doclen")
      s.read.parquet(root.toString + "/doclen")
        .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("s_tok"),
          max(col("dl")).as("max_dl"))
        .coalesce(1).write.mode("overwrite").parquet(root.toString + "/stats")
      st
    })

  private[graft] def invStorePath(s: SparkSession, dir: String): String = invStore(s, dir)

  /** Conjunctive keyword search over a STORED term-bucketed inverted
    * index — the secondary-index primitive (build once, probe by
    * term): postings `(term, doc_id, tf)` live
    * `partitionBy(crc32(term) % 64)`, and a query's bucket set is pure
    * driver arithmetic on its own terms, so the probe reaches the scan
    * as a STATIC partition filter — 3 of 64 directories listed for a
    * 3-term query, scan cost tracking QUERY size, never corpus size
    * (the [[annIvfStored]] property for text retrieval; text_bm25
    * scores a full corpus, THIS is the shape that answers a keyword
    * query without touching it). Probe = filter to the terms' buckets
    * then the terms, one hash aggregate per doc_id; a doc matching
    * all |terms| postings is a conjunctive hit ((term, doc_id) is
    * unique in the index, so count(*) IS the distinct-term count).
    * Oracle-checked from RAW documents — index-build+probe
    * invariance in one hash: DuckDB tokenizes with the kernel's
    * regex, filters to the same terms, and applies the same
    * having-all rule. IndexInvertedSpec additionally pins the
    * PartitionFilters line and the 3-of-64 directory listing. */
  def indexInvertedStored(s: SparkSession, dir: String): DataFrame = {
    val store = invStore(s, dir)
    val buckets = invBuckets(InvIndexTerms)
    s.read.parquet(store)
      .filter(col("tbucket").isin(buckets: _*) &&
        col("term").isin(InvIndexTerms: _*))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"), sum(col("tf")).as("sum_tf"))
      .filter(col("n_terms") === InvIndexTerms.length)
      .orderBy("doc_id")
  }

  /** A query's bucket set is pure driver arithmetic on its own terms. */
  private def invBuckets(terms: Seq[String]): Seq[Long] =
    terms.map { w =>
      val c = new java.util.zip.CRC32()
      c.update(w.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      (c.getValue % InvIndexBuckets).toLong
    }.distinct

  /** One stored character-TRIGRAM posting index per source dir per
    * JVM — the pg_trgm / Lucene-wildcard layout: DISTINCT
    * (gram, doc_id) pairs over the lowercased 3-char shingles
    * ([[graft.functions.Sketches.charShingles]], the dedup_jaccard_char
    * kernel), `partitionBy(crc32(gram) % 64)` like [[invStore]]'s
    * word postings. */
  private val trgmStores = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def trgmStore(s: SparkSession, dir: String): String =
    trgmStores.computeIfAbsent(dir, _ => {
      val root = java.nio.file.Files.createTempDirectory("graft_trgm_q")
      ivfTmpRoots.add(root)
      val st = root.toString + "/postings"
      t(s, dir, "documents")
        .select(col("doc_id"),
          explode(graft.functions.Sketches.charShingles(col("text"), 3)).as("gram"))
        .distinct()
        .withColumn("gbucket", pmod(crc32(col("gram")), lit(InvIndexBuckets.toLong)))
        .repartition(col("gbucket"))  // cluster each bucket, not 64 slivers per task
        .write.partitionBy("gbucket").mode("overwrite").parquet(st)
      st
    })

  private[graft] def trgmStorePath(s: SparkSession, dir: String): String =
    trgmStore(s, dir)

  /** Substring (`LIKE '%needle%'`) search SERVED FROM the stored
    * trigram index — the pg_trgm primitive, the wildcard tier of the
    * retrieval family ([[indexInvertedStored]] answers word
    * conjunctions; THIS answers arbitrary substrings no tokenizer
    * covers): the needle's own trigrams are pure driver arithmetic, so
    * the probe reaches the posting scan as a STATIC partition filter
    * (≤ 8 of 64 directories for the 10-char needle); docs carrying ALL
    * needle trigrams — a condition substring containment IMPLIES, so
    * no true match can be missed — form the bounded candidate set,
    * broadcast into ONE exact `contains` verify pass over the doc
    * store (at 100 TB that store is key-bucketed — [[bucketedJoin]]'s
    * tier — so the verify is a point fetch, not a scan). Output is the
    * verified doc ids plus `n_candidates`, pinning the index's
    * candidate semantics; the oracle recomputes BOTH the direct
    * substring scan and the trigram-conjunction count from raw text —
    * index+probe+verify invariance in one hash. */
  /** The one trigram-probe needle BOTH the engine and the oracle
    * derive from, pre-lowercased (round-20 advice: the needle was
    * duplicated as a literal on both sides and the oracle skipped the
    * lowercasing — safe only while the literal happened to be
    * lowercase already; one shared constant cannot desynchronize). */
  private[queries] val trgmNeedle = "merge part".toLowerCase

  def indexTrgmProbe(s: SparkSession, dir: String): DataFrame = {
    val needle = trgmNeedle
    val grams = needle.sliding(3).toSeq.distinct
    val buckets = invBuckets(grams)
    val cands = s.read.parquet(trgmStore(s, dir))
      .filter(col("gbucket").isin(buckets: _*) && col("gram").isin(grams: _*))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("ng"))   // (gram, doc_id) unique in the index
      .filter(col("ng") === grams.size)
      .select("doc_id")
      .localCheckpoint()   // two consumers: candidate count + verify join
    val nCand = cands.count()   // bounded driver scalar, pinned by the oracle
    t(s, dir, "documents")
      .join(broadcast(cands), Seq("doc_id"), "left_semi")
      .filter(instr(lower(col("text")), needle) > 0)
      .select(col("doc_id"), lit(nCand).as("n_candidates"))
      .orderBy("doc_id")
  }

  /** BM25-scored keyword search SERVED FROM the stored inverted index —
    * [[indexInvertedStored]]'s partition-pruned posting probe carrying
    * [[graft.operators.TextAnalysis.bm25MoreLikeThis]]'s exact-integer
    * scoring (the same two ppm rationals, k1 = 1.2 / b = 0.75 cleared
    * to `DIV`s — engine-portable, no float), with the corpus stats the
    * score needs persisted BESIDE the index at build time: `stats`
    * (1 row: n_docs, s_tok, max_dl — broadcast and i64-envelope-
    * guarded via [[graft.operators.TextAnalysis.bm25RequireI64Envelope]])
    * and `doclen` (doc_id, dl — skinny i64 pairs, equi-joined to the
    * candidates). Shape at scale: the probe reaches the scan as a
    * STATIC partition filter (3 of 64 directories for the 3-term
    * disjunction — scan cost tracks query size, never corpus size);
    * per-term df comes from the probed postings themselves ((term,
    * doc_id) is unique, so a per-term count IS df — no extra
    * artifact); the doclen join touches only candidate doc_ids; the
    * global top-20 is the bounded TopKAgg heap ((score DESC, doc_id
    * ASC) ties), never a global sort. Disjunctive semantics — BM25
    * ranks any doc matching ≥ 1 term, the standard keyword-search
    * contract (the conjunctive twin is [[indexInvertedStored]]).
    * Oracle-checked from RAW documents: DuckDB tokenizes with the
    * kernel's regex and recomputes N/S/dl/df and both rationals —
    * index build + stats persistence + bucket probe change nothing
    * about the answer. */
  def indexBm25Probe(s: SparkSession, dir: String): DataFrame = {
    val store = invStore(s, dir)
    val root = store.stripSuffix("/postings")
    // ONE read of the 1-row stats parquet serves both consumers: the
    // envelope guard needs the scalars on the driver anyway, and a
    // driver-held 1-row frame re-enters the plan cheapest as literal
    // columns — the second parquet scan AND the per-probe
    // BroadcastExchange + cross join the old form paid are both gone
    // (same contract as pageRankE9's N: a bounded driver scalar).
    val statsRow = s.read.parquet(root + "/stats").head()
    TextAnalysis.bm25RequireI64Envelope(
      statsRow.getLong(0), statsRow.getLong(1), statsRow.getLong(2))
    val buckets = invBuckets(InvIndexTerms)
    val cand = s.read.parquet(store)
      .filter(col("tbucket").isin(buckets: _*) &&
        col("term").isin(InvIndexTerms: _*))
      // explicit projection BEFORE the checkpoint: a checkpoint
      // materializes whatever it is handed, so without this the probe
      // would persist the positions arrays it never reads
      .select(col("term"), col("doc_id"), col("tf"))
      .localCheckpoint()   // two consumers: df counts + the scored join
    val dfq = cand.groupBy("term").agg(count(lit(1)).as("df"))
    cand.join(broadcast(dfq), "term")
      .join(s.read.parquet(root + "/doclen"), "doc_id")
      .withColumn("n_docs", lit(statsRow.getLong(0)))
      .withColumn("s_tok", lit(statsRow.getLong(1)))
      .withColumn("idf_ppm",
        expr("(1000000 * (2 * (n_docs - df) + 1)) DIV (2 * df + 1)"))
      .withColumn("sat_ppm",
        expr("(1000000 * 22 * s_tok * tf) DIV (10 * s_tok * tf + 3 * s_tok + 9 * dl * n_docs)"))
      .withColumn("contrib", expr("(idf_ppm * sat_ppm) DIV 1000000"))
      .groupBy("doc_id")
      .agg(sum(col("contrib")).as("bm25_ppm"), count(lit(1)).as("n_terms"))
      .groupBy()
      .agg(graft.functions.TopKAgg.topK(
        struct(col("bm25_ppm"), (-col("doc_id")).as("nid"), col("n_terms")), 20).as("top"))
      .select(posexplode(col("top")).as(Seq("i", "sel")))
      .select((col("i") + 1).cast("long").as("rank"),
        (-col("sel.nid")).as("doc_id"), col("sel.bm25_ppm").as("bm25_ppm"),
        col("sel.n_terms").as("n_terms"))
      .orderBy("rank")
  }

  /** The fixed 2-term phrase the positional probe answers — chosen for
    * cross-SF presence WITH within-document repeats (n_occ > n_docs),
    * so the occurrence count is genuinely exercised. */
  private[graft] val PhraseTerms = Seq("window", "join")

  /** Exact phrase search over the STORED positional inverted index —
    * the adjacency query a boolean or BM25 probe cannot answer
    * ("window join" as a phrase, not two terms anywhere): each
    * posting's sorted 0-based position list rides beside (term,
    * doc_id, tf) in the same parquet ([[invStore]]), and the phrase
    * match is pure position arithmetic — doc matches where
    * positions(w1) ∩ (positions(w2) − 1) ≠ ∅, n_occ the intersection
    * size, first_pos its minimum. Shape at scale: the probe reaches
    * the scan as a STATIC partition filter (≤ 2 of 64 directories),
    * the two term slices equi-join on doc_id (skinny frames — a
    * term's postings, never the corpus), and the position arrays
    * stream through one codegen'd projection; non-phrase probes of
    * the SAME store never read the positions column (columnar
    * pruning), so the positional upgrade is free for them.
    * Oracle-checked from RAW documents: DuckDB re-tokenizes and
    * counts adjacent (w1, w2) bigram hits per doc — stored-positions
    * probe ≡ raw adjacency scan in one hash. */
  def indexPhraseProbe(s: SparkSession, dir: String): DataFrame = {
    val store = invStore(s, dir)
    val buckets = invBuckets(PhraseTerms)
    val post = s.read.parquet(store)
      .filter(col("tbucket").isin(buckets: _*) &&
        col("term").isin(PhraseTerms: _*))
    val a = post.filter(col("term") === PhraseTerms(0))
      .select(col("doc_id"), col("positions").as("p1"))
    val b = post.filter(col("term") === PhraseTerms(1))
      .select(col("doc_id"), col("positions").as("p2"))
    a.join(b, "doc_id")
      .select(col("doc_id"),
        expr("array_intersect(p1, transform(p2, x -> x - 1))").as("hits"))
      .filter(size(col("hits")) > 0)
      .select(col("doc_id"), size(col("hits")).cast("long").as("n_occ"),
        array_min(col("hits")).cast("long").as("first_pos"))
      .orderBy("doc_id")
  }

  /** BM25-SCORED phrase search over the stored positional index — the
    * composition a retrieval user actually runs ("window join" as a
    * ranked query, not a boolean one): the phrase is a VIRTUAL TERM —
    * tf = the doc's adjacency count from [[indexPhraseProbe]]'s
    * position intersection, df = the number of phrase-matching docs —
    * scored with [[indexBm25Probe]]'s exact-integer rationals (same
    * k1 = 1.2 / b = 0.75 cleared to DIVs, same persisted `stats` /
    * `doclen` artifacts, same i64 envelope guard — phrase tf ≤ dl ≤
    * max_dl, so the guard transfers). Shape at scale: the probe reaches
    * the scan as a STATIC partition filter (≤ 2 of 64 directories),
    * the candidate frame is phrase-matching docs only (df and the
    * doclen join touch candidates, never the corpus), df and stats are
    * 1-row broadcasts, and the top-20 is the bounded TopKAgg heap
    * ((score DESC, doc_id ASC) ties) — never a global sort.
    * Oracle-checked from RAW documents: DuckDB re-tokenizes, counts
    * adjacent bigrams, recomputes N/S/dl/df and both rationals — index
    * build + positional probe + scoring change nothing about the
    * ranking. */
  def indexBm25Phrase(s: SparkSession, dir: String): DataFrame = {
    val store = invStore(s, dir)
    val root = store.stripSuffix("/postings")
    // ONE stats read + literal scalars — see indexBm25Probe.
    val statsRow = s.read.parquet(root + "/stats").head()
    TextAnalysis.bm25RequireI64Envelope(
      statsRow.getLong(0), statsRow.getLong(1), statsRow.getLong(2))
    val buckets = invBuckets(PhraseTerms)
    val post = s.read.parquet(store)
      .filter(col("tbucket").isin(buckets: _*) &&
        col("term").isin(PhraseTerms: _*))
    val a = post.filter(col("term") === PhraseTerms(0))
      .select(col("doc_id"), col("positions").as("p1"))
    val b = post.filter(col("term") === PhraseTerms(1))
      .select(col("doc_id"), col("positions").as("p2"))
    val cand = a.join(b, "doc_id")
      // explicit skinny projection BEFORE the checkpoint (the invStore
      // discipline): persist (doc_id, tf) longs, never position arrays
      .select(col("doc_id"),
        expr("CAST(size(array_intersect(p1, transform(p2, x -> x - 1))) AS BIGINT)")
          .as("tf"))
      .filter(col("tf") > 0)
      .localCheckpoint()   // two consumers: the df count + the scored join
    val dfq = cand.agg(count(lit(1)).as("df"))
    cand.crossJoin(broadcast(dfq))
      .join(s.read.parquet(root + "/doclen"), "doc_id")
      .withColumn("n_docs", lit(statsRow.getLong(0)))
      .withColumn("s_tok", lit(statsRow.getLong(1)))
      .withColumn("idf_ppm",
        expr("(1000000 * (2 * (n_docs - df) + 1)) DIV (2 * df + 1)"))
      .withColumn("sat_ppm",
        expr("(1000000 * 22 * s_tok * tf) DIV (10 * s_tok * tf + 3 * s_tok + 9 * dl * n_docs)"))
      .withColumn("bm25_ppm", expr("(idf_ppm * sat_ppm) DIV 1000000"))
      .groupBy()
      .agg(graft.functions.TopKAgg.topK(
        struct(col("bm25_ppm"), (-col("doc_id")).as("nid"), col("tf")), 20).as("top"))
      .select(posexplode(col("top")).as(Seq("i", "sel")))
      .select((col("i") + 1).cast("long").as("rank"),
        (-col("sel.nid")).as("doc_id"), col("sel.bm25_ppm").as("bm25_ppm"),
        col("sel.tf").as("n_occ"))
      .orderBy("rank")
  }

  /** One stored BASE index per source dir per JVM for the merge-on-read
    * probe ([[indexInvertedDelta]]): postings for the 7/8 of documents
    * with `doc_id % 8 != 7`, same layout as [[invStore]] minus the
    * positional column (the delta probe is conjunctive-only). */
  private val invBaseStores = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def invBaseStore(s: SparkSession, dir: String): String =
    invBaseStores.computeIfAbsent(dir, _ => {
      val root = java.nio.file.Files.createTempDirectory("graft_inv_base")
      ivfTmpRoots.add(root)
      val st = root.toString + "/postings"
      t(s, dir, "documents")
        .filter(pmod(col("doc_id"), lit(8L)) =!= 7L)
        .select(col("doc_id"), explode(
          graft.functions.Sketches.wordShingles(col("text"), 1)).as("term"))
        .groupBy("term", "doc_id")
        .agg(count(lit(1)).as("tf"))
        .withColumn("tbucket", pmod(crc32(col("term")), lit(InvIndexBuckets.toLong)))
        .repartition(col("tbucket"))
        .write.partitionBy("tbucket").mode("overwrite").parquet(st)
      st
    })

  /** Merge-on-read index FRESHNESS — the gap between an index build and
    * now ([[indexInvertedStored]] assumes the index covers the corpus;
    * in a live pipeline it never does — documents land continuously and
    * the index rebuilds on a cadence): the conjunctive probe unions the
    * STORED base postings (docs with `doc_id % 8 != 7`, the indexed
    * 7/8) with postings tokenized AT PROBE TIME from the unindexed
    * delta tail (`doc_id % 8 = 7`), then applies the same
    * count-equals-|terms| rule — the cdc_apply_stored merge-on-read
    * pattern transferred to the secondary-index tier. Shape at scale:
    * the base probe reaches the stored scan as a STATIC partition
    * filter (3 of 64 directories — corpus-size-independent), and the
    * delta arm scans only the unindexed tail (cost tracks index
    * staleness, never corpus size — exactly the freshness/latency trade
    * a serving tier operates). The gate is the whole point: shares
    * [[indexInvertedStored]]'s RAW-documents oracle VERBATIM, so the
    * driver hash certifies probe(base ∪ delta) ≡ probe(full index) ≡
    * direct scan. */
  def indexInvertedDelta(s: SparkSession, dir: String): DataFrame = {
    val store = invBaseStore(s, dir)
    val buckets = invBuckets(InvIndexTerms)
    val base = s.read.parquet(store)
      .filter(col("tbucket").isin(buckets: _*) &&
        col("term").isin(InvIndexTerms: _*))
      .select(col("doc_id"), col("term"), col("tf"))
    val delta = t(s, dir, "documents")
      .filter(pmod(col("doc_id"), lit(8L)) === 7L)
      .select(col("doc_id"), explode(
        graft.functions.Sketches.wordShingles(col("text"), 1)).as("term"))
      .filter(col("term").isin(InvIndexTerms: _*))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    base.unionByName(delta)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"), sum(col("tf")).as("sum_tf"))
      .filter(col("n_terms") === InvIndexTerms.length)
      .orderBy("doc_id")
  }

  /** Data-quality expectation suite — the publish gate (Deequ /
    * Great-Expectations primitive) a warehouse runs before a batch
    * goes live, and the proper form of the reference's conform loop's
    * sanity checks: declared per-table expectations (PK uniqueness,
    * not-null, value/date ranges, row-count floor) evaluated as ONE
    * aggregate pass per table, emitted as one row per check with the
    * observed value, the declared [lo, hi] envelope, and an `ok` bit.
    * All-integer observables (cents, epoch days, counts) so the gate
    * is engine-portable. Shape at scale: one scan + one agg per table
    * computes every metric (the checks unpivot from a 1-row frame —
    * no per-check passes); the PK check's exact countDistinct is the
    * one Expand in the plan, the strict variant a publish gate wants
    * (the always-cheap alternative is events_hll_daily's sketch
    * distinct, at ±2% — use it past the point where the PK column's
    * shuffle hurts). A failing expectation emits ok = 0 rather than
    * throwing: the gate's consumer decides whether to block the
    * publish — and the oracle pins all 12 rows, so a silently
    * shifting observable hash-fails the driver gate. */
  def dqExpectations(s: SparkSession, dir: String): DataFrame = {
    val MaxL = Long.MaxValue
    val o = t(s, dir, "orders").agg(
      count(lit(1)).as("n"),
      countDistinct(col("o_orderkey")).as("nd"),
      sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("nnull"),
      round(min(col("o_totalprice")) * 100).cast("long").as("minc"),
      round(max(col("o_totalprice")) * 100).cast("long").as("maxc"),
      datediff(to_date(min(col("o_orderdate"))), lit("1970-01-01")).cast("long").as("mind"),
      datediff(to_date(max(col("o_orderdate"))), lit("1970-01-01")).cast("long").as("maxd"))
    val l = t(s, dir, "lineitem").agg(
      count(lit(1)).as("n"),
      sum(when(col("l_orderkey").isNull, 1L).otherwise(0L)).as("nnull"),
      min(col("l_quantity")).cast("long").as("minq"),
      max(col("l_quantity")).cast("long").as("maxq"),
      round(max(col("l_discount")) * 100).cast("long").as("maxdisc"))
    def checks(df: DataFrame, tbl: String,
               items: Seq[(String, Column, Long, Long)]): DataFrame =
      df.select(explode(array(items.map { case (chk, obs, lo, hi) =>
          struct(lit(tbl).as("tbl"), lit(chk).as("chk"),
            obs.cast("long").as("observed"), lit(lo).as("lo"), lit(hi).as("hi"))
        }: _*)).as("c"))
        .select(col("c.*"))
    checks(o, "orders", Seq(
        ("row_count_positive", col("n"), 1L, MaxL),
        ("pk_dup_count", col("n") - col("nd"), 0L, 0L),
        ("custkey_null_count", col("nnull"), 0L, 0L),
        ("totalprice_min_cents", col("minc"), 100000L, 50000000L),
        ("totalprice_max_cents", col("maxc"), 100000L, 50000000L),
        ("orderdate_min_epochday", col("mind"), 9131L, 11687L),
        ("orderdate_max_epochday", col("maxd"), 9131L, 11687L)))
      .unionByName(checks(l, "lineitem", Seq(
        ("row_count_positive", col("n"), 1L, MaxL),
        ("orderkey_null_count", col("nnull"), 0L, 0L),
        ("quantity_min", col("minq"), 1L, 50L),
        ("quantity_max", col("maxq"), 1L, 50L),
        ("discount_max_pct", col("maxdisc"), 0L, 10L))))
      .withColumn("ok",
        when(col("observed").between(col("lo"), col("hi")), 1L).otherwise(0L))
      .orderBy("tbl", "chk")
  }

  /** Build every per-source-dir stored artifact ONCE — the operational
    * `query --prepare` path: a 100 TB deployment builds its indexes and
    * layouts OFFLINE (a scheduled build job) and serves probes from
    * them, so build cost must be separable from query cost. Forces each
    * lazily-built per-dir store (IVF corpus, inverted index + BM25
    * stats, z-order/hilbert/compacted layouts, bucketed join tables,
    * CDC log + compacted base, the streaming LSH batch index); every
    * builder is `computeIfAbsent`-idempotent, so stored-probe queries
    * issued afterwards in the same session pay probe cost only.
    * Returns (artifact, location) pairs for operator display. */
  def prepareStores(s: SparkSession, dir: String): Seq[(String, String)] = {
    val (bOrders, bLineitem) = bucketedTables(s, dir)
    Seq(
      "ivf_corpus"     -> ivfStore(s, dir),
      "ivf_base"       -> ivfBaseStore(s, dir),
      "inverted_index" -> invStore(s, dir),
      "zorder_layout"  -> zorderStore(s, dir),
      "hilbert_layout" -> hilbertStore(s, dir),
      "compact_layout" -> compactStore(s, dir)._2,
      "zonemap_layout" -> zonemapStore(s, dir)._1,
      "trgm_index"     -> trgmStore(s, dir),
      "bucketed_orders"   -> bOrders,
      "bucketed_lineitem" -> bLineitem,
      "cdc_log"        -> cdcStore(s, dir),
      "inverted_base"  -> invBaseStore(s, dir),
      "cdc_base"       -> cdcCompactStore(s, dir)._1,
      "lsh_batch_index" -> StreamingQueries.lshBatchStore(s, dir))
  }
}

/** DuckDB oracles for the deterministic extension queries. */
object ExtensionOracles {

  /** GROUP BY the hash, mirroring the operator's shuffle key. */
  val dedupExact: String =
    """SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_dups
      |FROM documents GROUP BY 1 ORDER BY text_hash""".stripMargin

  /** The same synthesize → canonicalize → group chain as
    * [[Extensions.dedupUrl]], every regex verbatim from
    * [[graft.operators.Dedup.urlNormalize]] (RE2 ∩ Java common subset;
    * DuckDB's replace-first default takes the 'g' flag exactly where
    * Spark's replace-all semantics apply — the anchored `#.*$`, `^www\.`,
    * `/+$`, `^&` patterns can only match once, so they need no flag). */
  val dedupUrl: String =
    """WITH raw AS (
      |  SELECT o_orderkey,
      |    'https://' ||
      |    CASE WHEN o_orderkey % 2 = 0 THEN 'WWW.Example.COM' ELSE 'example.com' END ||
      |    CASE WHEN o_orderkey % 3 = 0 THEN ':443' ELSE '' END ||
      |    '/cat' || (o_custkey % 10) || '/d/listing/' || o_custkey ||
      |    CASE WHEN o_orderkey % 5 = 0 THEN '/' ELSE '' END ||
      |    '?' ||
      |    CASE WHEN o_orderkey % 2 = 1 THEN 'utm_source=feed&' ELSE '' END ||
      |    'id=' || (o_custkey % 7) ||
      |    CASE WHEN o_orderkey % 4 = 1 THEN '&utm_campaign=x' ELSE '' END ||
      |    CASE WHEN o_orderkey % 7 = 0 THEN '#frag' ELSE '' END AS url
      |  FROM orders),
      |n0 AS (SELECT o_orderkey, regexp_replace(url, '#.*$', '') AS nf FROM raw),
      |n1 AS (SELECT o_orderkey, split_part(nf, '?', 1) AS base,
      |              CASE WHEN contains(nf, '?') THEN split_part(nf, '?', 2) END AS q
      |       FROM n0),
      |n2 AS (SELECT o_orderkey, q,
      |              lower(regexp_extract(base, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
      |              regexp_replace(lower(regexp_extract(base, '^[A-Za-z][A-Za-z0-9+.-]*://([^/]*)', 1)), '^www\.', '') AS host0,
      |              regexp_replace(regexp_extract(base, '^[A-Za-z][A-Za-z0-9+.-]*://[^/]*(/.*)$', 1), '/+$', '') AS path
      |       FROM n1),
      |n3 AS (SELECT o_orderkey, scheme, path,
      |              CASE WHEN scheme = 'https' AND host0 LIKE '%:443' THEN substr(host0, 1, len(host0) - 4)
      |                   WHEN scheme = 'http'  AND host0 LIKE '%:80'  THEN substr(host0, 1, len(host0) - 3)
      |                   ELSE host0 END AS host,
      |              CASE WHEN q IS NULL THEN NULL
      |                   ELSE regexp_replace(regexp_replace('&' || q,
      |                          '&(utm_[A-Za-z0-9_]*|ref|fbclid|gclid)=[^&]*', '', 'g'), '^&', '') END AS q2
      |       FROM n2),
      |n AS (SELECT o_orderkey,
      |             scheme || '://' || host || path ||
      |             CASE WHEN q2 IS NULL OR q2 = '' THEN '' ELSE '?' || q2 END AS norm_url
      |      FROM n3)
      |SELECT norm_url, min(o_orderkey) AS keep_id, count(*) AS n_dups
      |FROM n GROUP BY 1 ORDER BY norm_url""".stripMargin

  /** [[Extensions.domainQuota]]'s synth → canonical-host → sorted-prefix
    * chain. The host rules are the [[dedupUrl]] oracle's n2/n3 steps
    * (lowercase, strip `www.`, strip the scheme-default port — the synth
    * is all-https so the `:443` strip needs no scheme CASE); the kept
    * set is the 10 smallest ids per host, which the bounded-heap
    * aggregate emits already sorted. */
  val domainQuota: String =
    """WITH raw AS (
      |  SELECT o_orderkey,
      |    'https://' ||
      |    CASE WHEN o_orderkey % 3 = 0 THEN 'WWW.' ELSE '' END ||
      |    CASE WHEN o_orderkey % 2 = 0 THEN 'H' ELSE 'h' END ||
      |    (o_custkey % 23) || '.example.com' ||
      |    CASE WHEN o_orderkey % 4 = 0 THEN ':443' ELSE '' END ||
      |    '/item/' || o_orderkey ||
      |    CASE WHEN o_orderkey % 5 = 0 THEN '?utm_source=feed' ELSE '' END AS url
      |  FROM orders),
      |h0 AS (SELECT o_orderkey,
      |         regexp_replace(lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)), '^www\.', '') AS host0
      |       FROM raw),
      |h AS (SELECT o_orderkey,
      |        CASE WHEN host0 LIKE '%:443' THEN substr(host0, 1, len(host0) - 4) ELSE host0 END AS host
      |      FROM h0)
      |SELECT host, count(*) AS n_urls,
      |       array_to_string(list_slice(list_sort(list(o_orderkey)), 1, 10), ';') AS kept_ids
      |FROM h GROUP BY host ORDER BY host""".stripMargin

  val dedupJaccard: String =
    """WITH tok AS (SELECT doc_id, list_distinct(string_split(lower(trim(text)), ' ')) AS tk FROM documents),
      |q AS (SELECT tk AS qtk FROM tok WHERE doc_id = 0)
      |SELECT doc_id,
      |       round(len(list_intersect(tk, qtk))::DOUBLE /
      |             (len(tk) + len(qtk) - len(list_intersect(tk, qtk)))::DOUBLE, 4) AS jaccard
      |FROM tok, q WHERE doc_id > 0
      |ORDER BY jaccard DESC, doc_id LIMIT 50""".stripMargin

  /** [[Extensions.dedupContainment]]: the [[dedupJaccard]] chain with
    * the asymmetric |tk ∩ qtk| / |qtk| in place of the union ratio —
    * integer-over-integer division, identical IEEE double in both
    * engines before the shared round. */
  val dedupContainment: String =
    """WITH tok AS (SELECT doc_id, list_distinct(string_split(lower(trim(text)), ' ')) AS tk FROM documents),
      |q AS (SELECT tk AS qtk FROM tok WHERE doc_id = 0)
      |SELECT doc_id,
      |       round(len(list_intersect(tk, qtk))::DOUBLE / len(qtk)::DOUBLE, 4) AS containment
      |FROM tok, q WHERE doc_id > 0
      |ORDER BY containment DESC, doc_id LIMIT 50""".stripMargin

  /** [[Extensions.embMmr]]: the trunc-quantize chain, exact integer
    * dots as list comprehensions (integer-valued doubles are exact to
    * 2⁵³, |dot| ≤ 127²·64 ≈ 10⁶), the same top-20 (rel DESC, id) pool,
    * and the 5 MMR picks unrolled — each step scores the not-yet-chosen
    * pool against the chosen set's pairwise dots and takes the
    * (mmr DESC, id) head, mirroring the engine's struct-max argmax.
    * Every step MATERIALIZED: chosen sets are referenced by later
    * steps, and inlining would re-evaluate the chain exponentially. */
  val embMmr: String = {
    val steps = (2 to 5).map { k =>
      val prev = (1 until k).map(i => s"SELECT qid, id FROM p$i").mkString(" UNION ALL ")
      s"""ch$k AS MATERIALIZED ($prev),
         |m$k AS MATERIALIZED (
         |  SELECT r.qid, r.id, r.rel,
         |         CAST(7 * r.rel - 3 * max(ps.s) AS BIGINT) AS mmr
         |  FROM poolc r
         |  JOIN ch$k ch ON ch.qid = r.qid
         |  JOIN ps ON ps.qid = r.qid AND ps.ia = r.id AND ps.ib = ch.id
         |  WHERE NOT EXISTS (SELECT 1 FROM ch$k x WHERE x.qid = r.qid AND x.id = r.id)
         |  GROUP BY r.qid, r.id, r.rel),
         |p$k AS MATERIALIZED (
         |  SELECT qid, id, rel, mmr FROM (
         |    SELECT *, row_number() OVER (PARTITION BY qid ORDER BY mmr DESC, id) AS rk
         |    FROM m$k) WHERE rk = 1)""".stripMargin
    }.mkString(",\n")
    val out = (1 to 5).map(k =>
      s"SELECT qid, CAST($k AS BIGINT) AS rank, id, rel, mmr FROM p$k")
      .mkString(" UNION ALL ")
    s"""WITH v0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings),
       |m0 AS (SELECT vec_id, x, list_max(list_transform(x, e -> abs(e))) AS maxabs FROM v0),
       |v AS MATERIALIZED (SELECT vec_id,
       |       CASE WHEN maxabs > 0 THEN list_transform(x, e -> trunc(e * 127.0 / maxabs))
       |            ELSE list_transform(x, e -> 0.0) END AS qi
       |     FROM m0),
       |q AS (SELECT vec_id AS qid, qi AS qqi FROM v WHERE vec_id < 5),
       |c AS MATERIALIZED (SELECT vec_id AS id, qi FROM v WHERE vec_id >= 5),
       |rel AS (SELECT q.qid, c.id, c.qi,
       |               CAST(list_sum([c.qi[i] * q.qqi[i] for i in range(1, len(c.qi) + 1)]) AS BIGINT) AS rel
       |        FROM c, q),
       |poolc AS MATERIALIZED (
       |  SELECT qid, id, qi, rel FROM (
       |    SELECT *, row_number() OVER (PARTITION BY qid ORDER BY rel DESC, id) AS rk
       |    FROM rel) WHERE rk <= 20),
       |ps AS MATERIALIZED (
       |  SELECT a.qid, a.id AS ia, b.id AS ib,
       |         CAST(list_sum([a.qi[i] * b.qi[i] for i in range(1, len(a.qi) + 1)]) AS BIGINT) AS s
       |  FROM poolc a JOIN poolc b ON a.qid = b.qid),
       |p1 AS MATERIALIZED (
       |  SELECT qid, id, rel, CAST(7 * rel AS BIGINT) AS mmr FROM (
       |    SELECT *, row_number() OVER (PARTITION BY qid ORDER BY 7 * rel DESC, id) AS rk
       |    FROM poolc) WHERE rk = 1),
       |$steps
       |SELECT qid, rank, id, rel, mmr FROM ($out) ORDER BY qid, rank""".stripMargin
  }

  /** [[Extensions.embCentroid]]: the [[embQuantize]] trunc-quantize
    * chain, then positional unnest → per-(label, pos) exact integer
    * sums. The zero-vector CASE mirrors the kernel's all-zero output
    * (trunc(e·127/0) would be NaN). */
  val embCentroid: String =
    """WITH v AS (SELECT label, CAST(embedding AS DOUBLE[]) AS x FROM embeddings),
      |m AS (SELECT label, x, list_max(list_transform(x, e -> abs(e))) AS maxabs FROM v),
      |q AS (SELECT label,
      |             CASE WHEN maxabs > 0
      |                  THEN list_transform(x, e -> trunc(e * 127.0 / maxabs))
      |                  ELSE list_transform(x, e -> 0.0) END AS qi
      |      FROM m)
      |SELECT label, i AS pos, count(*) AS n,
      |       CAST(sum(qi[i]) AS BIGINT) AS q_sum,
      |       round(CAST(sum(qi[i]) AS DOUBLE) / count(*), 4) AS c
      |FROM q, unnest(generate_series(1, len(qi))) AS u(i)
      |GROUP BY label, i ORDER BY label, i""".stripMargin

  /** [[Extensions.embClassify]]: centroid sums via the embCentroid
    * chain, exact integer distances, the same D/n² double argmin. */
  val embClassify: String =
    """WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS x FROM embeddings),
      |m AS (SELECT vec_id, label, x, list_max(list_transform(x, e -> abs(e))) AS maxabs FROM v),
      |q AS (SELECT vec_id, label,
      |             CASE WHEN maxabs > 0
      |                  THEN list_transform(x, e -> trunc(e * 127.0 / maxabs))
      |                  ELSE list_transform(x, e -> 0.0) END AS qi FROM m),
      |cent AS (SELECT label AS c_label, i AS pos, count(*) AS n,
      |                CAST(sum(qi[i]) AS BIGINT) AS s
      |         FROM q, unnest(generate_series(1, len(qi))) u(i) GROUP BY 1, 2),
      |d AS (SELECT q.vec_id, q.label, c.c_label, max(c.n) AS n,
      |             CAST(sum((c.n * CAST(qi[c.pos] AS BIGINT) - c.s)
      |                    * (c.n * CAST(qi[c.pos] AS BIGINT) - c.s)) AS BIGINT) AS dd
      |      FROM q JOIN cent c ON true
      |      GROUP BY 1, 2, 3),
      |r AS (SELECT vec_id, label, c_label,
      |             row_number() OVER (PARTITION BY vec_id
      |               ORDER BY CAST(dd AS DOUBLE) / (n * n), c_label) AS rk
      |      FROM d)
      |SELECT label, c_label AS pred, count(*) AS n
      |FROM r WHERE rk = 1 GROUP BY 1, 2 ORDER BY label, pred""".stripMargin

  val embQuantize: String =
    """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings),
      |m AS (SELECT vec_id, x, list_max(list_transform(x, e -> abs(e))) AS maxabs FROM v),
      |q AS (SELECT vec_id, x, maxabs,
      |             list_transform(x, e -> trunc(e * 127.0 / maxabs)) AS qi FROM m)
      |SELECT vec_id,
      |       CAST(list_sum(qi) AS BIGINT) AS q_sum,
      |       round(list_cosine_similarity(x,
      |             list_transform(qi, e -> e * maxabs / 127.0)), 4) AS recon_cos
      |FROM q ORDER BY vec_id""".stripMargin

  /** [[Extensions.textWinnow]]: the char-8-gram reconstruction (the
    * dedupJaccardChar pattern at n=8) with list-folded md5 bounds. */
  val textWinnow: String =
    """WITH sh AS (
      |  SELECT doc_id,
      |         CASE WHEN len(lower(text)) <= 8 THEN [lower(text)]
      |              ELSE [substr(lower(text), i, 8) for i in range(1, len(lower(text)) - 6)] END AS sg
      |  FROM documents)
      |SELECT doc_id, len(sg)::BIGINT AS n_grams,
      |       list_min(list_transform(sg, g -> md5(g))) AS min_md5,
      |       list_max(list_transform(sg, g -> md5(g))) AS max_md5
      |FROM sh ORDER BY doc_id""".stripMargin

  val dedupJaccardChar: String =
    """WITH sh AS (
      |  SELECT doc_id,
      |         CASE WHEN len(lower(text)) <= 5 THEN [lower(text)]
      |              ELSE [substr(lower(text), i, 5) for i in range(1, len(lower(text)) - 3)] END AS sg
      |  FROM documents),
      |d AS (SELECT doc_id, list_distinct(sg) AS sg FROM sh),
      |q AS (SELECT sg AS qsg FROM d WHERE doc_id = 0)
      |SELECT doc_id,
      |       round(len(list_intersect(sg, qsg))::DOUBLE /
      |             (len(sg) + len(qsg) - len(list_intersect(sg, qsg)))::DOUBLE, 4) AS jaccard
      |FROM d, q WHERE doc_id > 0
      |ORDER BY jaccard DESC, doc_id LIMIT 50""".stripMargin

  /** Integer-dot cosine over trunc-quantized int8 codes: every quantity
    * before the final divisions is an exact integer (≤ dim·127² « 2^53),
    * so both engines compute the identical double — ranking, ties, and
    * rounding all agree. Division sequence (dot/sqrt/sqrt, left-assoc)
    * mirrors [[graft.functions.VecUtil.cosineI8]].
    *
    * Assumption: no zero embedding vectors. A zero vector is 0/0 —
    * Spark's cosineI8 yields NaN, DuckDB's result depends on its
    * ieee_floating_point_ops setting, so parity would be config-
    * dependent. The generated embeddings table contains none (unit norm
    * by construction); a production corpus should drop zero vectors
    * before ANN, where they are meaningless anyway. */
  /** [[Extensions.annQ8Range]]: the annQ8 scoring chain with the tau
    * filter instead of the rank window. */
  val annQ8Range: String =
    """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings),
      |m AS (SELECT vec_id, x, list_max(list_transform(x, e -> abs(e))) AS maxabs FROM v),
      |q AS (SELECT vec_id,
      |             CASE WHEN maxabs > 0
      |                  THEN list_transform(x, e -> trunc(e * 127.0 / maxabs))
      |                  ELSE list_transform(x, e -> 0.0) END AS qi FROM m),
      |c AS (SELECT vec_id AS id, qi AS qc FROM q),
      |qs AS (SELECT vec_id AS qid, qi AS qq FROM q WHERE vec_id < 5),
      |sc AS (SELECT qid, id,
      |              list_dot_product(qc, qq) / sqrt(list_dot_product(qc, qc))
      |                                       / sqrt(list_dot_product(qq, qq)) AS sim
      |       FROM c, qs)
      |SELECT qid, id, round(sim, 4) AS sim
      |FROM sc WHERE sim >= 0.25 ORDER BY qid, id""".stripMargin

  val annQ8: String =
    """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings),
      |m AS (SELECT vec_id, x, list_max(list_transform(x, e -> abs(e))) AS maxabs FROM v),
      |q AS (SELECT vec_id,
      |             CASE WHEN maxabs > 0
      |                  THEN list_transform(x, e -> trunc(e * 127.0 / maxabs))
      |                  ELSE list_transform(x, e -> 0.0) END AS qi FROM m),
      |c AS (SELECT vec_id AS id, qi AS qc FROM q),
      |qs AS (SELECT vec_id AS qid, qi AS qq FROM q WHERE vec_id < 5),
      |sc AS (SELECT qid, id,
      |              list_dot_product(qc, qq) / sqrt(list_dot_product(qc, qc))
      |                                       / sqrt(list_dot_product(qq, qq)) AS sim
      |       FROM c, qs),
      |r AS (SELECT qid, id, sim,
      |             row_number() OVER (PARTITION BY qid ORDER BY sim DESC, id) AS rank
      |      FROM sc)
      |SELECT qid, id, CAST(rank AS INT) AS rank, round(sim, 4) AS sim
      |FROM r WHERE rank <= 10 ORDER BY qid, rank""".stripMargin

  /** CASE bounds are derived from [[graft.operators.CorpusSplit
    * .hexThresholds]] over [[Extensions.corpusSplitSpec]] — the oracle
    * cannot drift from the operator's threshold arithmetic. The ELSE
    * fall-through also matches the operator's null-key behavior
    * (md5(null) comparisons are null → last label). */
  val corpusSplit: String = {
    val spec = Extensions.corpusSplitSpec
    val ths = graft.operators.CorpusSplit.hexThresholds(spec)
    val whens = spec.init.zip(ths.init).map { case ((name, _), cut) =>
      s"WHEN substr(md5(text), 1, 8) < '$cut' THEN '$name'"
    }.mkString("\n            ")
    s"""SELECT CASE $whens
       |            ELSE '${spec.last._1}' END AS split,
       |       count(*) AS n_docs
       |FROM documents GROUP BY 1 ORDER BY split""".stripMargin
  }

  /** CASE thresholds derived from CorpusSplit.hexCut over
    * [[Extensions.corpusSampleSpec]] — same no-drift property as the
    * corpus_split oracle ('g' sorts above every hex digit = keep all). */
  val corpusSample: String = {
    val cuts = Extensions.corpusSampleSpec.toSeq.sortBy(_._1).map {
      case (stratum, f) =>
        s"WHEN '$stratum' THEN '${graft.operators.CorpusSplit.hexCut(f)}'"
    }.mkString("\n            ")
    s"""SELECT lang, count(*) AS n_kept FROM documents
       |WHERE substr(md5(text), 1, 8) < CASE lang $cuts
       |            ELSE '${graft.operators.CorpusSplit.hexCut(1.0)}' END
       |GROUP BY lang ORDER BY lang""".stripMargin
  }

  /** The full count → fraction → threshold chain of
    * [[graft.operators.CorpusSplit.interleaveToMixture]], recomputed in
    * SQL with the shares interpolated from
    * [[Extensions.corpusInterleaveSpec]] (no-drift). Every arithmetic
    * step mirrors the Scala exactly — (total·share)/n, min against 1.0,
    * floor(frac·2^32) as 8-hex — and uses only correctly-rounded IEEE
    * ops, so the derived cut strings are bit-identical. */
  val corpusInterleave: String = {
    val shares = Extensions.corpusInterleaveSpec
      .map { case (l, sh) => s"WHEN '$l' THEN $sh" }.mkString(" ")
    s"""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
       |t AS (SELECT CAST(sum(n) AS DOUBLE) AS total FROM c),
       |f AS (SELECT c.lang,
       |             least(1.0, (t.total * CASE c.lang $shares ELSE 0.0 END)
       |                        / CAST(c.n AS DOUBLE)) AS frac
       |      FROM c, t),
       |cut AS (SELECT lang, CASE WHEN frac >= 1.0 THEN 'g'
       |                          ELSE printf('%08x', CAST(floor(frac * 4294967296.0) AS BIGINT)) END AS cut
       |        FROM f)
       |SELECT d.lang, count(*) AS n_kept
       |FROM documents d JOIN cut ON d.lang = cut.lang
       |WHERE substr(md5(d.text), 1, 8) < cut.cut
       |GROUP BY d.lang ORDER BY d.lang""".stripMargin
  }

  /** [[Extensions.textScript]]: the same literal codepoint ranges in
    * RE2's \x{...} spelling, dominant via the shared padded argmax. */
  val textScript: String =
    """WITH c AS (SELECT doc_id,
      |  len(regexp_extract_all(text, '[A-Za-z\x{00C0}-\x{024F}]')) AS n_latin,
      |  len(regexp_extract_all(text, '[\x{4E00}-\x{9FFF}]')) AS n_han,
      |  len(regexp_extract_all(text, '[\x{0400}-\x{04FF}]')) AS n_cyrillic,
      |  len(regexp_extract_all(text, '[\x{0600}-\x{06FF}]')) AS n_arabic
      |  FROM documents),
      |b AS (SELECT *, greatest(
      |        printf('%08d|latin', n_latin), printf('%08d|han', n_han),
      |        printf('%08d|cyrillic', n_cyrillic), printf('%08d|arabic', n_arabic)) AS best
      |      FROM c)
      |SELECT doc_id, n_latin, n_han, n_cyrillic, n_arabic,
      |       CASE WHEN substr(best, 1, 8) = '00000000' THEN 'none'
      |            ELSE split_part(best, '|', 2) END AS script
      |FROM b ORDER BY doc_id""".stripMargin

  /** [[Extensions.corpusLeakage]]: the twin synth, both split CASEs
    * (over md5 of the id-as-string and of the text, thresholds from
    * the shared hexThresholds), and the two-level rollup. */
  val corpusLeakage: String = {
    val spec = Extensions.corpusSplitSpec
    val ths = graft.operators.CorpusSplit.hexThresholds(spec)
    def whens(key: String): String =
      spec.init.zip(ths.init).map { case ((name, _), cut) =>
        s"WHEN substr(md5($key), 1, 8) < '$cut' THEN '$name'"
      }.mkString(" ") + s" ELSE '${spec.last._1}'"
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 10000, text FROM documents WHERE doc_id < 100),
       |a AS (SELECT md5(text) AS h,
       |             count(DISTINCT CASE ${whens("CAST(doc_id AS VARCHAR)")} END) AS ns,
       |             count(*) AS nd
       |      FROM corpus GROUP BY 1),
       |b AS (SELECT md5(text) AS h,
       |             count(DISTINCT CASE ${whens("text")} END) AS ns,
       |             count(*) AS nd
       |      FROM corpus GROUP BY 1)
       |SELECT 'by_id' AS strategy,
       |       count(CASE WHEN nd > 1 THEN 1 END) AS n_dup_hashes,
       |       count(CASE WHEN ns > 1 THEN 1 END) AS n_leaky_hashes
       |FROM a
       |UNION ALL
       |SELECT 'by_text',
       |       count(CASE WHEN nd > 1 THEN 1 END),
       |       count(CASE WHEN ns > 1 THEN 1 END)
       |FROM b
       |ORDER BY strategy""".stripMargin
  }

  /** [[Extensions.corpusCurate3]] — familiarity gate, dedup, temperature
    * mixture, split, stats, each stage verbatim from its standalone
    * oracle ([[textFamiliarity]], [[dedupExact]]'s min-per-hash,
    * [[corpusMix]]'s sqrt-weight chain over the gated CTE, the split
    * CASE from the shared hexThresholds). */
  val corpusCurate3: String = {
    val spec = Extensions.corpusSplitSpec
    val ths = graft.operators.CorpusSplit.hexThresholds(spec)
    val whens = spec.init.zip(ths.init).map { case ((name, _), cut) =>
      s"WHEN substr(md5(text), 1, 8) < '$cut' THEN '$name'"
    }.mkString(" ")
    val w = graft.operators.TextAnalysis.WsClass
    s"""WITH sh AS (
       |  SELECT doc_id,
       |         CASE WHEN len(lower(text)) <= 3 THEN [lower(text)]
       |              ELSE [substr(lower(text), i, 3) for i in range(1, len(lower(text)) - 1)] END AS sg
       |  FROM documents),
       |tri AS (SELECT doc_id, unnest(sg) AS g FROM sh),
       |dfq AS (SELECT g, count(DISTINCT doc_id) AS doc_df FROM tri GROUP BY g),
       |fam AS (SELECT t.doc_id,
       |               round(CAST(sum(d.doc_df) AS DOUBLE) / count(*), 4) AS familiarity
       |        FROM tri t JOIN dfq d ON t.g = d.g GROUP BY t.doc_id),
       |tok AS (SELECT doc_id, lang, text,
       |  CASE WHEN len(trim(text)) = 0 THEN 0 ELSE len(regexp_split_to_array(trim(text), '$w')) END AS n_tok
       |  FROM documents),
       |base AS (SELECT tok.* FROM tok JOIN fam USING (doc_id)
       |         WHERE n_tok >= 16 AND familiarity >= 340.0),
       |k AS (SELECT md5(text) AS h, min(doc_id) AS kid FROM base GROUP BY 1),
       |uniq AS (SELECT b.* FROM base b JOIN k ON b.doc_id = k.kid),
       |c AS (SELECT lang, count(*) AS n FROM uniq WHERE lang IS NOT NULL GROUP BY lang),
       |wt AS (SELECT lang, n, CAST(floor(sqrt(CAST(n AS DOUBLE)) * 65536.0) AS BIGINT) AS w FROM c),
       |tt AS (SELECT CAST(sum(n) AS DOUBLE) AS total, CAST(sum(w) AS DOUBLE) AS wsum FROM wt),
       |fr AS (SELECT wt.lang,
       |              least(1.0, tt.total * CAST(wt.w AS DOUBLE) / tt.wsum / CAST(wt.n AS DOUBLE)) AS frac
       |       FROM wt, tt),
       |cut AS (SELECT lang, CASE WHEN frac >= 1.0 THEN 'g'
       |                          ELSE printf('%08x', CAST(floor(frac * 4294967296.0) AS BIGINT)) END AS cut
       |        FROM fr),
       |mixed AS (SELECT u.* FROM uniq u JOIN cut ON u.lang = cut.lang
       |          WHERE substr(md5(u.text), 1, 8) < cut.cut),
       |sp AS (SELECT *, CASE $whens ELSE '${spec.last._1}' END AS split FROM mixed)
       |SELECT split, lang, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS sum_tokens
       |FROM sp GROUP BY split, lang ORDER BY split, lang""".stripMargin
  }

  /** [[Extensions.corpusReservoir]] as the window-rank formulation the
    * bounded heap replaces. */
  val corpusReservoir: String =
    """WITH h AS (SELECT lang, doc_id, md5(text) AS h FROM documents),
      |r AS (SELECT lang, doc_id, h,
      |             row_number() OVER (PARTITION BY lang ORDER BY h DESC, doc_id DESC) AS rank
      |      FROM h)
      |SELECT lang, CAST(rank AS BIGINT) AS rank, doc_id, h
      |FROM r WHERE rank <= 5 ORDER BY lang, rank""".stripMargin

  /** [[Extensions.corpusIncremental]]: the [[dedupMinhashVerify]]
    * shingle/Jaccard spellings with the self-join replaced by
    * batch × corpus, plus the md5 exact screen. The corpus-side bucket
    * guard keeps ≤ 100 (no `> 1` clause — a batch doc may match a
    * singleton corpus bucket). */
  val corpusIncremental: String =
    """WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id < 400),
      |batch AS (SELECT doc_id, text FROM documents WHERE doc_id >= 400),
      |ch AS (SELECT md5(text) AS h, count(*) AS n_corpus FROM corpus GROUP BY 1),
      |ex AS (SELECT b.doc_id, coalesce(ch.n_corpus, 0) AS n_exact
      |       FROM batch b LEFT JOIN ch ON md5(b.text) = ch.h),
      |csh AS (SELECT len(text) AS lb,
      |               list_distinct(CASE WHEN len(lower(text)) <= 5 THEN [lower(text)]
      |                    ELSE [substr(lower(text), i, 5) for i in range(1, len(lower(text)) - 3)] END) AS sg
      |        FROM corpus),
      |keep AS (SELECT lb FROM csh GROUP BY lb HAVING count(*) <= 100),
      |csp AS (SELECT csh.* FROM csh JOIN keep USING (lb)),
      |bsh AS (SELECT doc_id, len(text) AS lb,
      |               list_distinct(CASE WHEN len(lower(text)) <= 5 THEN [lower(text)]
      |                    ELSE [substr(lower(text), i, 5) for i in range(1, len(lower(text)) - 3)] END) AS sg
      |        FROM batch),
      |p AS (SELECT b.doc_id,
      |             round(len(list_intersect(b.sg, c.sg))::DOUBLE /
      |                   (len(b.sg) + len(c.sg) - len(list_intersect(b.sg, c.sg)))::DOUBLE, 4) AS j
      |      FROM bsh b JOIN csp c USING (lb)),
      |nr AS (SELECT doc_id, count(*) AS n_near, max(j) AS best_jaccard
      |       FROM p WHERE j >= 0.2 GROUP BY 1)
      |SELECT e.doc_id, e.n_exact, coalesce(nr.n_near, 0) AS n_near, nr.best_jaccard
      |FROM ex e LEFT JOIN nr USING (doc_id)
      |ORDER BY e.doc_id""".stripMargin

  /** [[Extensions.textFamiliarity]]: the [[dedupJaccardChar]] trigram
    * window chain (lowercase, ≤3-char texts shingle whole), distinct
    * doc-df, then per-doc integer sums. */
  val textFamiliarity: String =
    """WITH sh AS (
      |  SELECT doc_id,
      |         CASE WHEN len(lower(text)) <= 3 THEN [lower(text)]
      |              ELSE [substr(lower(text), i, 3) for i in range(1, len(lower(text)) - 1)] END AS sg
      |  FROM documents),
      |tri AS (SELECT doc_id, unnest(sg) AS g FROM sh),
      |dfq AS (SELECT g, count(DISTINCT doc_id) AS doc_df FROM tri GROUP BY g)
      |SELECT t.doc_id, count(*) AS n_tri,
      |       CAST(sum(d.doc_df) AS BIGINT) AS df_sum,
      |       round(CAST(sum(d.doc_df) AS DOUBLE) / count(*), 4) AS familiarity
      |FROM tri t JOIN dfq d ON t.g = d.g
      |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin

  /** [[Extensions.layoutZorder]] with the Morton key spelled as per-bit
    * shift arithmetic (the magic-mask spread is a Spark-side speedup;
    * bit i of x lands at 2i, bit i of y at 2i+1 either way). */
  val layoutZorder: String =
    """WITH b AS (
      |  SELECT o_custkey % 1024 AS x,
      |         date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) % 1024 AS y
      |  FROM orders),
      |z AS (SELECT x, y,
      |        list_sum(list_transform(range(0, 16),
      |          i -> (((x >> i) & 1) << (2*i)) + (((y >> i) & 1) << (2*i+1)))) AS z
      |      FROM b)
      |SELECT CAST(z >> 12 AS BIGINT) AS zbucket, count(*) AS n,
      |       min(x) AS min_x, max(x) AS max_x, min(y) AS min_y, max(y) AS max_y
      |FROM z GROUP BY 1 ORDER BY 1""".stripMargin

  /** [[Extensions.layoutHilbert]]: the identical 8-level quadrant walk
    * unrolled as chained CTEs — each level consumes one bit per
    * dimension (`rx`, `ry`), adds the quadrant offset `s²·((3rx)⊕ry)`,
    * and applies the rotation (flip = `255 − v`, an exact full-mask
    * complement, then swap). Original coordinates ride along for the
    * span report. */
  val layoutHilbert: String = {
    val steps = Seq(128, 64, 32, 16, 8, 4, 2, 1).zipWithIndex.map { case (s, k) =>
      val i = k + 1
      s"""h$i AS (
         |  SELECT x0, y0, acc + ${s.toLong * s} * xor(3 * rx, ry) AS acc,
         |         CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN 255 - y ELSE y END)
         |              ELSE x END AS x,
         |         CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN 255 - x ELSE x END)
         |              ELSE y END AS y
         |  FROM (SELECT x0, y0, acc, x, y,
         |               CASE WHEN (x & $s) > 0 THEN 1 ELSE 0 END AS rx,
         |               CASE WHEN (y & $s) > 0 THEN 1 ELSE 0 END AS ry
         |        FROM h$k))""".stripMargin
    }.mkString(",\n")
    s"""WITH h0 AS (
       |  SELECT o_custkey % 256 AS x0,
       |         date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) % 256 AS y0,
       |         o_custkey % 256 AS x,
       |         date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) % 256 AS y,
       |         0 AS acc
       |  FROM orders),
       |$steps
       |SELECT CAST(acc >> 8 AS BIGINT) AS hbucket, count(*) AS n,
       |       min(x0) AS min_x, max(x0) AS max_x, min(y0) AS min_y, max(y0) AS max_y
       |FROM h8 GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** [[Extensions.layoutHilbertStored]]'s answer from the PLAIN table —
    * the stored Hilbert layout and its partition pruning must be
    * answer-invisible, the same invariance contract as the z-order
    * store. */
  val layoutHilbertStored: String =
    """WITH o AS (
      |  SELECT o_custkey % 256 AS x,
      |         date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) % 256 AS y
      |  FROM orders)
      |SELECT x, count(*) AS n, CAST(sum(y) AS BIGINT) AS sum_y
      |FROM o WHERE x BETWEEN 64 AND 127
      |GROUP BY x ORDER BY x""".stripMargin

  /** [[Extensions.layoutZorderStored]]'s answer from the PLAIN table —
    * the stored z-layout and its partition pruning must be
    * answer-invisible. */
  val layoutZorderStored: String =
    """WITH o AS (
      |  SELECT o_custkey % 1024 AS x,
      |         date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) % 1024 AS y
      |  FROM orders)
      |SELECT x, count(*) AS n, CAST(sum(y) AS BIGINT) AS sum_y
      |FROM o WHERE x BETWEEN 64 AND 127
      |GROUP BY x ORDER BY x""".stripMargin

  /** [[Extensions.corpusOffsets]] as the single-window formulation the
    * two-phase operator replaces — the oracle IS the semantic spec:
    * bucket math must be invisible in the output. Tokens on the shared
    * whitespace class with textTokens' empty-text guard. */
  val corpusOffsets: String = {
    val w = graft.operators.TextAnalysis.WsClass
    s"""WITH tok AS (
       |  SELECT doc_id,
       |         CASE WHEN len(trim(text)) = 0 THEN 0
       |              ELSE len(regexp_split_to_array(trim(text), '$w')) END AS n_tok
       |  FROM documents)
       |SELECT doc_id, n_tok,
       |       CAST(coalesce(sum(n_tok) OVER (ORDER BY doc_id
       |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS offset
       |FROM tok ORDER BY doc_id""".stripMargin
  }

  /** [[Extensions.corpusShard]]: the window form of the offsets, the
    * same integer shard arithmetic, per-shard rollup. */
  val corpusShard: String = {
    val w = graft.operators.TextAnalysis.WsClass
    s"""WITH tok AS (
       |  SELECT doc_id,
       |         CASE WHEN len(trim(text)) = 0 THEN 0
       |              ELSE len(regexp_split_to_array(trim(text), '$w')) END AS n_tok
       |  FROM documents),
       |o AS (SELECT doc_id, n_tok,
       |        CAST(coalesce(sum(n_tok) OVER (ORDER BY doc_id
       |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
       |      FROM tok),
       |t AS (SELECT CAST(sum(n_tok) AS BIGINT) AS total FROM tok)
       |SELECT CAST(o.off // (t.total // 8 + 1) AS BIGINT) AS shard,
       |       count(*) AS n_docs, CAST(sum(o.n_tok) AS BIGINT) AS sum_tokens,
       |       min(o.off) AS min_offset, max(o.off) AS max_offset
       |FROM o, t GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** [[Extensions.corpusCurate4]]: gopher gate → min-id dedup → window
    * offsets over survivors → shard math → rollup, each stage its
    * standalone oracle's arithmetic. */
  val corpusCurate4: String = {
    val w = graft.operators.TextAnalysis.WsClass
    s"""WITH t0 AS (
       |  SELECT doc_id, text, regexp_split_to_array(lower(trim(text)), '$w') AS tk
       |  FROM documents),
      |c AS (SELECT doc_id, text,
      |        len(tk) AS n,
      |        list_sum(list_transform(tk, t -> len(t))) AS sl,
      |        len(list_filter(tk, t -> regexp_matches(t, '[a-z]'))) AS na,
      |        len(list_intersect(list_distinct(tk),
      |            ['the','be','to','of','and','that','have','with'])) AS ns,
      |        len(regexp_extract_all(text, '#')) AS nh,
      |        len(regexp_extract_all(text, '\\.\\.\\.')) AS ne
      |      FROM t0),
      |g AS (SELECT doc_id, text,
      |        CASE WHEN len(trim(text)) = 0 THEN 0
      |             ELSE len(regexp_split_to_array(trim(text), '$w')) END AS n_tok
      |      FROM c
      |      WHERE n >= 50 AND n <= 100000 AND 3*n <= sl AND sl <= 10*n
      |        AND 10*(nh + ne) < n AND 5*na >= 4*n AND ns >= 1),
      |ded AS (SELECT md5(text) AS h, min(doc_id) AS keep_id FROM g GROUP BY 1),
      |surv AS (SELECT g.doc_id, g.n_tok FROM g JOIN ded ON g.doc_id = ded.keep_id),
      |o AS (SELECT doc_id, n_tok,
      |        CAST(coalesce(sum(n_tok) OVER (ORDER BY doc_id
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
      |      FROM surv),
      |tt AS (SELECT CAST(sum(n_tok) AS BIGINT) AS total FROM surv)
      |SELECT CAST(o.off // (tt.total // 4 + 1) AS BIGINT) AS shard,
      |       count(*) AS n_docs, CAST(sum(o.n_tok) AS BIGINT) AS sum_tokens,
      |       min(o.off) AS min_offset, max(o.off) AS max_offset
      |FROM o, tt GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** [[Extensions.corpusMix]]'s chain with the temperature-weight
    * derivation inlined: integer weights ⌊2^16·sqrt(n)⌋ summed exactly
    * (no float-accumulation order hazard), fraction computed in the
    * same left-associated op order as
    * [[graft.operators.CorpusSplit.mixtureByTemperature]]. */
  val corpusMix: String =
    """WITH c AS (SELECT lang, count(*) AS n FROM documents WHERE lang IS NOT NULL GROUP BY lang),
      |w AS (SELECT lang, n, CAST(floor(sqrt(CAST(n AS DOUBLE)) * 65536.0) AS BIGINT) AS w FROM c),
      |t AS (SELECT CAST(sum(n) AS DOUBLE) AS total, CAST(sum(w) AS DOUBLE) AS wsum FROM w),
      |f AS (SELECT w.lang,
      |             least(1.0, t.total * CAST(w.w AS DOUBLE) / t.wsum / CAST(w.n AS DOUBLE)) AS frac
      |      FROM w, t),
      |cut AS (SELECT lang, CASE WHEN frac >= 1.0 THEN 'g'
      |                          ELSE printf('%08x', CAST(floor(frac * 4294967296.0) AS BIGINT)) END AS cut
      |        FROM f)
      |SELECT d.lang, count(*) AS n_kept
      |FROM documents d JOIN cut ON d.lang = cut.lang
      |WHERE substr(md5(d.text), 1, 8) < cut.cut
      |GROUP BY d.lang ORDER BY d.lang""".stripMargin

  /** The full curation pipeline in SQL, each stage verbatim from its
    * standalone oracle: textTokens' count (with its empty-text guard),
    * textLangid's padded-sort-key argmax, dedupExact's min-per-hash,
    * corpusSplit's derived hex thresholds. */
  val corpusCurate: String = {
    val spec = Extensions.corpusSplitSpec
    val ths = graft.operators.CorpusSplit.hexThresholds(spec)
    val whens = spec.init.zip(ths.init).map { case ((name, _), cut) =>
      s"WHEN substr(md5(text), 1, 8) < '$cut' THEN '$name'"
    }.mkString(" ")
    // bound locally: the shared `ws` val is declared further down the
    // object and would still be null during this val's initialization
    val w = graft.operators.TextAnalysis.WsClass
    s"""WITH tok AS (SELECT doc_id, text, lang, regexp_split_to_array(lower(trim(text)), '$w') AS tk FROM documents),
       |sc AS (SELECT doc_id, text, lang,
       |  CASE WHEN len(trim(text)) = 0 THEN 0 ELSE len(regexp_split_to_array(trim(text), '$w')) END AS n_tokens,
       |  len(list_filter(tk, t -> t IN ('the','and','of','to','a','in','is','you','that','it'))) AS en,
       |  len(list_filter(tk, t -> t IN ('el','la','de','que','y','en','un','se','no','los'))) AS es,
       |  len(list_filter(tk, t -> t IN ('le','de','un','et','les','en','que','pour','des','est'))) AS fr,
       |  len(list_filter(tk, t -> t IN ('der','die','und','in','den','von','zu','das','mit','ist'))) AS de,
       |  len(list_filter(tk, t -> t IN ('的','一','是','不','了','人','我','在','有','他'))) AS zh
       |  FROM tok),
       |lid AS (SELECT doc_id, text, lang, n_tokens,
       |  CASE WHEN split_part(best, '|', 1) = '00000000' THEN 'und' ELSE split_part(best, '|', 2) END AS pred_lang
       |  FROM (SELECT *, greatest(
       |    printf('%08d|en', en), printf('%08d|es', es), printf('%08d|fr', fr),
       |    printf('%08d|de', de), printf('%08d|zh', zh)) AS best FROM sc)),
       |f AS (SELECT * FROM lid WHERE n_tokens >= 32 AND pred_lang <> 'und'),
       |k AS (SELECT md5(text) AS h, min(doc_id) AS keep_id FROM f GROUP BY 1),
       |kept AS (SELECT f.* FROM f JOIN k ON f.doc_id = k.keep_id),
       |sp AS (SELECT *, CASE $whens ELSE '${spec.last._1}' END AS split FROM kept)
       |SELECT split, lang, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
       |FROM sp GROUP BY split, lang ORDER BY split, lang""".stripMargin
  }

  /** The decontamination chain in SQL: split CASE derived from
    * [[graft.operators.CorpusSplit.hexThresholds]] (no-drift, like the
    * corpus_split oracle), tokens split on the shingle kernel's EXACT
    * whitespace class ([[graft.functions.SketchUtil.WsClassRegex]] —
    * ASCII \\s including vertical tab, wider than the text operators'
    * class) with empties filtered (the kernel never emits empty
    * tokens), 8-gram windows with the kernel's shingle-whole-when-short
    * rule (coalesce: DuckDB's array_to_string of an empty list is NULL
    * where the kernel yields one empty shingle), and the same
    * train-df ≤ 100 boilerplate guard ahead of the join. */
  val corpusDecontam: String = {
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
       |tr AS (SELECT g, doc_id AS train_id FROM e WHERE split = 'train'),
       |keep AS (SELECT g FROM tr GROUP BY g HAVING count(*) <= 100),
       |ev AS (SELECT doc_id, g FROM e WHERE split IN ('val', 'test'))
       |SELECT ev.doc_id,
       |       count(DISTINCT ev.g) AS n_shared_ngrams,
       |       count(DISTINCT tr.train_id) AS n_train_docs
       |FROM ev JOIN keep USING (g) JOIN tr USING (g)
       |GROUP BY ev.doc_id ORDER BY ev.doc_id""".stripMargin
  }

  /** [[Extensions.dedupSubstring]]'s chain with the shingle kernel's
    * tokenization (same CTE shape as the decontam oracle): stride-1
    * 32-token windows, whole-doc window when shorter, cross-document
    * df > 1 = duplicated, per-doc position counts + rounded fraction.
    * The oracle groups window TEXT where Spark groups md5(text) — equal
    * short of an md5 collision, which the hash-keyed output could not
    * represent anyway. */
  val dedupSubstring: String = {
    val kws = graft.functions.SketchUtil.WsClassRegex
    s"""WITH d AS (SELECT doc_id,
       |             list_filter(regexp_split_to_array(lower(text), '$kws'), t -> t <> '') AS tk
       |           FROM documents),
       |w AS (SELECT doc_id,
       |        CASE WHEN len(tk) < 32 THEN [coalesce(array_to_string(tk, ' '), '')]
       |             ELSE [array_to_string(tk[i:i+31], ' ') for i in range(1, len(tk) - 30)] END AS ws
       |      FROM d),
       |e AS (SELECT doc_id, unnest(ws) AS g FROM w),
       |dup AS (SELECT g FROM (SELECT DISTINCT doc_id, g FROM e) GROUP BY g HAVING count(*) > 1)
       |SELECT e.doc_id, count(*) AS n_windows, count(dup.g) AS n_dup,
       |       round(count(dup.g)::DOUBLE / count(*)::DOUBLE, 4) AS dup_frac
       |FROM e LEFT JOIN dup ON e.g = dup.g
       |GROUP BY e.doc_id ORDER BY e.doc_id""".stripMargin
  }

  /** [[Extensions.textNgrams]]: bigrams by the shingle kernel's rules
    * (lowercase, kernel whitespace class, short doc → whole-doc gram),
    * total (n DESC, gram) order so the LIMIT boundary is deterministic
    * in both engines (ASCII grams, binary collation both sides). */
  /** [[Extensions.eventsHllDaily]]: exact per-day distinct counts plus
    * the exact overall row, every gate pinned to 0 — per-day estimate
    * drift OR a broken union algebra flips a gate and fails the
    * hash. */
  val eventsHllDaily: String =
    """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
      |       count(DISTINCT user_id) AS n_exact,
      |       CAST(0 AS BIGINT) AS gate
      |FROM events GROUP BY 1
      |UNION ALL
      |SELECT 'ALL', count(DISTINCT user_id), CAST(0 AS BIGINT) FROM events
      |ORDER BY day""".stripMargin

  /** [[Extensions.textHeavyHitters]]: the exact top-20 unigram table
    * from the same kernel-mirroring token derivation as [[textNgrams]]
    * (n = 1: the short-doc whole-document rule collapses to "empty
    * text → one empty gram"), gates pinned to 0 — a sketch that
    * undercounts (impossible by construction) or overcounts past ε·N
    * flips a gate and fails the hash. */
  val textHeavyHitters: String = {
    val kws = graft.functions.SketchUtil.WsClassRegex
    s"""WITH d AS (SELECT list_filter(regexp_split_to_array(lower(text), '$kws'), t -> t <> '') AS tk
       |           FROM documents),
       |w AS (SELECT CASE WHEN len(tk) < 1 THEN [''] ELSE tk END AS gs FROM d),
       |e AS (SELECT unnest(gs) AS tok FROM w),
       |c AS (SELECT tok, count(*) AS cnt FROM e GROUP BY 1),
       |r AS (SELECT *, row_number() OVER (ORDER BY cnt DESC, tok) AS rank FROM c)
       |SELECT CAST(rank AS BIGINT) AS rank, tok, cnt,
       |       CAST(0 AS BIGINT) AS under_gate, CAST(0 AS BIGINT) AS over_gate
       |FROM r WHERE rank <= 20 ORDER BY rank""".stripMargin
  }

  val textNgrams: String = {
    val kws = graft.functions.SketchUtil.WsClassRegex
    s"""WITH d AS (SELECT list_filter(regexp_split_to_array(lower(text), '$kws'), t -> t <> '') AS tk
       |           FROM documents),
       |w AS (SELECT CASE WHEN len(tk) < 2 THEN [coalesce(array_to_string(tk, ' '), '')]
       |                  ELSE [array_to_string(tk[i:i+1], ' ') for i in range(1, len(tk))] END AS gs
       |      FROM d),
       |e AS (SELECT unnest(gs) AS gram FROM w)
       |SELECT gram, count(*) AS n FROM e
       |GROUP BY gram ORDER BY n DESC, gram LIMIT 50""".stripMargin
  }

  /** The capstone-2 pipeline in SQL, each stage verbatim from its
    * standalone oracle: lineDedup's 10-token re-lining + df-count +
    * kept-line reassembly (threshold > 2 here), textTokens' count with
    * its empty-text guard, dedupExact's min-per-hash, corpusSplit's
    * derived hex CASE — all over the CLEANED text — and
    * corpusDecontam's shingle/guard/join chain (which, per the
    * operator's exactness argument, is also the oracle for the Bloom
    * path the Spark side runs). */
  val corpusCurate2: String = {
    val spec = Extensions.corpusSplitSpec
    val ths = graft.operators.CorpusSplit.hexThresholds(spec)
    val whens = spec.init.zip(ths.init).map { case ((name, _), cut) =>
      s"WHEN substr(md5(clean_text), 1, 8) < '$cut' THEN '$name'"
    }.mkString(" ")
    val w = graft.operators.TextAnalysis.WsClass
    val kws = graft.functions.SketchUtil.WsClassRegex
    s"""WITH tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '$w') AS tk FROM documents),
       |ln AS (SELECT doc_id,
       |         unnest([{'p': i, 's': array_to_string(tk[i*10+1:i*10+10], ' ')}
       |                 for i in range(0, CAST(ceil(len(tk) / 10.0) AS INT))]) AS e
       |       FROM tok),
       |l AS (SELECT doc_id, e.p AS pos, e.s AS line FROM ln),
       |dup AS (SELECT md5(line) AS h FROM l GROUP BY 1 HAVING count(DISTINCT doc_id) > 2),
       |j AS (SELECT l.doc_id, l.pos, l.line, dup.h FROM l LEFT JOIN dup ON md5(l.line) = dup.h),
       |cl AS (SELECT doc_id,
       |         coalesce(string_agg(line, chr(10) ORDER BY pos) FILTER (WHERE h IS NULL), '') AS clean_text
       |       FROM j GROUP BY doc_id),
       |tc AS (SELECT doc_id, clean_text,
       |         CASE WHEN len(trim(clean_text)) = 0 THEN 0
       |              ELSE len(regexp_split_to_array(trim(clean_text), '$w')) END AS n_tokens
       |       FROM cl),
       |f AS (SELECT * FROM tc WHERE n_tokens >= 16),
       |k AS (SELECT md5(clean_text) AS h, min(doc_id) AS keep_id FROM f GROUP BY 1),
       |u AS (SELECT f.*, CASE $whens ELSE '${spec.last._1}' END AS split
       |      FROM f JOIN k ON f.doc_id = k.keep_id),
       |d AS (SELECT doc_id, split,
       |        list_filter(regexp_split_to_array(lower(clean_text), '$kws'), t -> t <> '') AS tkc
       |      FROM u),
       |sh AS (SELECT doc_id, split,
       |         CASE WHEN len(tkc) < 8 THEN [coalesce(array_to_string(tkc, ' '), '')]
       |              ELSE list_distinct([array_to_string(tkc[i:i+7], ' ') for i in range(1, len(tkc) - 6)]) END AS sg
       |       FROM d),
       |e AS (SELECT doc_id, split, unnest(sg) AS g FROM sh),
       |keep AS (SELECT g FROM e WHERE split = 'train' GROUP BY g HAVING count(*) <= 100),
       |ev AS (SELECT DISTINCT e.doc_id FROM e JOIN keep USING (g) WHERE e.split IN ('val', 'test'))
       |SELECT u.split, count(*) AS n_docs, CAST(sum(u.n_tokens) AS BIGINT) AS sum_tokens,
       |       count(ev.doc_id) AS n_contaminated
       |FROM u LEFT JOIN ev ON u.doc_id = ev.doc_id
       |GROUP BY u.split ORDER BY u.split""".stripMargin
  }

  /** The packing window arithmetic, verbatim: cumulative weight BEFORE
    * each doc within its (doc_id % 8) bucket, chunk = floor(/4096). */
  val corpusPack: String =
    """WITH w AS (
      |  SELECT doc_id % 8 AS bucket, doc_id, n_chars,
      |         sum(n_chars) OVER (PARTITION BY doc_id % 8 ORDER BY doc_id
      |                            ROWS UNBOUNDED PRECEDING) - n_chars AS cum_before
      |  FROM documents)
      |SELECT bucket, CAST(floor(cum_before / 4096.0) AS BIGINT) AS seq_no,
      |       count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_weight
      |FROM w GROUP BY bucket, seq_no ORDER BY bucket, seq_no""".stripMargin

  /** [[graft.operators.Packing.chunkTokens]]' arithmetic verbatim:
    * whitespace-class tokens, n_chunks = 1 + ceil(max(0, n−64)/48),
    * 1-based 64-wide slices every 48 tokens (DuckDB's inclusive `[a:b]`
    * slice clamps at the tail exactly like Spark's `slice`). Bound
    * locally like corpusCurate: the shared `ws` val is declared further
    * down the object. */
  val corpusChunk: String = {
    val w = graft.operators.TextAnalysis.WsClass
    s"""WITH tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '$w') AS tk FROM documents),
       |c AS (SELECT doc_id, tk,
       |        1 + CAST(ceil(greatest(0, len(tk) - 64) / 48.0) AS INT) AS n_chunks FROM tok),
       |e AS (SELECT doc_id, tk, unnest(range(0, n_chunks)) AS chunk_id FROM c),
       |s AS (SELECT doc_id, chunk_id, tk[chunk_id*48 + 1 : chunk_id*48 + 64] AS ch FROM e)
       |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
       |       CAST(len(ch) AS BIGINT) AS n_tok, md5(array_to_string(ch, ' ')) AS chunk_md5
       |FROM s ORDER BY doc_id, chunk_id""".stripMargin
  }

  /** The line_dedup chain: 10-token re-lining with the same slice
    * arithmetic as the Spark side, document frequency per distinct
    * line content, boilerplate = df > maxDocDf (= 1), and kept-line
    * reassembly in original order. The coalesce mirrors `concat_ws`: a
    * document whose every line is boilerplate reassembles to '' (DuckDB
    * string_agg over zero rows is NULL). */
  val lineDedup: String = {
    val w = graft.operators.TextAnalysis.WsClass
    s"""WITH tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '$w') AS tk FROM documents),
       |ln AS (SELECT doc_id,
       |         unnest([{'p': i, 's': array_to_string(tk[i*10+1:i*10+10], ' ')}
       |                 for i in range(0, CAST(ceil(len(tk) / 10.0) AS INT))]) AS e
       |       FROM tok),
       |l AS (SELECT doc_id, e.p AS pos, e.s AS line FROM ln),
       |dup AS (SELECT md5(line) AS h FROM l GROUP BY 1 HAVING count(DISTINCT doc_id) > 1),
       |j AS (SELECT l.doc_id, l.pos, l.line, dup.h FROM l LEFT JOIN dup ON md5(l.line) = dup.h)
       |SELECT doc_id, count(*) AS n_lines,
       |       count(CASE WHEN h IS NULL THEN 1 END) AS n_kept,
       |       md5(coalesce(string_agg(line, chr(10) ORDER BY pos) FILTER (WHERE h IS NULL), '')) AS clean_md5
       |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** The shingle kernels' whitespace class ([[graft.functions
    * .SketchUtil.WsClassRegex]] — ASCII `\s` incl \x0B, WIDER than the
    * text operators' class; see its scaladoc), interpolated so a kernel
    * class change re-derives the shingle oracles. */
  private val wsShingle = graft.functions.SketchUtil.WsClassRegex

  /** Word-3-gram shingle-set CTE chain shared by the minhash/simhash
    * pair oracles: tokenize on the kernel's class, 3-gram (short docs
    * whole), distinct — exactly [[graft.operators.Dedup.wordShingles]]
    * + sortedDistinct semantics (list_intersect is set-valued, so sort
    * order never matters oracle-side). */
  private def shingleNorm(src: String): String =
    s"""tok AS (
       |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '$wsShingle'), t -> t <> '') AS toks
       |  FROM $src),
       |sh AS (
       |  SELECT doc_id, CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
       |    ELSE [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks) - 1)] END AS sg
       |  FROM tok),
       |norm AS (SELECT doc_id, list_distinct(sg) AS sg FROM sh)""".stripMargin

  /** [[Extensions.dedupMinhash]]: the EXHAUSTIVE word-3-gram Jaccard
    * truth set — quadratic enumeration lives only here, oracle-side at
    * the verify SF; row-set equality against the banded Spark plan is
    * the recall-and-precision gate. */
  val dedupMinhash: String =
    s"""WITH ${shingleNorm("documents")},
       |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |             len(list_intersect(a.sg, b.sg))::DOUBLE /
       |             (len(a.sg) + len(b.sg) - len(list_intersect(a.sg, b.sg)))::DOUBLE AS j
       |      FROM norm a JOIN norm b ON a.doc_id < b.doc_id)
       |SELECT id_a, id_b, round(j, 4) AS jaccard FROM p WHERE j >= 0.5 ORDER BY id_a, id_b""".stripMargin

  /** [[Extensions.layoutCompactStored]]: the rollup recomputed from
    * raw orders (storage invariance) with the compaction's file-count
    * contract pinned as literals. */
  val layoutCompactStored: String =
    """SELECT CAST(64 AS BIGINT) AS files_before,
      |       CAST(4 AS BIGINT) AS files_after,
      |       count(*) AS n_rows,
      |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
      |       count(DISTINCT o_orderkey % 5000) AS n_keys
      |FROM orders""".stripMargin

  /** [[Extensions.layoutZonemapStored]]: the same bin / synthetic
    * receipt derivation from RAW lineitem, the same per-bin min/max
    * stats and overlap rule for the pruning counts, and the windowed
    * rollup — storage and sidecar invisible at the answer. */
  val layoutZonemapStored: String =
    """WITH b AS (
      |  SELECT date_diff('day', DATE '1992-01-01', CAST(l_shipdate AS DATE))
      |           // 40 AS bin,
      |         date_diff('day', DATE '1992-01-01', CAST(l_shipdate AS DATE))
      |           + l_orderkey % 30 AS receipt_days,
      |         CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
      |         l_returnflag
      |  FROM lineitem),
      |zm AS (SELECT bin, min(receipt_days) AS min_r, max(receipt_days) AS max_r
      |       FROM b GROUP BY 1),
      |sel AS (SELECT count(*) FILTER (WHERE max_r >= 1900 AND min_r <= 1959)
      |               AS bins_read,
      |             count(*) AS bins_total FROM zm)
      |SELECT l_returnflag, count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents,
      |       CAST(bins_read AS BIGINT) AS bins_read,
      |       CAST(bins_total AS BIGINT) AS bins_total
      |FROM b, sel
      |WHERE receipt_days BETWEEN 1900 AND 1959
      |GROUP BY 1, bins_read, bins_total
      |ORDER BY l_returnflag""".stripMargin

  /** [[Extensions.dedupMinhashClusters]]: connected components over
    * the exhaustive truth pairs via an INDEPENDENT recursive
    * symmetric-closure CTE (component id = min member — the same
    * labeling the union-find produces, derived without mirroring
    * it). */
  val dedupMinhashClusters: String =
    s"""WITH RECURSIVE ${shingleNorm("documents")},
       |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |      FROM norm a JOIN norm b ON a.doc_id < b.doc_id
       |      WHERE len(list_intersect(a.sg, b.sg))::DOUBLE /
       |            (len(a.sg) + len(b.sg) - len(list_intersect(a.sg, b.sg)))::DOUBLE >= 0.5),
       |e AS (SELECT id_a AS a, id_b AS b FROM p
       |      UNION SELECT id_b, id_a FROM p),
       |reach(a, b) AS (
       |  SELECT a, b FROM e
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
       |comp AS (SELECT a AS node, min(b) AS mn FROM reach GROUP BY a)
       |SELECT d.doc_id,
       |       CAST(least(d.doc_id, coalesce(c.mn, d.doc_id)) AS BIGINT) AS cluster_id
       |FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
       |ORDER BY doc_id""".stripMargin

  /** [[Extensions.corpusOverlap]]: the exhaustive truth pairs rolled
    * up per unordered source pair. */
  val corpusOverlap: String =
    s"""WITH ${shingleNorm("documents")},
       |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |             len(list_intersect(a.sg, b.sg))::DOUBLE /
       |             (len(a.sg) + len(b.sg) - len(list_intersect(a.sg, b.sg)))::DOUBLE AS j
       |      FROM norm a JOIN norm b ON a.doc_id < b.doc_id),
       |v AS (SELECT id_a, id_b, j FROM p WHERE j >= 0.5),
       |s AS (SELECT least(da.source, db.source) AS src_a,
       |             greatest(da.source, db.source) AS src_b, v.j
       |      FROM v JOIN documents da ON v.id_a = da.doc_id
       |             JOIN documents db ON v.id_b = db.doc_id)
       |SELECT src_a, src_b, count(*) AS n_pairs, round(max(j), 4) AS max_jaccard
       |FROM s GROUP BY 1, 2 ORDER BY src_a, src_b""".stripMargin

  /** [[Extensions.embHardNegatives]]: the same twin synthesis, exact
    * round-4 cosine per (query, candidate), radius screen at 0.9,
    * windowed top-5 below the bar plus the screened count. */
  val embHardNegatives: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |tw AS (SELECT vec_id + 100000 AS vec_id,
      |              list_transform(v, (x, i) ->
      |                x + (CAST((vec_id * 31 + (i - 1)) % 7 AS DOUBLE) - 3.0) * 0.003) AS v
      |       FROM e WHERE vec_id % 7 = 0),
      |corpus AS (SELECT * FROM e UNION ALL SELECT * FROM tw),
      |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id % 70 = 0),
      |sc AS (SELECT qid, c.vec_id AS id,
      |              round(list_cosine_similarity(c.v, q.qv), 4) AS sim
      |       FROM corpus c, q WHERE c.vec_id <> q.qid),
      |scr AS (SELECT qid, count(*) AS n_screened FROM sc WHERE sim >= 0.9 GROUP BY 1),
      |r AS (SELECT qid, id, sim,
      |             row_number() OVER (PARTITION BY qid ORDER BY sim DESC, id) AS rank
      |      FROM sc WHERE sim < 0.9)
      |SELECT r.qid AS qid, CAST(rank AS BIGINT) AS rank, id, sim,
      |       CAST(coalesce(s.n_screened, 0) AS BIGINT) AS n_screened
      |FROM r LEFT JOIN scr s ON r.qid = s.qid
      |WHERE rank <= 5 ORDER BY r.qid, rank""".stripMargin

  /** [[Extensions.dedupSimhash]]: the planted-twin truth — same
    * append-two-tokens edit, exact word-3-gram Jaccard per planted
    * pair, recall gate pinned to 0. */
  val dedupSimhash: String =
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 100000, text || ' zq' || CAST(doc_id % 7 AS VARCHAR)
       |  FROM documents WHERE doc_id % 9 = 0),
       |${shingleNorm("corpus")},
       |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |             len(list_intersect(a.sg, b.sg))::DOUBLE /
       |             (len(a.sg) + len(b.sg) - len(list_intersect(a.sg, b.sg)))::DOUBLE AS j
       |      FROM norm a JOIN norm b
       |        ON b.doc_id = a.doc_id + 100000 AND a.doc_id % 9 = 0 AND a.doc_id < 100000)
       |SELECT id_a, id_b, round(j, 4) AS jaccard, CAST(0 AS BIGINT) AS recall_gate
       |FROM p ORDER BY id_a, id_b""".stripMargin

  /** [[Extensions.dedupEmbedding]]: the planted-twin truth — the
    * [[dedupSemantic]] perturbation replayed via DuckDB's indexed list
    * lambda (1-based i, hence i−1), cosine at round 4, both gates
    * pinned to 0. */
  val dedupEmbedding: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |p AS (
      |  SELECT vec_id AS id_a, vec_id + 100000 AS id_b,
      |         round(list_cosine_similarity(v,
      |           list_transform(v, (x, i) ->
      |             x + (CAST((vec_id * 31 + (i - 1)) % 7 AS DOUBLE) - 3.0) * 0.003)), 4) AS cosine
      |  FROM e WHERE vec_id % 7 = 0)
      |SELECT id_a, id_b, cosine, CAST(0 AS BIGINT) AS recall_gate,
      |       CAST(0 AS BIGINT) AS precision_gate
      |FROM p ORDER BY id_a, id_b""".stripMargin

  val dedupMinhashVerify: String =
    """WITH sh AS (
      |  SELECT doc_id, len(text) AS lb,
      |         CASE WHEN len(lower(text)) <= 5 THEN [lower(text)]
      |              ELSE [substr(lower(text), i, 5) for i in range(1, len(lower(text)) - 3)] END AS sg
      |  FROM documents),
      |d AS (SELECT doc_id, lb, list_distinct(sg) AS sg FROM sh),
      |g AS (SELECT doc_id, lb, sg FROM
      |        (SELECT *, count(*) OVER (PARTITION BY lb) AS bsz FROM d)
      |      WHERE bsz <= 100 AND bsz > 1),
      |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |             round(len(list_intersect(a.sg, b.sg))::DOUBLE /
      |                   (len(a.sg) + len(b.sg) - len(list_intersect(a.sg, b.sg)))::DOUBLE, 4) AS jaccard
      |      FROM g a JOIN g b ON a.lb = b.lb AND a.doc_id < b.doc_id)
      |SELECT id_a, id_b, jaccard FROM p WHERE jaccard >= 0.2 ORDER BY id_a, id_b""".stripMargin

  /** The one whitespace class, interpolated from
    * [[graft.operators.TextAnalysis.WsClass]] (the Scala regex source is
    * the same character sequence RE2 wants) — a class change on the
    * Spark side re-derives all three tokenizing oracles; a hand-copied
    * literal would silently drift. */
  private val ws = graft.operators.TextAnalysis.WsClass

  val textTokens: String =
    s"""SELECT doc_id,
       |       CASE WHEN len(trim(text)) = 0 THEN 0 ELSE len(regexp_split_to_array(trim(text), '$ws')) END AS n_ws,
       |       len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS n_bpe
       |FROM documents ORDER BY doc_id""".stripMargin

  /** TF-IDF as the equivalent window formulation. The score expression
    * `((tf·10^6)·N)/df` keeps the exact association order of
    * [[graft.operators.TextAnalysis.topTermsTfIdf]]; ORDER BY
    * (s DESC, term DESC) mirrors the top-k heap taking the LARGEST
    * (score, term) structs. */
  val textTfidf: String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '$ws')) AS term
       |  FROM documents),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok WHERE term <> '' GROUP BY 1, 2),
       |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |n AS (SELECT count(*) AS n_total FROM documents),
       |sc AS (SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
       |              ((tf.tf * 1000000.0) * n.n_total) / dfq.df AS s
       |       FROM tf JOIN dfq USING (term), n),
       |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, term DESC) AS rank
       |      FROM sc)
       |SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, tf, df,
       |       CAST(floor(s) AS BIGINT) AS score_ppm
       |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin

  /** [[Extensions.textBm25]] as the window formulation: the same
    * tokenizer, the same two ppm rationals (`//` ≡ Spark's DIV on these
    * all-non-negative operands), rank by (bm25_ppm DESC, doc_id ASC). */
  val textBm25: String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '$ws')) AS term
       |  FROM documents),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok WHERE term <> '' GROUP BY 1, 2),
       |st AS (SELECT count(DISTINCT doc_id) AS n_docs, CAST(sum(tf) AS BIGINT) AS s_tok FROM tf),
       |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
       |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |q AS (SELECT doc_id AS query_id, term FROM tf WHERE doc_id % 97 = 0),
       |c AS (SELECT q.query_id, tf.doc_id,
       |             (1000000 * (2 * (st.n_docs - dfq.df) + 1)) // (2 * dfq.df + 1) AS idf_ppm,
       |             (1000000 * 22 * st.s_tok * tf.tf)
       |               // (10 * st.s_tok * tf.tf + 3 * st.s_tok + 9 * dl.dl * st.n_docs) AS sat_ppm
       |      FROM tf JOIN q USING (term) JOIN dfq USING (term)
       |           JOIN dl ON dl.doc_id = tf.doc_id, st
       |      WHERE tf.doc_id <> q.query_id),
       |sc AS (SELECT query_id, doc_id,
       |              CAST(sum((idf_ppm * sat_ppm) // 1000000) AS BIGINT) AS bm25_ppm,
       |              count(*) AS n_terms
       |       FROM c GROUP BY 1, 2),
       |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |                                   ORDER BY bm25_ppm DESC, doc_id ASC) AS rank
       |      FROM sc)
       |SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, bm25_ppm, n_terms
       |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** [[Extensions.retrieveHybrid]]: both parents' oracle chains
    * verbatim (BM25 at k = 10, int8-dot dense ranking with the dense
    * self-hit dropped post-rank), fused by the same integer RRF and
    * re-ranked. */
  val retrieveHybrid: String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '$ws')) AS term
       |  FROM documents),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok WHERE term <> '' GROUP BY 1, 2),
       |st AS (SELECT count(DISTINCT doc_id) AS n_docs, CAST(sum(tf) AS BIGINT) AS s_tok FROM tf),
       |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
       |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |q AS (SELECT doc_id AS query_id, term FROM tf WHERE doc_id % 97 = 0),
       |c AS (SELECT q.query_id, tf.doc_id,
       |             (1000000 * (2 * (st.n_docs - dfq.df) + 1)) // (2 * dfq.df + 1) AS idf_ppm,
       |             (1000000 * 22 * st.s_tok * tf.tf)
       |               // (10 * st.s_tok * tf.tf + 3 * st.s_tok + 9 * dl.dl * st.n_docs) AS sat_ppm
       |      FROM tf JOIN q USING (term) JOIN dfq USING (term)
       |           JOIN dl ON dl.doc_id = tf.doc_id, st
       |      WHERE tf.doc_id <> q.query_id),
       |sc AS (SELECT query_id, doc_id,
       |              CAST(sum((idf_ppm * sat_ppm) // 1000000) AS BIGINT) AS bm25_ppm
       |       FROM c GROUP BY 1, 2),
       |lex AS (SELECT query_id AS qid, doc_id AS id,
       |               row_number() OVER (PARTITION BY query_id
       |                                  ORDER BY bm25_ppm DESC, doc_id ASC) AS r_lex
       |        FROM sc),
       |lex10 AS (SELECT qid, id, r_lex FROM lex WHERE r_lex <= 10),
       |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings),
       |m AS (SELECT vec_id, x, list_max(list_transform(x, e -> abs(e))) AS maxabs FROM v),
       |qv AS (SELECT vec_id,
       |              CASE WHEN maxabs > 0
       |                   THEN list_transform(x, e -> trunc(e * 127.0 / maxabs))
       |                   ELSE list_transform(x, e -> 0.0) END AS qi FROM m),
       |cc AS (SELECT vec_id AS id, qi AS qc FROM qv),
       |qs AS (SELECT vec_id AS qid, qi AS qq FROM qv WHERE vec_id % 97 = 0),
       |dsc AS (SELECT qid, id,
       |               list_dot_product(qc, qq) / sqrt(list_dot_product(qc, qc))
       |                                        / sqrt(list_dot_product(qq, qq)) AS sim
       |        FROM cc, qs),
       |dr AS (SELECT qid, id,
       |              row_number() OVER (PARTITION BY qid ORDER BY sim DESC, id) AS r_dense
       |       FROM dsc),
       |dense10 AS (SELECT qid, id, r_dense FROM dr WHERE r_dense <= 10 AND id <> qid),
       |fused AS (SELECT coalesce(l.qid, d.qid) AS qid, coalesce(l.id, d.id) AS id,
       |                 coalesce(1000000 // (60 + l.r_lex), 0)
       |                   + coalesce(1000000 // (60 + d.r_dense), 0) AS rrf_ppm,
       |                 coalesce(l.r_lex, 0) AS r_lex, coalesce(d.r_dense, 0) AS r_dense
       |          FROM lex10 l FULL OUTER JOIN dense10 d ON l.qid = d.qid AND l.id = d.id),
       |o AS (SELECT *, row_number() OVER (PARTITION BY qid
       |                                   ORDER BY rrf_ppm DESC, id ASC) AS rank
       |      FROM fused)
       |SELECT qid, CAST(rank AS BIGINT) AS rank, id, CAST(rrf_ppm AS BIGINT) AS rrf_ppm,
       |       CAST(r_lex AS BIGINT) AS r_lex, CAST(r_dense AS BIGINT) AS r_dense
       |FROM o WHERE rank <= 5 ORDER BY qid, rank""".stripMargin

  /** [[Extensions.corpusHist]]: the same guarded tokenizer, the same
    * binary-digit-count bucket. */
  val corpusHist: String = {
    val w = graft.operators.TextAnalysis.WsClass
    s"""WITH tok AS (
       |  SELECT CASE WHEN len(trim(text)) = 0 THEN 0
       |              ELSE len(regexp_split_to_array(trim(text), '$w')) END AS n_tok
       |  FROM documents)
      |SELECT (CASE WHEN n_tok = 0 THEN 0 ELSE len(bin(n_tok)) END)::BIGINT AS bucket,
      |       count(*) AS n_docs, min(n_tok)::BIGINT AS min_tok,
      |       max(n_tok)::BIGINT AS max_tok, CAST(sum(n_tok) AS BIGINT) AS sum_tok
      |FROM tok GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** [[Extensions.corpusStats]]: the same guarded tokenizer and the
    * same exact aggregates. */
  val corpusStats: String = {
    val w = graft.operators.TextAnalysis.WsClass
    s"""WITH tok AS (
       |  SELECT doc_id, lang, text,
       |         CASE WHEN len(trim(text)) = 0 THEN 0
       |              ELSE len(regexp_split_to_array(trim(text), '$w')) END AS n_tok
       |  FROM documents)
      |SELECT count(*) AS n_docs,
      |       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
      |       CAST(sum(octet_length(encode(text))) AS BIGINT) AS n_bytes,
      |       count(DISTINCT lang) AS n_langs,
      |       count(DISTINCT md5(text)) AS n_uniq_texts,
      |       min(n_tok)::BIGINT AS min_tok, max(n_tok)::BIGINT AS max_tok
      |FROM tok""".stripMargin
  }

  val textQuality: String =
    s"""WITH tok AS (
       |  SELECT doc_id, text, regexp_split_to_array(lower(trim(text)), '$ws') AS tk FROM documents)
      |SELECT doc_id,
      |       len(tk)::BIGINT AS n_tokens,
      |       list_sum(list_transform(tk, t -> len(t)))::BIGINT AS sum_token_len,
      |       len(list_filter(tk, t -> t IN ('the','a','of','and','to','in','is','that','it','for')))::BIGINT AS n_stop,
      |       (len(text) - len(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')))::BIGINT AS n_punct,
      |       len(text)::BIGINT AS n_chars_measured
      |FROM tok ORDER BY doc_id""".stripMargin

  /** [[Extensions.textGopher]]: the same counts from DuckDB's list
    * lambdas, the same cross-multiplied integer gate — the pass bit is
    * part of the hash. */
  val textGopher: String =
    s"""WITH t0 AS (
       |  SELECT doc_id, text,
       |         regexp_split_to_array(lower(trim(text)), '$ws') AS tk,
       |         string_split(text, chr(10)) AS ln
       |  FROM documents),
      |c AS (SELECT doc_id,
      |  len(tk)::BIGINT AS n_tokens,
      |  list_sum(list_transform(tk, t -> len(t)))::BIGINT AS sum_token_len,
      |  len(list_filter(tk, t -> regexp_matches(t, '[a-z]')))::BIGINT AS n_alpha_words,
      |  len(list_intersect(list_distinct(tk),
      |      ['the','be','to','of','and','that','have','with']))::BIGINT AS n_stop_distinct,
      |  len(regexp_extract_all(text, '#'))::BIGINT AS n_hash,
      |  len(regexp_extract_all(text, '\\.\\.\\.'))::BIGINT AS n_ellipsis,
      |  len(ln)::BIGINT AS n_lines,
      |  len(list_filter(ln, l -> regexp_matches(trim(l), '^[-*•]')))::BIGINT AS n_bullet_lines,
      |  len(list_filter(ln, l -> regexp_matches(trim(l), '\\.\\.\\.$$')))::BIGINT AS n_ellipsis_lines
      |  FROM t0)
      |SELECT doc_id, n_tokens, sum_token_len, n_alpha_words, n_stop_distinct,
      |       n_hash, n_ellipsis, n_lines, n_bullet_lines, n_ellipsis_lines,
      |       CASE WHEN n_tokens >= 50 AND n_tokens <= 100000
      |             AND 3*n_tokens <= sum_token_len AND sum_token_len <= 10*n_tokens
      |             AND 10*(n_hash + n_ellipsis) < n_tokens
      |             AND 5*n_alpha_words >= 4*n_tokens
      |             AND n_stop_distinct >= 2
      |            THEN 1 ELSE 0 END::BIGINT AS pass
      |FROM c ORDER BY doc_id""".stripMargin

  /** [[Extensions.urlFilter]]: rebuild the synthetic frontier, re-derive
    * scheme/ext/depth/params with the same regexes, and apply the same
    * integer keep gate. */
  val urlFilter: String =
    """WITH raw AS (
      |  SELECT o_orderkey,
      |    CASE WHEN o_orderkey % 13 = 0 THEN 'ftp://' ELSE 'https://' END ||
      |    'h' || (o_custkey % 17) || '.example.org' ||
      |    repeat('/s' || (o_orderkey % 3), CAST(o_custkey % 12 AS INT)) ||
      |    '/page' || o_orderkey ||
      |    ['', '.html', '.jpg', '.css', '.pdf', '.php', '.js'][CAST(o_orderkey % 7 AS INT) + 1] ||
      |    CASE WHEN o_orderkey % 5 = 0 THEN '?q=1' || repeat('&p=2', CAST(o_custkey % 10 AS INT)) ELSE '' END AS url
      |  FROM orders),
      |s AS (
      |  SELECT o_orderkey, url,
      |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
      |    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path,
      |    regexp_extract(url, '\?([^#]*)', 1) AS q
      |  FROM raw),
      |e AS (
      |  SELECT o_orderkey, url, scheme,
      |    lower(regexp_extract(path, '\.([A-Za-z0-9]+)$', 1)) AS ext,
      |    len(regexp_extract_all(path, '/[^/]'))::BIGINT AS path_depth,
      |    (CASE WHEN q = '' THEN 0 ELSE len(regexp_extract_all(q, '&')) + 1 END)::BIGINT AS n_params
      |  FROM s)
      |SELECT o_orderkey, url, scheme, ext, path_depth, n_params,
      |  (CASE WHEN scheme IN ('http','https')
      |         AND ext NOT IN ('jpg','jpeg','png','gif','webp','ico','svg',
      |                         'css','js','woff','woff2','ttf',
      |                         'mp3','mp4','avi','mov','webm',
      |                         'zip','gz','tar','exe','dmg')
      |         AND path_depth <= 8 AND n_params <= 8
      |        THEN 1 ELSE 0 END)::BIGINT AS keep
      |FROM e ORDER BY o_orderkey""".stripMargin

  /** [[Extensions.urlRobots]]: rebuild frontier and rules (incl. the
    * RFC 9309 wildcard rules incl. the query-string deny), translate
    * each pattern to the same RE2-safe regex ('.'/'?'-escape suffices:
    * the synthesized patterns'
    * only regex specials besides '*' and the trailing '$' anchor), and
    * re-derive the most-specific-match winner with a padded
    * (len, allow, pattern) argmax key — lexicographically identical to
    * the operator's (len, allow, pattern) struct order on this
    * ruleset. */
  val urlRobots: String =
    """WITH kk AS (SELECT CAST(range AS BIGINT) AS k FROM range(0, 17)),
      |rules AS (
      |  SELECT 'h'||k||'.example.org' AS host, '/' AS path_prefix,
      |         CASE WHEN k % 5 = 0 THEN 0 ELSE 1 END AS allow FROM kk
      |  UNION ALL SELECT 'h'||k||'.example.org', '/s0', k % 2 FROM kk
      |  UNION ALL SELECT 'h'||k||'.example.org', '/s0/s0', 1 FROM kk WHERE k % 3 = 0
      |  UNION ALL SELECT 'h'||k||'.example.org', '/page', 0 FROM kk WHERE k % 7 = 0
      |  UNION ALL SELECT 'h'||k||'.example.org', '/*.jpg$', 0 FROM kk WHERE k % 4 = 0
      |  UNION ALL SELECT 'h'||k||'.example.org', '/s1*page', 1 FROM kk WHERE k % 6 = 0
      |  UNION ALL SELECT 'h'||k||'.example.org', '/*?q=1', 0 FROM kk WHERE k % 2 = 1),
      |rx AS (
      |  SELECT host, path_prefix, allow,
      |         (contains(path_prefix, '*') OR path_prefix LIKE '%$') AS wild,
      |         '^' || replace(replace(replace(CASE WHEN path_prefix LIKE '%$'
      |                    THEN left(path_prefix, len(path_prefix) - 1)
      |                    ELSE path_prefix END, '.', '\.'), '?', '\?'), '*', '.*') ||
      |           CASE WHEN path_prefix LIKE '%$' THEN '$' ELSE '' END AS pat
      |  FROM rules),
      |raw AS (
      |  SELECT o_orderkey,
      |    CASE WHEN o_orderkey % 13 = 0 THEN 'ftp://' ELSE 'https://' END ||
      |    'h' || (o_custkey % 17) || '.example.org' ||
      |    repeat('/s' || (o_orderkey % 3), CAST(o_custkey % 12 AS INT)) ||
      |    '/page' || o_orderkey ||
      |    ['', '.html', '.jpg', '.css', '.pdf', '.php', '.js'][CAST(o_orderkey % 7 AS INT) + 1] ||
      |    CASE WHEN o_orderkey % 5 = 0 THEN '?q=1' || repeat('&p=2', CAST(o_custkey % 10 AS INT)) ELSE '' END AS url
      |  FROM orders),
      |hp AS (
      |  SELECT o_orderkey, url,
      |    lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#:]+)', 1)) AS host,
      |    CASE WHEN starts_with(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)', 1), '/')
      |         THEN regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)', 1)
      |         ELSE '/' || regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)', 1) END AS path
      |  FROM raw),
      |m AS (
      |  SELECT hp.o_orderkey,
      |         max(printf('%04d|%d|%s', len(r.path_prefix), r.allow, r.path_prefix)) AS mk
      |  FROM hp JOIN rx r ON hp.host = r.host
      |   AND (CASE WHEN r.wild THEN regexp_matches(hp.path, r.pat)
      |             ELSE starts_with(hp.path, r.path_prefix) END)
      |  GROUP BY 1)
      |SELECT hp.o_orderkey, hp.url, hp.host,
      |       coalesce(split_part(m.mk, '|', 3), '') AS matched_prefix,
      |       coalesce(CAST(split_part(m.mk, '|', 2) AS BIGINT), 1) AS allowed
      |FROM hp LEFT JOIN m USING (o_orderkey) ORDER BY hp.o_orderkey""".stripMargin

  /** Language-ID argmax as a padded sort key: DuckDB's greatest() can't
    * compare structs, so (score, code) rides in '%08d|code' strings —
    * lexicographic max ≡ (score, code) max, the exact tie-break of the
    * Spark array_max-over-structs formulation. */
  val textLangid: String =
    s"""WITH tok AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '$ws') AS tk FROM documents),
      |s AS (SELECT doc_id,
      |  len(list_filter(tk, t -> t IN ('the','and','of','to','a','in','is','you','that','it'))) AS en,
      |  len(list_filter(tk, t -> t IN ('el','la','de','que','y','en','un','se','no','los'))) AS es,
      |  len(list_filter(tk, t -> t IN ('le','de','un','et','les','en','que','pour','des','est'))) AS fr,
      |  len(list_filter(tk, t -> t IN ('der','die','und','in','den','von','zu','das','mit','ist'))) AS de,
      |  len(list_filter(tk, t -> t IN ('的','一','是','不','了','人','我','在','有','他'))) AS zh
      |  FROM tok)
      |SELECT doc_id,
      |  CASE WHEN split_part(best, '|', 1) = '00000000' THEN 'und' ELSE split_part(best, '|', 2) END AS pred_lang
      |FROM (SELECT doc_id, greatest(
      |    printf('%08d|en', en), printf('%08d|es', es), printf('%08d|fr', fr),
      |    printf('%08d|de', de), printf('%08d|zh', zh)) AS best FROM s)
      |ORDER BY doc_id""".stripMargin

  val mmBytes: String =
    """SELECT doc_id, octet_length(encode(text)) AS n_bytes
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Closed form of [[Extensions.mmFrames]]'s sampler: n_frames =
    * 1 + doc_id % 3000 → frames {0, 30, ...} up to n_frames-1 =
    * floor(m/30)+1 samples; m = 0 rows are single-frame and excluded. */
  val mmFrames: String =
    """SELECT doc_id AS media_id,
      |       CAST(floor((doc_id % 3000) / 30) + 1 AS BIGINT) AS n_samples
      |FROM documents WHERE doc_id % 3000 > 0 ORDER BY media_id""".stripMargin

  /** The synthesized geometry of [[Extensions.mmDecode]]'s fixtures:
    * the Spark side must recover these from genuine PNG/JPEG bytes. */
  val mmDecode: String =
    """SELECT doc_id AS media_id,
      |       CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS kind,
      |       CAST(320 + doc_id % 1601 AS INT) AS width,
      |       CAST(240 + doc_id % 1081 AS INT) AS height
      |FROM documents ORDER BY media_id""".stripMargin

  /** [[Extensions.mmResize]]: the synthesized geometry re-derived, the
    * same least/greatest/round scale chain. */
  val mmResize: String =
    """WITH d AS (SELECT doc_id AS media_id,
      |             CAST(320 + doc_id % 1601 AS INT) AS width,
      |             CAST(240 + doc_id % 1081 AS INT) AS height
      |           FROM documents)
      |SELECT media_id, width, height,
      |  CAST(round(width * least(1.0, 256.0 / greatest(width, height))) AS INT) AS out_width,
      |  CAST(round(height * least(1.0, 256.0 / greatest(width, height))) AS INT) AS out_height
      |FROM d ORDER BY media_id""".stripMargin

  /** The shingle kernel's unigram/bigram semantics in SQL: kernel
    * whitespace class, empty-filtered tokens, zero tokens → one empty
    * unigram, fewer than 2 tokens → one whole-doc bigram (coalesce for
    * DuckDB's NULL array_to_string on empty lists). */
  val textRepetition: String = {
    val kws = graft.functions.SketchUtil.WsClassRegex
    s"""WITH d AS (
       |  SELECT doc_id,
       |         list_filter(regexp_split_to_array(lower(text), '$kws'), t -> t <> '') AS tk
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id,
       |         CASE WHEN len(tk) = 0 THEN [''] ELSE tk END AS uni,
       |         CASE WHEN len(tk) < 2 THEN [coalesce(array_to_string(tk, ' '), '')]
       |              ELSE [array_to_string(tk[i:i+1], ' ') for i in range(1, len(tk))] END AS bi
       |  FROM d)
       |SELECT doc_id,
       |       len(uni)::BIGINT AS n_tokens,
       |       len(list_distinct(uni))::BIGINT AS n_uniq_tokens,
       |       len(bi)::BIGINT AS n_bigrams,
       |       len(list_distinct(bi))::BIGINT AS n_uniq_bigrams
       |FROM sh ORDER BY doc_id""".stripMargin
  }

  /** The same synthesize → scrub chain with the patterns interpolated
    * from [[graft.operators.TextAnalysis]] (no-drift); 'g' flag: DuckDB
    * regexp_replace is first-match-only by default, Spark's is global. */
  val textRedact: String = {
    val em = graft.operators.TextAnalysis.EmailRe
    val ip = graft.operators.TextAnalysis.Ipv4Re
    s"""WITH p AS (
       |  SELECT doc_id,
       |         text || ' contact user' || doc_id || '@mail.example.com or 10.' || (doc_id % 256) || '.0.1' AS t
       |  FROM documents),
       |e AS (SELECT doc_id, t, regexp_replace(t, '$em', '<EMAIL>', 'g') AS t1 FROM p)
       |SELECT doc_id,
       |       len(regexp_extract_all(t, '$em'))::BIGINT AS n_emails,
       |       len(regexp_extract_all(t1, '$ip'))::BIGINT AS n_ips,
       |       md5(regexp_replace(t1, '$ip', '<IP>', 'g')) AS redacted_md5
       |FROM e ORDER BY doc_id""".stripMargin
  }

  /** The WAV fixture's closed form — the codec has to recover this from
    * the RIFF bytes. */
  val mmAudio: String =
    """SELECT doc_id AS media_id, 'wav' AS kind,
      |       CAST(8000 + doc_id % 40000 AS INT) AS sample_rate_hz
      |FROM documents ORDER BY media_id""".stripMargin

  /** The MP4 fixture's closed form — the box walk has to recover the
    * identical integers from the actual container bytes. */
  val mmVideo: String =
    """SELECT doc_id AS media_id, 'mp4' AS kind,
      |       CAST(320 + doc_id % 1601 AS INT) AS width,
      |       CAST(240 + doc_id % 1081 AS INT) AS height,
      |       CAST(30 + doc_id % 86400 AS BIGINT) AS duration_ticks,
      |       CAST(24 + doc_id % 7 AS BIGINT) AS timescale_hz
      |FROM documents ORDER BY media_id""".stripMargin

  /** [[Extensions.mmVideoFrames]]'s closed form: per (doc, frame)
    * geometry and gray levels from the synthesis formulas, pixel sums
    * as exact integer arithmetic — Σs = w·(h/2)·(v1+v2) and the
    * row-weighted Σ(y+1)·s with triangular-number row sums. The Spark
    * side has to recover these integers from DECODED JPEG pixels (the
    * quality-1.0 block-uniform round trip is exact; scaladoc on the
    * fixture). Frame indices come from a constant series filtered to
    * each row's frame count (DuckDB's generate_series takes no lateral
    * column args). DuckDB `/` is float division — `//` throughout. */
  val mmVideoFrames: String =
    """WITH f AS (
      |  SELECT d.doc_id, g.k,
      |         16 + (d.doc_id % 5) * 8 AS w,
      |         16 + (d.doc_id % 3) * 16 AS h,
      |         (d.doc_id * 7 + 13 * g.k) % 256 AS v1,
      |         (d.doc_id * 11 + 5 * g.k) % 256 AS v2
      |  FROM documents d JOIN generate_series(0, 4) AS g(k)
      |    ON g.k < 2 + d.doc_id % 4)
      |SELECT doc_id AS media_id, CAST(k AS INT) AS frame_idx,
      |       CAST(w AS INT) AS width, CAST(h AS INT) AS height,
      |       CAST(w * (h // 2) * (v1 + v2) AS BIGINT) AS sum_px,
      |       CAST(w * (v1 * ((h // 2) * (h // 2 + 1) // 2)
      |               + v2 * (h * (h + 1) // 2 - (h // 2) * (h // 2 + 1) // 2))
      |            AS BIGINT) AS wsum_px
      |FROM f ORDER BY media_id, frame_idx""".stripMargin

  /** [[Extensions.mmVideoSample]]'s closed form: the mm_video_frames
    * arithmetic restricted to sampled stream positions k ≡ 0 (mod 3). */
  val mmVideoSample: String =
    """WITH f AS (
      |  SELECT d.doc_id, g.k,
      |         16 + (d.doc_id % 5) * 8 AS w,
      |         16 + (d.doc_id % 3) * 16 AS h,
      |         (d.doc_id * 7 + 13 * g.k) % 256 AS v1,
      |         (d.doc_id * 11 + 5 * g.k) % 256 AS v2
      |  FROM documents d JOIN generate_series(0, 4) AS g(k)
      |    ON g.k < 2 + d.doc_id % 4 AND g.k % 3 = 0)
      |SELECT doc_id AS media_id, CAST(k AS INT) AS frame_idx,
      |       CAST(w AS INT) AS width, CAST(h AS INT) AS height,
      |       CAST(w * (h // 2) * (v1 + v2) AS BIGINT) AS sum_px,
      |       CAST(w * (v1 * ((h // 2) * (h // 2 + 1) // 2)
      |               + v2 * (h * (h + 1) // 2 - (h // 2) * (h // 2 + 1) // 2))
      |            AS BIGINT) AS wsum_px
      |FROM f ORDER BY media_id, frame_idx""".stripMargin

  /** [[Extensions.mmImageDedup]]'s closed form: per-doc raster
    * signatures from the mod-100 content synthesis (h is always even,
    * so the halves split at h//2 exactly), grouped with min-id-keeps.
    * Container choice (doc_id mod 3) never appears — that is the
    * point. */
  val mmImageDedup: String =
    """WITH sig AS (
      |  SELECT doc_id,
      |    24 + (doc_id % 100) % 40 AS w,
      |    16 + ((doc_id % 100) % 12) * 2 AS h,
      |    ((doc_id % 100) * 7 + 5) % 256 AS v1,
      |    ((doc_id % 100) * 11 + 9) % 256 AS v2
      |  FROM documents),
      |p AS (
      |  SELECT doc_id,
      |    CAST(w AS INT) AS width, CAST(h AS INT) AS height,
      |    CAST(w * (h // 2) * (v1 + v2) AS BIGINT) AS sum_px,
      |    CAST(w * (v1 * ((h // 2) * (h // 2 + 1) // 2)
      |            + v2 * (h * (h + 1) // 2 - (h // 2) * (h // 2 + 1) // 2))
      |         AS BIGINT) AS wsum_px
      |  FROM sig)
      |SELECT CAST(min(doc_id) AS BIGINT) AS keep_id, count(*) AS n_dups,
      |       width, height, sum_px, wsum_px
      |FROM p GROUP BY width, height, sum_px, wsum_px
      |ORDER BY keep_id""".stripMargin

  /** [[Extensions.mmImageNeardup]]'s closed form — deliberately hash-
    * free: the fixture gives exact 64-bit hash control, the planted
    * Hamming geometry (≤ 2 within a content, ≥ 16 across, machine-
    * checked in MultimodalSpec) makes the discovered clusters provably
    * the planted contents, so the truth is just the content grouping.
    * The Spark side still has to FIND it: banding, popcount verify,
    * connected components. */
  val mmImageNeardup: String =
    """SELECT CAST(min(doc_id) AS BIGINT) AS keep_id, count(*) AS n_dups
      |FROM documents GROUP BY doc_id % 55 ORDER BY keep_id""".stripMargin

  /** [[Extensions.dedupSemantic]]'s closed form — k-means-free for the
    * [[mmImageNeardup]] reason: the planted twin cosine (≥ 0.99) vs
    * organic ceiling (≤ 0.61, machine-checked in DedupSpec) margins
    * make the discovered groups provably the plant: each mod-7 vector
    * plus its +100000 twin, everything else a singleton whose keep is
    * itself. */
  val dedupSemantic: String =
    """SELECT CAST(vec_id AS BIGINT) AS keep_id,
      |       CAST(CASE WHEN vec_id % 7 = 0 THEN 2 ELSE 1 END AS BIGINT) AS n_dups
      |FROM embeddings ORDER BY keep_id""".stripMargin

  /** [[Extensions.mmAudioNeardup]]'s closed form — hash-free for the
    * [[mmImageNeardup]] reason: planted margins make the discovered
    * clusters provably the mod-45 contents. */
  val mmAudioNeardup: String =
    """SELECT CAST(min(doc_id) AS BIGINT) AS keep_id, count(*) AS n_dups
      |FROM documents GROUP BY doc_id % 45 ORDER BY keep_id""".stripMargin

  /** [[Extensions.mmImagePhash]]'s closed form. Bands align with the
    * aHash grid rows (h is a multiple of 8), every grid column of a
    * band shares its bit, and the hash is brightness-shift-invariant,
    * so the delta term drops out entirely: bit_b = 8·v_b > Σv with
    * v_b the UNSHIFTED band value, and each set band contributes
    * 255·256^(b mod 4) to its half. Container and delta (doc_id mod
    * 3) never appear — that is the point. */
  val mmImagePhash: String =
    """WITH sig AS (
      |  SELECT doc_id, doc_id % 100 AS m FROM documents),
      |v AS (
      |  SELECT s.doc_id, s.m, b.band,
      |         (s.m * 7 + b.band * 13 + 5) % 200 AS val
      |  FROM sig s, (SELECT unnest(generate_series(0, 7)) AS band) b),
      |bits AS (
      |  SELECT doc_id, m, band,
      |         CASE WHEN val * 8 > sum(val) OVER (PARTITION BY doc_id)
      |              THEN 1 ELSE 0 END AS bit
      |  FROM v),
      |h AS (
      |  SELECT doc_id,
      |    CAST(24 + m % 40 AS INT) AS width,
      |    CAST(16 + (m % 3) * 8 AS INT) AS height,
      |    CAST(sum(CASE WHEN band >= 4 THEN bit * CAST(255 AS BIGINT) *
      |      (CASE band % 4 WHEN 0 THEN 1 WHEN 1 THEN 256
      |            WHEN 2 THEN 65536 ELSE 16777216 END) ELSE 0 END)
      |      AS BIGINT) AS ahash_hi,
      |    CAST(sum(CASE WHEN band < 4 THEN bit * CAST(255 AS BIGINT) *
      |      (CASE band % 4 WHEN 0 THEN 1 WHEN 1 THEN 256
      |            WHEN 2 THEN 65536 ELSE 16777216 END) ELSE 0 END)
      |      AS BIGINT) AS ahash_lo
      |  FROM bits GROUP BY doc_id, m)
      |SELECT CAST(min(doc_id) AS BIGINT) AS keep_id, count(*) AS n_dups,
      |       width, height, ahash_hi, ahash_lo
      |FROM h GROUP BY width, height, ahash_hi, ahash_lo
      |ORDER BY keep_id""".stripMargin

  /** [[Extensions.mmCurate]]'s closed form: the three signature
    * families' closed forms ([[mmImagePhash]] band bits, [[mmAudioFp]]
    * window-energy bits, [[mmVideoPhash]] sign pattern) computed per
    * modality branch, unioned, grouped, rolled up. Every re-export
    * variant — brightness delta, container, volume gain, fps — drops
    * out of its family's invariant, which is the curation premise. */
  val mmCurate: String =
    """WITH img AS (
      |  SELECT doc_id, doc_id % 60 AS m FROM documents WHERE doc_id % 3 = 0),
      |img_v AS (
      |  SELECT i.doc_id, i.m, b.band, (i.m * 7 + b.band * 13 + 5) % 200 AS val
      |  FROM img i, (SELECT unnest(generate_series(0, 7)) AS band) b),
      |img_bits AS (
      |  SELECT doc_id, m, band,
      |         CASE WHEN val * 8 > sum(val) OVER (PARTITION BY doc_id)
      |              THEN 1 ELSE 0 END AS bit
      |  FROM img_v),
      |img_sig AS (
      |  SELECT doc_id, CAST(24 + m % 40 AS BIGINT) AS s1,
      |         CAST(16 + (m % 3) * 8 AS BIGINT) AS s2,
      |         CAST(sum(CASE WHEN band >= 4 THEN bit * CAST(255 AS BIGINT) *
      |           (CASE band % 4 WHEN 0 THEN 1 WHEN 1 THEN 256
      |                 WHEN 2 THEN 65536 ELSE 16777216 END) ELSE 0 END)
      |           AS BIGINT) AS s3,
      |         CAST(sum(CASE WHEN band < 4 THEN bit * CAST(255 AS BIGINT) *
      |           (CASE band % 4 WHEN 0 THEN 1 WHEN 1 THEN 256
      |                 WHEN 2 THEN 65536 ELSE 16777216 END) ELSE 0 END)
      |           AS BIGINT) AS s4
      |  FROM img_bits GROUP BY doc_id, m),
      |aud AS (
      |  SELECT doc_id, doc_id % 50 AS m FROM documents WHERE doc_id % 3 = 1),
      |aud_s AS (
      |  SELECT a.doc_id, 8000 + (a.m % 5) * 1000 AS rate, 4 + a.m % 5 AS L,
      |         i.i // (4 + a.m % 5) AS w, ((a.m * 7 + i.i * 13) % 97 - 48) AS v
      |  FROM aud a, (SELECT unnest(generate_series(0, 511)) AS i) i
      |  WHERE i.i < 64 * (4 + a.m % 5)),
      |aud_e AS (
      |  SELECT doc_id, rate, L, w, sum(v * v) AS ew
      |  FROM aud_s GROUP BY doc_id, rate, L, w),
      |aud_t AS (SELECT doc_id, sum(ew) AS et FROM aud_e GROUP BY doc_id),
      |aud_bits AS (
      |  SELECT e.doc_id, e.rate, e.L, e.w,
      |         CASE WHEN 64 * e.ew > t.et THEN 1 ELSE 0 END AS bit
      |  FROM aud_e e JOIN aud_t t ON e.doc_id = t.doc_id),
      |aud_sig AS (
      |  SELECT doc_id, CAST(rate AS BIGINT) AS s1, CAST(64 * L AS BIGINT) AS s2,
      |         CAST(sum(CASE WHEN w >= 32
      |           THEN bit * CAST(pow(2, w - 32) AS BIGINT) ELSE 0 END)
      |           AS BIGINT) AS s3,
      |         CAST(sum(CASE WHEN w < 32
      |           THEN bit * CAST(pow(2, w) AS BIGINT) ELSE 0 END)
      |           AS BIGINT) AS s4
      |  FROM aud_bits GROUP BY doc_id, rate, L),
      |vid AS (
      |  SELECT doc_id, doc_id % 40 AS m FROM documents WHERE doc_id % 3 = 2),
      |vid_f AS (
      |  SELECT v.doc_id, v.m, k.k, (v.m * 7 + 13 * k.k) % 200 AS v1,
      |         (v.m * 11 + 5 * k.k) % 200 AS v2
      |  FROM vid v, (SELECT unnest(generate_series(0, 5)) AS k) k
      |  WHERE k.k < 2 + v.m % 4),
      |vid_sig AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS s1,
      |         CAST((16 + (max(m) % 5) * 8) * 65536
      |              + (16 + (max(m) % 3) * 16) AS BIGINT) AS s2,
      |         CAST(sum(CASE WHEN v2 > v1
      |           THEN (k + 1) * 4294967295 ELSE 0 END) AS BIGINT) AS s3,
      |         CAST(sum(CASE WHEN v1 > v2
      |           THEN (k + 1) * 4294967295 ELSE 0 END) AS BIGINT) AS s4
      |  FROM vid_f GROUP BY doc_id),
      |allsig AS (
      |  SELECT 'image' AS kind, s1, s2, s3, s4 FROM img_sig
      |  UNION ALL SELECT 'audio', s1, s2, s3, s4 FROM aud_sig
      |  UNION ALL SELECT 'video', s1, s2, s3, s4 FROM vid_sig),
      |g AS (
      |  SELECT kind, s1, s2, s3, s4, count(*) AS c
      |  FROM allsig GROUP BY kind, s1, s2, s3, s4)
      |SELECT kind, CAST(sum(c) AS BIGINT) AS n_total,
      |       count(*) AS n_kept, CAST(sum(c - 1) AS BIGINT) AS n_dropped
      |FROM g GROUP BY kind ORDER BY kind""".stripMargin

  /** [[Extensions.mmVideoPhash]]'s closed form. Grid rows align with
    * the half boundary (h ∈ 16ℤ), so each frame's aHash is 2³²−1 in
    * the winning half's word and the signature reduces to the sign
    * pattern of v1_k vs v2_k — UNSHIFTED values, the brightness delta
    * and the fps (both from the full doc_id) never appear: that is
    * the point. */
  /** [[Extensions.mmAudioScene]]: the fixture's closed form per window
    * position — voiced iff its L-block index is even, a segment starts
    * at each even block's first window; the detector must decode real
    * WAV bytes to reproduce these counts. */
  val mmAudioScene: String =
    """WITH p AS (SELECT doc_id, 6 + doc_id % 5 AS wn, 1 + doc_id % 3 AS sl
      |           FROM documents),
      |w AS (SELECT doc_id, wn, sl, unnest(range(wn)) AS w FROM p)
      |SELECT doc_id AS media_id, CAST(max(wn) AS BIGINT) AS n_windows,
      |       CAST(sum(CASE WHEN (w // sl) % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_voiced,
      |       CAST(sum(CASE WHEN w % sl = 0 AND (w // sl) % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_segments
      |FROM w GROUP BY doc_id ORDER BY media_id""".stripMargin

  /** [[Extensions.mmVideoScene]]: the fixture's closed form — cuts at
    * every multiple of the scene length L = 2 + id%3 (the aHash flips
    * all 64 bits there, 0 elsewhere), so n_scenes = ceil(n/L) with
    * n = 5 + id%6 frames and the first cut lands exactly at L. The
    * detector must decode real JPEG frames, hash them, window by
    * stream position, and threshold the hamming delta to reproduce
    * these integers. */
  val mmVideoScene: String =
    """SELECT doc_id AS media_id,
      |       CAST(5 + doc_id % 6 AS BIGINT) AS n_frames,
      |       CAST((6 + doc_id % 6 + doc_id % 3) // (2 + doc_id % 3) AS BIGINT) AS n_scenes,
      |       CAST(2 + doc_id % 3 AS BIGINT) AS first_cut
      |FROM documents ORDER BY media_id""".stripMargin

  val mmVideoPhash: String =
    """WITH sig AS (
      |  SELECT doc_id, doc_id % 110 AS m FROM documents),
      |f AS (
      |  SELECT s.doc_id, s.m, k.k,
      |         (s.m * 7 + 13 * k.k) % 200 AS v1,
      |         (s.m * 11 + 5 * k.k) % 200 AS v2
      |  FROM sig s, (SELECT unnest(generate_series(0, 5)) AS k) k
      |  WHERE k.k < 2 + s.m % 4),
      |g AS (
      |  SELECT doc_id, count(*) AS n_frames,
      |         CAST(16 + (max(m) % 5) * 8 AS INT) AS width,
      |         CAST(16 + (max(m) % 3) * 16 AS INT) AS height,
      |         CAST(sum(CASE WHEN v2 > v1
      |           THEN (k + 1) * 4294967295 ELSE 0 END) AS BIGINT) AS sig_hi,
      |         CAST(sum(CASE WHEN v1 > v2
      |           THEN (k + 1) * 4294967295 ELSE 0 END) AS BIGINT) AS sig_lo
      |  FROM f GROUP BY doc_id)
      |SELECT CAST(min(doc_id) AS BIGINT) AS keep_id, count(*) AS n_dups,
      |       n_frames, width, height, sig_hi, sig_lo
      |FROM g GROUP BY n_frames, width, height, sig_hi, sig_lo
      |ORDER BY keep_id""".stripMargin

  /** [[Extensions.mmAudioFp]]'s closed form. Windows align with whole
    * samples (n = 64·L), every window is L samples, and the envelope
    * is gain-invariant, so the gain term drops out entirely: bit_w =
    * 64·e_w > E with e_w the UNSCALED window energy. Gain (doc_id mod
    * 3) never appears — that is the point. pow(2, w) is exact in a
    * double for w ≤ 52, so the BIGINT cast is safe. */
  val mmAudioFp: String =
    """WITH sig AS (
      |  SELECT doc_id, doc_id % 75 AS m FROM documents),
      |p AS (
      |  SELECT doc_id, m, 8000 + (m % 5) * 1000 AS rate,
      |         4 + m % 5 AS L FROM sig),
      |s AS (
      |  SELECT p.doc_id, p.rate, p.L, i.i // p.L AS w,
      |         ((p.m * 7 + i.i * 13) % 97 - 48) AS v
      |  FROM p, (SELECT unnest(generate_series(0, 575)) AS i) i
      |  WHERE i.i < 64 * p.L),
      |e AS (
      |  SELECT doc_id, rate, L, w, sum(v * v) AS ew
      |  FROM s GROUP BY doc_id, rate, L, w),
      |tot AS (
      |  SELECT doc_id, sum(ew) AS et FROM e GROUP BY doc_id),
      |bits AS (
      |  SELECT e.doc_id, e.rate, e.L, e.w,
      |         CASE WHEN 64 * e.ew > t.et THEN 1 ELSE 0 END AS bit
      |  FROM e JOIN tot t ON e.doc_id = t.doc_id),
      |h AS (
      |  SELECT doc_id, CAST(rate AS INT) AS sample_rate_hz,
      |         CAST(64 * L AS INT) AS n_samples,
      |         CAST(sum(CASE WHEN w >= 32
      |           THEN bit * CAST(pow(2, w - 32) AS BIGINT) ELSE 0 END)
      |           AS BIGINT) AS fp_hi,
      |         CAST(sum(CASE WHEN w < 32
      |           THEN bit * CAST(pow(2, w) AS BIGINT) ELSE 0 END)
      |           AS BIGINT) AS fp_lo
      |  FROM bits GROUP BY doc_id, rate, L)
      |SELECT CAST(min(doc_id) AS BIGINT) AS keep_id, count(*) AS n_dups,
      |       sample_rate_hz, n_samples, fp_hi, fp_lo
      |FROM h GROUP BY sample_rate_hz, n_samples, fp_hi, fp_lo
      |ORDER BY keep_id""".stripMargin

  /** [[Extensions.mmAudioDedup]]'s closed form: the mm_pcm sample
    * arithmetic on the mod-90 content id, grouped by the four-integer
    * signature with min-id-keeps — the tagged and untagged container
    * variants must land on identical decoded signatures. */
  val mmAudioDedup: String =
    """WITH sig AS (
      |  SELECT d.doc_id,
      |         CAST(8000 + (d.doc_id % 90) % 40000 AS BIGINT) AS sample_rate_hz,
      |         CAST(100 + (d.doc_id % 90) % 157 AS BIGINT) AS n_samples,
      |         CAST(sum(((d.doc_id % 90) * 31 + g.i * 17) % 65536 - 32768) AS BIGINT) AS sum_samples,
      |         CAST(sum((g.i + 1) * (((d.doc_id % 90) * 31 + g.i * 17) % 65536 - 32768)) AS BIGINT) AS wsum_samples
      |  FROM documents d JOIN generate_series(0, 255) AS g(i)
      |    ON g.i < 100 + (d.doc_id % 90) % 157
      |  GROUP BY d.doc_id)
      |SELECT CAST(min(doc_id) AS BIGINT) AS keep_id, count(*) AS n_dups,
      |       sample_rate_hz, n_samples, sum_samples, wsum_samples
      |FROM sig
      |GROUP BY sample_rate_hz, n_samples, sum_samples, wsum_samples
      |ORDER BY keep_id""".stripMargin

  /** [[Extensions.mmVideoDedup]]'s closed form: per-doc pixel
    * signatures from the mod-120 content synthesis, grouped and rolled
    * up with min-id-keeps — all integer-exact, so the engine's decoded
    * signature has to land on these bits from real JPEG pixels. */
  val mmVideoDedup: String =
    """WITH f AS (
      |  SELECT d.doc_id, d.doc_id % 120 AS m, g.k
      |  FROM documents d JOIN generate_series(0, 4) AS g(k)
      |    ON g.k < 2 + (d.doc_id % 120) % 4),
      |e AS (
      |  SELECT doc_id, k,
      |    16 + (m % 5) * 8 AS w, 16 + (m % 3) * 16 AS h,
      |    (m * 7 + 13 * k) % 256 AS v1, (m * 11 + 5 * k) % 256 AS v2
      |  FROM f),
      |p AS (
      |  SELECT doc_id, k, w, h,
      |    w * (h // 2) * (v1 + v2) AS sum_k,
      |    w * (v1 * ((h // 2) * (h // 2 + 1) // 2)
      |       + v2 * (h * (h + 1) // 2 - (h // 2) * (h // 2 + 1) // 2)) AS wsum_k
      |  FROM e),
      |sig AS (
      |  SELECT doc_id, count(*) AS n_frames, max(w) AS width, max(h) AS height,
      |    CAST(sum(sum_k) AS BIGINT) AS sig_sum,
      |    CAST(sum((k + 1) * sum_k) AS BIGINT) AS sig_osum,
      |    CAST(sum(wsum_k) AS BIGINT) AS sig_wsum
      |  FROM p GROUP BY doc_id)
      |SELECT CAST(min(doc_id) AS BIGINT) AS keep_id, count(*) AS n_dups,
      |       n_frames, CAST(width AS INT) AS width, CAST(height AS INT) AS height,
      |       sig_sum, sig_osum, sig_wsum
      |FROM sig GROUP BY n_frames, width, height, sig_sum, sig_osum, sig_wsum
      |ORDER BY keep_id""".stripMargin

  /** [[Extensions.mmCensus]]'s closed form: per-kind synthesized
    * fields, the same modality gates, the same exact-integer rollup. */
  val mmCensus: String =
    """WITH m AS (
      |  SELECT doc_id,
      |    CASE doc_id % 5 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
      |                    WHEN 2 THEN 'wav' WHEN 3 THEN 'mp4' ELSE 'avi' END AS kind,
      |    CASE WHEN doc_id % 5 IN (0, 1, 3, 4) THEN 320 + doc_id % 1601 ELSE 0 END AS w,
      |    CASE WHEN doc_id % 5 IN (0, 1, 3, 4) THEN 240 + doc_id % 1081 ELSE 0 END AS h,
      |    CASE WHEN doc_id % 5 = 2 THEN 8000 + doc_id % 40000
      |         WHEN doc_id % 5 IN (3, 4) THEN 24 + doc_id % 7 ELSE 0 END AS rate,
      |    CASE WHEN doc_id % 5 = 3 THEN 30 + doc_id % 86400
      |         WHEN doc_id % 5 IN (0, 1) THEN 1 ELSE 0 END AS frames
      |  FROM documents),
      |g AS (
      |  SELECT kind, w, h, rate, frames,
      |    CASE WHEN kind IN ('png', 'jpeg') AND w >= 480 AND h >= 360 THEN 1
      |         WHEN kind = 'wav' AND rate BETWEEN 16000 AND 44100 THEN 1
      |         WHEN kind = 'mp4' AND frames >= 3000 THEN 1
      |         WHEN kind = 'avi' AND rate >= 27 AND w >= 480 THEN 1 ELSE 0 END AS pass
      |  FROM m)
      |SELECT kind, count(*) AS n_media, CAST(sum(pass) AS BIGINT) AS n_pass,
      |       CAST(sum(w) AS BIGINT) AS sum_w, CAST(sum(h) AS BIGINT) AS sum_h,
      |       CAST(sum(rate) AS BIGINT) AS sum_rate,
      |       CAST(sum(frames) AS BIGINT) AS sum_frames
      |FROM g GROUP BY kind ORDER BY kind""".stripMargin

  /** The PCM fixture's closed form, re-summed per sample index (a
    * constant 0..255 series filtered to each row's n — DuckDB's
    * generate_series takes no lateral column args) — [[Extensions
    * .mmPcm]]'s decoder has to recover the identical integers from the
    * actual WAV data chunk. */
  val mmPcm: String =
    """SELECT d.doc_id AS media_id,
      |       CAST(8000 + d.doc_id % 40000 AS BIGINT) AS sample_rate_hz,
      |       CAST(100 + d.doc_id % 157 AS BIGINT) AS n_samples,
      |       CAST(sum((d.doc_id * 31 + g.i * 17) % 65536 - 32768) AS BIGINT) AS sum_samples,
      |       CAST(sum((g.i + 1) * ((d.doc_id * 31 + g.i * 17) % 65536 - 32768)) AS BIGINT) AS wsum_samples
      |FROM documents d JOIN generate_series(0, 255) AS g(i)
      |  ON g.i < 100 + d.doc_id % 157
      |GROUP BY d.doc_id
      |ORDER BY media_id""".stripMargin

  /** The UNSALTED join over [[Extensions.skewJoin]]'s synthesized hot
    * key: the salted plan must be answer-identical. */
  val skewJoin: String =
    """WITH f AS (
      |  SELECT CASE WHEN l_orderkey % 10 < 7 THEN 0 ELSE l_orderkey % 25 END AS k,
      |         CAST(l_quantity AS BIGINT) AS q
      |  FROM lineitem)
      |SELECT n.n_name, count(*) AS n_items, CAST(sum(f.q) AS BIGINT) AS sum_qty
      |FROM f JOIN nation n ON f.k = n.n_nationkey
      |GROUP BY n.n_name ORDER BY n.n_name""".stripMargin

  /** The plain (layout-agnostic) join over [[Extensions.bucketedJoin]]'s
    * tables: bucketed storage must be answer-invariant. */
  val bucketedJoin: String =
    """SELECT o.o_orderkey, count(*) AS n_items,
      |       CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
      |FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      |GROUP BY o.o_orderkey ORDER BY o.o_orderkey""".stripMargin

  /** [[Extensions.textLmTrigram]]: the full held-out chain — split
    * CASE from the shared hex thresholds, kernel tokenization, the
    * whole-doc-when-short shingle rule in every count table (a ≤2-token
    * entry can't collide with a 3-token gram, but mirroring the kernel
    * keeps the tables bit-equal), train-slice uni/bi/trigram counts,
    * per-position LEFT JOINs, and the same integer Stupid-Backoff CASE
    * (10⁶ / 4·10⁵ / 16·10⁴ scales, `//` ≡ DIV on non-negative
    * operands). */
  val textLmTrigram: String = {
    val spec = Extensions.corpusSplitSpec
    val ths = graft.operators.CorpusSplit.hexThresholds(spec)
    val whens = spec.init.zip(ths.init).map { case ((name, _), cut) =>
      s"WHEN substr(md5(text), 1, 8) < '$cut' THEN '$name'"
    }.mkString(" ")
    val kws = graft.functions.SketchUtil.WsClassRegex
    s"""WITH d AS MATERIALIZED (
       |  SELECT doc_id, CASE $whens ELSE '${spec.last._1}' END AS split,
       |         list_filter(regexp_split_to_array(lower(text), '$kws'), t -> t <> '') AS tk
       |  FROM documents),
       |trn AS MATERIALIZED (SELECT tk FROM d WHERE split = 'train'),
       |u1 AS (SELECT CASE WHEN len(tk) < 1 THEN [coalesce(array_to_string(tk, ' '), '')]
       |                   ELSE tk END AS l FROM trn),
       |u2 AS (SELECT CASE WHEN len(tk) < 2 THEN [coalesce(array_to_string(tk, ' '), '')]
       |                   ELSE [array_to_string(tk[i:i+1], ' ') for i in range(1, len(tk))] END AS l FROM trn),
       |u3 AS (SELECT CASE WHEN len(tk) < 3 THEN [coalesce(array_to_string(tk, ' '), '')]
       |                   ELSE [array_to_string(tk[i:i+2], ' ') for i in range(1, len(tk) - 1)] END AS l FROM trn),
       |c1 AS MATERIALIZED (SELECT w, count(*) AS c1 FROM (SELECT unnest(l) AS w FROM u1) GROUP BY w),
       |c2 AS MATERIALIZED (SELECT g2, count(*) AS c2 FROM (SELECT unnest(l) AS g2 FROM u2) GROUP BY g2),
       |c3 AS MATERIALIZED (SELECT g3, count(*) AS c3 FROM (SELECT unnest(l) AS g3 FROM u3) GROUP BY g3),
       |tot AS (SELECT sum(c1) AS t FROM c1),
       |sc AS (SELECT doc_id, tk FROM d WHERE split IN ('val', 'test') AND len(tk) >= 3),
       |pos AS (
       |  SELECT doc_id, array_to_string(tk[i:i+2], ' ') AS g3,
       |         array_to_string(tk[i:i+1], ' ') AS g2,
       |         array_to_string(tk[i+1:i+2], ' ') AS bc,
       |         tk[i+1] AS b, tk[i+2] AS c
       |  FROM sc, unnest(range(1, len(tk) - 1)) u(i)),
       |p AS (
       |  SELECT pos.doc_id,
       |         CASE WHEN c3.c3 IS NOT NULL THEN (1000000 * c3.c3) // cab.c2
       |              WHEN cbc.c2 IS NOT NULL THEN (400000 * cbc.c2) // cb.c1
       |              WHEN cc.c1 IS NOT NULL THEN (160000 * cc.c1) // (SELECT t FROM tot)
       |              ELSE 0 END AS p
       |  FROM pos
       |  LEFT JOIN c3 ON pos.g3 = c3.g3
       |  LEFT JOIN c2 cab ON pos.g2 = cab.g2
       |  LEFT JOIN c2 cbc ON pos.bc = cbc.g2
       |  LEFT JOIN c1 cb ON pos.b = cb.w
       |  LEFT JOIN c1 cc ON pos.c = cc.w)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
       |       CAST(sum(p) // count(*) AS BIGINT) AS lm3_score_ppm
       |FROM p GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** [[Extensions.textLmBigram]]: the shingle kernel's tokens (lower,
    * kernel whitespace class, empties dropped), bigrams only for docs
    * with ≥ 2 tokens, corpus unigram/bigram counts, then the identical
    * integer chain — `//` floors where Spark's DIV truncates, equal on
    * the non-negative operands both sides produce. */
  val textLmBigram: String = {
    val kws = graft.functions.SketchUtil.WsClassRegex
    s"""WITH d AS (SELECT doc_id,
       |             list_filter(regexp_split_to_array(lower(text), '$kws'),
       |                         t -> t <> '') AS tk
       |           FROM documents),
       |b AS (SELECT doc_id,
       |        unnest([array_to_string(tk[i:i+1], ' ') for i in range(1, len(tk))]) AS gram
       |      FROM d WHERE len(tk) >= 2),
       |u AS (SELECT unnest(tk) AS term FROM d),
       |cu AS (SELECT term, count(*) AS cu FROM u GROUP BY 1),
       |cb AS (SELECT gram, count(*) AS cb FROM b GROUP BY 1),
       |p AS (SELECT b.doc_id, (1000000 * cb.cb) // cu.cu AS p
       |      FROM b JOIN cb USING (gram)
       |             JOIN cu ON cu.term = split_part(b.gram, ' ', 1))
       |SELECT doc_id, count(*) AS n_bigrams,
       |       CAST(sum(p) // count(*) AS BIGINT) AS lm_score_ppm
       |FROM p GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** [[Extensions.graphPagerank]]'s 10 iterations unrolled as chained
    * CTEs (standard SQL forbids aggregation inside a recursive term, so
    * a fixed iteration count unrolls instead) — the same all-integer
    * update rule: base `15e9 // (100·N)`, per-edge `rank // outdeg`,
    * dangling share `Dₖ // N` (zero on this fixture — every domain has
    * out-degree 3 — but the term mirrors the operator's redistribution
    * exactly), damped `85·Σ // 100`. DuckDB's `//` floors and Spark's
    * `DIV` truncates; every operand is non-negative, so they agree. The
    * `15000000000` literal is written long-form: DuckDB would overflow
    * a `15 * 1000000000` INT32 product loudly. Each rₖ is MATERIALIZED:
    * the dangling-mass subquery makes rₖ₋₁ referenced twice per step,
    * and inlining (DuckDB's default for CTEs) would re-evaluate the
    * whole chain 2ᵏ times. */
  val graphPagerank: String = {
    val iters = (1 to 10).map { i =>
      s"""r$i AS MATERIALIZED (
         |  SELECT n.node,
         |         15000000000 // (100 * (SELECT count(*) FROM nodes))
         |           + (85 * (coalesce(c.s, 0)
         |                    + (SELECT coalesce(sum(d.rank_e9), 0) FROM r${i - 1} d
         |                       WHERE d.node NOT IN (SELECT src FROM deg))
         |                      // (SELECT count(*) FROM nodes))) // 100 AS rank_e9
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS node, sum(r.rank_e9 // e.outdeg) AS s
         |    FROM edges e JOIN r${i - 1} r ON e.src = r.node
         |    GROUP BY 1) c USING (node))""".stripMargin
    }.mkString(",\n")
    s"""WITH nodes AS (SELECT DISTINCT doc_id % 100 AS node FROM documents),
       |raw AS (SELECT DISTINCT doc_id % 100 AS src,
       |               ((doc_id % 100) * (doc_id % 100) + k) % 100 AS dst
       |        FROM documents, (VALUES (1), (2), (3)) t(k)),
       |deg AS (SELECT src, count(*) AS outdeg FROM raw GROUP BY 1),
       |edges AS (SELECT r.src, r.dst, d.outdeg FROM raw r JOIN deg d USING (src)),
       |r0 AS (SELECT node, 1000000000 // (SELECT count(*) FROM nodes) AS rank_e9
       |       FROM nodes),
       |$iters
       |SELECT node, CAST(rank_e9 AS BIGINT) AS rank_e9 FROM r10 ORDER BY node""".stripMargin
  }

  /** [[Extensions.graphPpr]]: the same 10 unrolled iterations with the
    * base, init, and dangling terms gated on seed membership
    * (`node % 10 = 0`) and divided by |seeds| instead of |nodes| —
    * every operand non-negative, so DuckDB's flooring `//` equals the
    * engine's truncating `DIV`. (The fixture has out-degree 3
    * everywhere, so the dangling subquery is identically zero — kept
    * for rule faithfulness; the seed-restricted dangling return is
    * exercised closed-form in GraphSpec.) */
  val graphPpr: String = {
    val iters = (1 to 10).map { i =>
      s"""r$i AS MATERIALIZED (
         |  SELECT n.node,
         |         (CASE WHEN n.node % 10 = 0
         |               THEN 15000000000 // (100 * (SELECT count(*) FROM seeds)) ELSE 0 END)
         |           + (85 * (coalesce(c.s, 0)
         |                    + CASE WHEN n.node % 10 = 0
         |                           THEN (SELECT coalesce(sum(d.rank_e9), 0) FROM r${i - 1} d
         |                                 WHERE d.node NOT IN (SELECT src FROM deg))
         |                                // (SELECT count(*) FROM seeds)
         |                           ELSE 0 END)) // 100 AS rank_e9
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS node, sum(r.rank_e9 // e.outdeg) AS s
         |    FROM edges e JOIN r${i - 1} r ON e.src = r.node
         |    GROUP BY 1) c USING (node))""".stripMargin
    }.mkString(",\n")
    s"""WITH nodes AS (SELECT DISTINCT doc_id % 100 AS node FROM documents),
       |seeds AS (SELECT node FROM nodes WHERE node % 10 = 0),
       |raw AS (SELECT DISTINCT doc_id % 100 AS src,
       |               ((doc_id % 100) * (doc_id % 100) + k) % 100 AS dst
       |        FROM documents, (VALUES (1), (2), (3)) t(k)),
       |deg AS (SELECT src, count(*) AS outdeg FROM raw GROUP BY 1),
       |edges AS (SELECT r.src, r.dst, d.outdeg FROM raw r JOIN deg d USING (src)),
       |r0 AS (SELECT node, CASE WHEN node % 10 = 0
       |                         THEN 1000000000 // (SELECT count(*) FROM seeds)
       |                         ELSE 0 END AS rank_e9
       |       FROM nodes),
       |$iters
       |SELECT node, CAST(rank_e9 AS BIGINT) AS rank_e9 FROM r10 ORDER BY node""".stripMargin
  }

  /** [[Extensions.graphPagerankWeighted]]: the unrolled iterations with
    * the weighted contribution `rank·w // W(src)` and deg = Σ out-
    * weights. Same non-negative-operand argument: DuckDB's flooring
    * `//` equals Spark's truncating `DIV`. */
  val graphPagerankWeighted: String = {
    val iters = (1 to 10).map { i =>
      s"""r$i AS MATERIALIZED (
         |  SELECT n.node,
         |         15000000000 // (100 * (SELECT count(*) FROM nodes))
         |           + (85 * (coalesce(c.s, 0)
         |                    + (SELECT coalesce(sum(d.rank_e9), 0) FROM r${i - 1} d
         |                       WHERE d.node NOT IN (SELECT src FROM deg))
         |                      // (SELECT count(*) FROM nodes))) // 100 AS rank_e9
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS node, sum(r.rank_e9 * e.w // e.outdeg) AS s
         |    FROM edges e JOIN r${i - 1} r ON e.src = r.node
         |    GROUP BY 1) c USING (node))""".stripMargin
    }.mkString(",\n")
    s"""WITH nodes AS (SELECT DISTINCT doc_id % 100 AS node FROM documents),
       |raw AS (SELECT src, dst, dst % 3 + 1 AS w FROM (
       |          SELECT DISTINCT doc_id % 100 AS src,
       |                 ((doc_id % 100) * (doc_id % 100) + k) % 100 AS dst
       |          FROM documents, (VALUES (1), (2), (3)) t(k))),
       |deg AS (SELECT src, sum(w) AS outdeg FROM raw GROUP BY 1),
       |edges AS (SELECT r.src, r.dst, r.w, d.outdeg FROM raw r JOIN deg d USING (src)),
       |r0 AS (SELECT node, 1000000000 // (SELECT count(*) FROM nodes) AS rank_e9
       |       FROM nodes),
       |$iters
       |SELECT node, CAST(rank_e9 AS BIGINT) AS rank_e9 FROM r10 ORDER BY node""".stripMargin
  }

  /** Shared CTE prefix for the `graph_*_volume` oracles: the full
    * doc_id domain with the 10-way quadratic-residue edge spread
    * `(d² + k) mod N` — same synthesis as
    * [[Extensions.volumeGraph]]. */
  private val volumeEdgeCtes: String =
    """nodes AS (SELECT doc_id AS node FROM documents),
      |raw AS (SELECT doc_id AS src,
      |               (doc_id * doc_id + k) % (SELECT count(*) FROM documents) AS dst
      |        FROM documents,
      |             (VALUES (1), (2), (3), (4), (5), (6), (7), (8), (9), (10)) t(k))""".stripMargin

  /** [[Extensions.graphPagerankVolume]]: [[graphPagerank]]'s unrolled
    * integer iterations verbatim, over the volume edge synthesis. */
  val graphPagerankVolume: String = {
    val iters = (1 to 10).map { i =>
      s"""r$i AS MATERIALIZED (
         |  SELECT n.node,
         |         15000000000 // (100 * (SELECT count(*) FROM nodes))
         |           + (85 * (coalesce(c.s, 0)
         |                    + (SELECT coalesce(sum(d.rank_e9), 0) FROM r${i - 1} d
         |                       WHERE d.node NOT IN (SELECT src FROM deg))
         |                      // (SELECT count(*) FROM nodes))) // 100 AS rank_e9
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS node, sum(r.rank_e9 // e.outdeg) AS s
         |    FROM edges e JOIN r${i - 1} r ON e.src = r.node
         |    GROUP BY 1) c USING (node))""".stripMargin
    }.mkString(",\n")
    s"""WITH $volumeEdgeCtes,
       |deg AS (SELECT src, count(*) AS outdeg FROM raw GROUP BY 1),
       |edges AS (SELECT r.src, r.dst, d.outdeg FROM raw r JOIN deg d USING (src)),
       |r0 AS (SELECT node, 1000000000 // (SELECT count(*) FROM nodes) AS rank_e9
       |       FROM nodes),
       |$iters
       |SELECT node, CAST(rank_e9 AS BIGINT) AS rank_e9 FROM r10 ORDER BY node""".stripMargin
  }

  /** Shared HITS unroll: per step the mutual-update CTE quartet
    * (in-sum → L∞-normalize → out-sum → L∞-normalize), HUGEINT
    * products mirroring the engine's DECIMAL(38,0), `//` ≡ DIV on
    * these non-negative scores. */
  private def hitsIterCtes(iters: Int): String =
    (1 to iters).map { i =>
      s"""ar$i AS MATERIALIZED (
         |  SELECT e.dst AS node, sum(h.h) AS s
         |  FROM edges e JOIN h${i - 1} h ON e.src = h.node GROUP BY 1),
         |a$i AS MATERIALIZED (
         |  SELECT n.node,
         |         CAST(coalesce((CAST(r.s AS HUGEINT) * 1000000)
         |                         // (SELECT max(s) FROM ar$i), 0) AS BIGINT) AS a
         |  FROM nodes n LEFT JOIN ar$i r USING (node)),
         |hr$i AS MATERIALIZED (
         |  SELECT e.src AS node, sum(a.a) AS s
         |  FROM edges e JOIN a$i a ON e.dst = a.node GROUP BY 1),
         |h$i AS MATERIALIZED (
         |  SELECT n.node,
         |         CAST(coalesce((CAST(r.s AS HUGEINT) * 1000000)
         |                         // (SELECT max(s) FROM hr$i), 0) AS BIGINT) AS h
         |  FROM nodes n LEFT JOIN hr$i r USING (node))""".stripMargin
    }.mkString(",\n")

  /** [[Extensions.graphHits]]: 8 unrolled mutual updates over the
    * quadratic-residue fixture; the edge list keeps the engine's
    * induced-subgraph restriction (a dst residue absent from the node
    * set would otherwise join the normalizing max). */
  val graphHits: String = {
    s"""WITH nodes AS (SELECT DISTINCT doc_id % 100 AS node FROM documents),
       |edges AS MATERIALIZED (
       |  SELECT DISTINCT doc_id % 100 AS src,
       |         ((doc_id % 100) * (doc_id % 100) + k) % 100 AS dst
       |  FROM documents, (VALUES (1), (2), (3)) t(k)
       |  WHERE ((doc_id % 100) * (doc_id % 100) + k) % 100
       |          IN (SELECT DISTINCT doc_id % 100 FROM documents)),
       |h0 AS (SELECT node, 1000000 AS h FROM nodes),
       |${hitsIterCtes(8)}
       |SELECT h8.node, CAST(h8.h AS BIGINT) AS hub_ppm,
       |       CAST(a8.a AS BIGINT) AS auth_ppm
       |FROM h8 JOIN a8 USING (node) ORDER BY node""".stripMargin
  }

  /** [[Extensions.graphHitsVolume]]: the same 8 unrolled mutual
    * updates over the volume edge synthesis (the dense 0..N−1 domain
    * needs no induced restriction — every dst is a node). */
  val graphHitsVolume: String = {
    s"""WITH nodes AS (SELECT doc_id AS node FROM documents),
       |edges AS MATERIALIZED (
       |  SELECT doc_id AS src,
       |         (doc_id * doc_id + k) % (SELECT count(*) FROM documents) AS dst
       |  FROM documents,
       |       (VALUES (1), (2), (3), (4), (5), (6), (7), (8), (9), (10)) t(k)),
       |h0 AS (SELECT node, 1000000 AS h FROM nodes),
       |${hitsIterCtes(8)}
       |SELECT h8.node, CAST(h8.h AS BIGINT) AS hub_ppm,
       |       CAST(a8.a AS BIGINT) AS auth_ppm
       |FROM h8 JOIN a8 USING (node) ORDER BY node""".stripMargin
  }

  /** [[Extensions.graphPprVolume]]: [[graphPpr]]'s unrolled seed-gated
    * iterations with the `% 997` seed conditional, over the volume
    * edge synthesis. */
  val graphPprVolume: String = {
    val iters = (1 to 10).map { i =>
      s"""r$i AS MATERIALIZED (
         |  SELECT n.node,
         |         (CASE WHEN n.node % 997 = 0
         |               THEN 15000000000 // (100 * (SELECT count(*) FROM seeds)) ELSE 0 END)
         |           + (85 * (coalesce(c.s, 0)
         |                    + CASE WHEN n.node % 997 = 0
         |                           THEN (SELECT coalesce(sum(d.rank_e9), 0) FROM r${i - 1} d
         |                                 WHERE d.node NOT IN (SELECT src FROM deg))
         |                                // (SELECT count(*) FROM seeds)
         |                           ELSE 0 END)) // 100 AS rank_e9
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS node, sum(r.rank_e9 // e.outdeg) AS s
         |    FROM edges e JOIN r${i - 1} r ON e.src = r.node
         |    GROUP BY 1) c USING (node))""".stripMargin
    }.mkString(",\n")
    s"""WITH $volumeEdgeCtes,
       |seeds AS (SELECT node FROM nodes WHERE node % 997 = 0),
       |deg AS (SELECT src, count(*) AS outdeg FROM raw GROUP BY 1),
       |edges AS (SELECT r.src, r.dst, d.outdeg FROM raw r JOIN deg d USING (src)),
       |r0 AS (SELECT node, CASE WHEN node % 997 = 0
       |                         THEN 1000000000 // (SELECT count(*) FROM seeds)
       |                         ELSE 0 END AS rank_e9
       |       FROM nodes),
       |$iters
       |SELECT node, CAST(rank_e9 AS BIGINT) AS rank_e9 FROM r10 ORDER BY node""".stripMargin
  }

  /** [[Extensions.graphPagerankWeightedVolume]]:
    * [[graphPagerankWeighted]]'s unrolled weighted iterations
    * (`rank·w // W(src)`, deg = Σ out-weights) with the volume
    * fixture's `dst % 5 + 1` weights. */
  val graphPagerankWeightedVolume: String = {
    val iters = (1 to 10).map { i =>
      s"""r$i AS MATERIALIZED (
         |  SELECT n.node,
         |         15000000000 // (100 * (SELECT count(*) FROM nodes))
         |           + (85 * (coalesce(c.s, 0)
         |                    + (SELECT coalesce(sum(d.rank_e9), 0) FROM r${i - 1} d
         |                       WHERE d.node NOT IN (SELECT src FROM deg))
         |                      // (SELECT count(*) FROM nodes))) // 100 AS rank_e9
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS node, sum(r.rank_e9 * e.w // e.outdeg) AS s
         |    FROM edges e JOIN r${i - 1} r ON e.src = r.node
         |    GROUP BY 1) c USING (node))""".stripMargin
    }.mkString(",\n")
    s"""WITH $volumeEdgeCtes,
       |wraw AS (SELECT src, dst, dst % 5 + 1 AS w FROM raw),
       |deg AS (SELECT src, sum(w) AS outdeg FROM wraw GROUP BY 1),
       |edges AS (SELECT r.src, r.dst, r.w, d.outdeg FROM wraw r JOIN deg d USING (src)),
       |r0 AS (SELECT node, 1000000000 // (SELECT count(*) FROM nodes) AS rank_e9
       |       FROM nodes),
       |$iters
       |SELECT node, CAST(rank_e9 AS BIGINT) AS rank_e9 FROM r10 ORDER BY node""".stripMargin
  }

  /** [[Extensions.graphCcVolume]]: [[graphCc]]'s 8 unrolled min-label
    * steps over the symmetrized volume edge list. */
  val graphCcVolume: String = {
    val steps = (1 to 8).map { i =>
      s"""l$i AS MATERIALIZED (
         |  SELECT l.node,
         |         least(l.component, coalesce(m.nbr_min, l.component)) AS component
         |  FROM l${i - 1} l LEFT JOIN (
         |    SELECT s.src AS node, min(x.component) AS nbr_min
         |    FROM sym s JOIN l${i - 1} x ON s.dst = x.node
         |    GROUP BY 1) m USING (node))""".stripMargin
    }.mkString(",\n")
    s"""WITH $volumeEdgeCtes,
       |sym AS (SELECT src, dst FROM raw UNION ALL SELECT dst, src FROM raw),
       |l0 AS (SELECT node, node AS component FROM nodes),
       |$steps
       |SELECT node, CAST(component AS BIGINT) AS component FROM l8 ORDER BY node""".stripMargin
  }

  /** [[Extensions.graphSsspVolume]]: 16 unrolled min-merge relaxation
    * steps (the volume fixture has cycles, so the DAG-walk trick
    * behind [[graphSssp]] doesn't apply — the step-unroll mirrors the
    * engine's synchronous Bellman-Ford form instead; min is
    * associative and idempotent, so both engines' step-16 frames are
    * the same fixpoint). Each dₖ is MATERIALIZED — read twice by the
    * next step. */
  val graphSsspVolume: String = {
    val steps = (1 to 16).map { i =>
      s"""d$i AS MATERIALIZED (
         |  SELECT node, min(dist) AS dist FROM (
         |    SELECT node, dist FROM d${i - 1}
         |    UNION ALL
         |    SELECT e.dst AS node, x.dist + e.w AS dist
         |    FROM edges e JOIN d${i - 1} x ON e.src = x.node)
         |  GROUP BY node)""".stripMargin
    }.mkString(",\n")
    s"""WITH $volumeEdgeCtes,
       |edges AS (SELECT src, dst, dst % 5 + 1 AS w FROM raw),
       |d0 AS MATERIALIZED (SELECT node, CAST(0 AS BIGINT) AS dist FROM nodes
       |                    WHERE node % 997 = 0),
       |$steps
       |SELECT node, CAST(dist AS BIGINT) AS dist FROM d16 ORDER BY node""".stripMargin
  }

  /** [[Extensions.corpusDupHist]]: the same planted re-posts, the
    * dedup_exact grouping rolled up once more to the per-multiplicity
    * census. */
  val corpusDupHist: String =
    """WITH u AS (
      |  SELECT text FROM documents
      |  UNION ALL SELECT text FROM documents WHERE doc_id % 7 = 0
      |  UNION ALL SELECT text FROM documents WHERE doc_id % 49 = 0),
      |c AS (SELECT md5(text) AS h, count(*) AS n_copies FROM u GROUP BY 1)
      |SELECT n_copies, CAST(count(*) AS BIGINT) AS n_clusters,
      |       CAST(n_copies * count(*) AS BIGINT) AS n_docs
      |FROM c GROUP BY n_copies ORDER BY n_copies""".stripMargin

  /** [[Extensions.corpusNovelty]]: the split CASE + kernel tokenization
    * (whole-doc-when-short shingles in the TRAIN set, exactly as the
    * count tables mirror the kernel), distinct train trigrams, scored
    * positions LEFT-joined, integer ppm. */
  val corpusNovelty: String = {
    val spec = Extensions.corpusSplitSpec
    val ths = graft.operators.CorpusSplit.hexThresholds(spec)
    val whens = spec.init.zip(ths.init).map { case ((name, _), cut) =>
      s"WHEN substr(md5(text), 1, 8) < '$cut' THEN '$name'"
    }.mkString(" ")
    val kws = graft.functions.SketchUtil.WsClassRegex
    s"""WITH d AS MATERIALIZED (
       |  SELECT doc_id, CASE $whens ELSE '${spec.last._1}' END AS split,
       |         list_filter(regexp_split_to_array(lower(text), '$kws'), t -> t <> '') AS tk
       |  FROM documents),
       |tg AS MATERIALIZED (
       |  SELECT DISTINCT unnest(CASE WHEN len(tk) < 3
       |           THEN [coalesce(array_to_string(tk, ' '), '')]
       |           ELSE [array_to_string(tk[i:i+2], ' ') for i in range(1, len(tk) - 1)] END) AS g
       |  FROM d WHERE split = 'train'),
       |pos AS (
       |  SELECT doc_id, array_to_string(tk[i:i+2], ' ') AS g
       |  FROM d, unnest(range(1, len(tk) - 1)) u(i)
       |  WHERE split IN ('val', 'test') AND len(tk) >= 3),
       |j AS (SELECT pos.doc_id, tg.g AS seen FROM pos LEFT JOIN tg ON pos.g = tg.g)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
       |       CAST(sum(CASE WHEN seen IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unseen,
       |       CAST((1000000 * sum(CASE WHEN seen IS NULL THEN 1 ELSE 0 END)) // count(*) AS BIGINT) AS novelty_ppm
       |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** [[Extensions.graphReciprocity]]: the quadratic edges plus planted
    * reverses, the transpose semi-join as an EXISTS, per-source rollup
    * with the zero-out-degree CASE. */
  val graphReciprocity: String =
    """WITH nodes AS (SELECT DISTINCT doc_id % 100 AS node FROM documents),
      |base AS (SELECT DISTINCT doc_id % 100 AS src,
      |                ((doc_id % 100) * (doc_id % 100) + k) % 100 AS dst
      |         FROM documents, (VALUES (1), (2), (3)) t(k)),
      |edges AS (SELECT src, dst FROM base
      |          UNION
      |          SELECT dst AS src, src AS dst FROM base WHERE src % 3 = 0),
      |r AS (SELECT e.src,
      |             count(*) AS n_out,
      |             sum(CASE WHEN EXISTS (SELECT 1 FROM edges x
      |                                   WHERE x.src = e.dst AND x.dst = e.src)
      |                      THEN 1 ELSE 0 END) AS n_recip
      |      FROM edges e GROUP BY e.src)
      |SELECT n.node, CAST(coalesce(r.n_out, 0) AS BIGINT) AS n_out,
      |       CAST(coalesce(r.n_recip, 0) AS BIGINT) AS n_recip,
      |       CAST(CASE WHEN coalesce(r.n_out, 0) = 0 THEN 0
      |                 ELSE (1000000 * coalesce(r.n_recip, 0)) // r.n_out END AS BIGINT) AS recip_ppm
      |FROM nodes n LEFT JOIN r ON n.node = r.src
      |ORDER BY node""".stripMargin

  /** [[Extensions.graphSssp]]: ground truth by a bounded recursive-CTE
    * walk over the same weighted fixture — enumerate weighted path
    * lengths from the seeds (UNION dedups (node, d) pairs; the fixture
    * is a forward DAG so the walk is finite, the `<= 1000` bound is
    * belt and braces), then the per-node minimum. Independent of the
    * engine's synchronous relaxation, like the SCC closure oracle. */
  val graphSssp: String =
    """WITH RECURSIVE
      |nodes AS (SELECT DISTINCT doc_id % 100 AS node FROM documents),
      |chain AS (SELECT node AS src, node + 1 AS dst FROM nodes
      |          WHERE node % 7 <> 6 AND node < 99),
      |br AS (SELECT node AS src, node + 50 AS dst FROM nodes WHERE node IN (0, 25)),
      |edges AS (SELECT e.src, e.dst, e.dst % 5 + 1 AS w
      |          FROM (SELECT * FROM chain UNION ALL SELECT * FROM br) e
      |          JOIN nodes nd ON e.dst = nd.node),
      |walk(node, d) AS (
      |  SELECT node, CAST(0 AS BIGINT) FROM nodes WHERE node IN (0, 60)
      |  UNION
      |  SELECT e.dst, w.d + e.w FROM walk w JOIN edges e ON e.src = w.node
      |  WHERE w.d + e.w <= 1000)
      |SELECT node, CAST(min(d) AS BIGINT) AS dist
      |FROM walk GROUP BY node ORDER BY node""".stripMargin

  /** [[Extensions.graphScc]]: ground-truth SCCs, computed a COMPLETELY
    * different way than the engine's peel rounds — a recursive-CTE
    * transitive closure over the same synthesized fixture, mutual
    * reachability by self-joining the closure both ways, scc_id = the
    * least mutually-reachable node (own id for trivial SCCs). The
    * engine's label-pairing algorithm converging to the same partition
    * as an independent closure computation is exactly what the gate
    * should certify — no step mirroring, unlike the unrolled-CTE
    * oracles. The `JOIN nodes ON dst` mirrors the operator's
    * induced-subgraph restriction for sparse sf dirs. */
  val graphScc: String =
    """WITH RECURSIVE
      |nodes AS (SELECT DISTINCT doc_id % 100 AS node FROM documents),
      |cyc AS (SELECT node AS src,
      |               CASE WHEN node % 5 = 4 THEN node - 4 ELSE node + 1 END AS dst
      |        FROM nodes),
      |ext AS (SELECT n.node AS src, CAST(v.dst AS BIGINT) AS dst
      |        FROM nodes n
      |        JOIN (VALUES (2, 7), (8, 3), (10, 20), (30, 40), (50, 60), (95, 15))
      |             v(src, dst) ON n.node = v.src),
      |edges AS (SELECT e.src, e.dst
      |          FROM (SELECT * FROM cyc UNION SELECT * FROM ext) e
      |          JOIN nodes nd ON e.dst = nd.node),
      |reach(a, b) AS (
      |  SELECT src, dst FROM edges
      |  UNION
      |  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
      |mutual AS (
      |  SELECT r1.a AS v, r1.b AS u
      |  FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a)
      |SELECT n.node, CAST(least(n.node, coalesce(min(m.u), n.node)) AS BIGINT) AS scc_id
      |FROM nodes n LEFT JOIN mutual m ON m.v = n.node
      |GROUP BY n.node ORDER BY node""".stripMargin

  /** [[Extensions.graphSccVolume]]: true SCCs via independent
    * transitive closure over the same block-ring + in-block-spread +
    * even→odd-bridge synthesis ([[graphScc]]'s closure shape — no step
    * mirroring). Reachability is block-local plus one bridge hop, so
    * the closure stays ~2·block-size rows per node at the verify SF. */
  /** The [[Extensions.blockVolumeGraph]] synthesis as shared CTEs
    * (ids/cnt/blk/ring/spread) for the scc/kcore/lpa volume
    * oracles. */
  private val blockVolumeCtes: String =
    """ids AS (SELECT doc_id AS node FROM documents),
      |cnt AS (SELECT count(*) AS n FROM ids),
      |blk AS (SELECT node, node - (node % 50) AS base,
      |               least(50, (SELECT n FROM cnt) - (node - (node % 50))) AS sz
      |        FROM ids),
      |ring AS (SELECT node AS src, base + ((node - base + 1) % sz) AS dst FROM blk),
      |spread AS (SELECT node AS src,
      |                  base + (((node - base) * (node - base) + k) % sz) AS dst
      |           FROM blk,
      |                (VALUES (1), (2), (3), (4), (5), (6), (7), (8), (9), (10)) t(k))""".stripMargin

  val graphSccVolume: String =
    s"""WITH RECURSIVE
      |$blockVolumeCtes,
      |bridges AS (SELECT node AS src, node + 50 AS dst FROM ids
      |            WHERE node % 100 = 0 AND node + 50 < (SELECT n FROM cnt)),
      |edges AS (SELECT DISTINCT src, dst FROM
      |            (SELECT * FROM ring UNION ALL SELECT * FROM spread
      |             UNION ALL SELECT * FROM bridges)),
      |reach(a, b) AS (
      |  SELECT src, dst FROM edges
      |  UNION
      |  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
      |mutual AS (
      |  SELECT r1.a AS v, r1.b AS u
      |  FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a)
      |SELECT i.node, CAST(least(i.node, coalesce(min(m.u), i.node)) AS BIGINT) AS scc_id
      |FROM ids i LEFT JOIN mutual m ON m.v = i.node
      |GROUP BY i.node ORDER BY node""".stripMargin

  /** [[Extensions.graphCc]]'s 8 min-label steps unrolled as chained
    * CTEs — one step = min over the symmetrized neighborhood, `least`
    * against the node's own label (min is associative and idempotent,
    * so the duplicate edges symmetrization can produce are harmless in
    * both engines). Each lₖ is MATERIALIZED: one step reads lₖ₋₁ twice
    * (own label + neighbor min), and DuckDB's default CTE inlining
    * would re-evaluate the chain 2ᵏ times. */
  val graphCc: String = {
    val steps = (1 to 8).map { i =>
      s"""l$i AS MATERIALIZED (
         |  SELECT l.node,
         |         least(l.component, coalesce(m.nbr_min, l.component)) AS component
         |  FROM l${i - 1} l LEFT JOIN (
         |    SELECT s.src AS node, min(x.component) AS nbr_min
         |    FROM sym s JOIN l${i - 1} x ON s.dst = x.node
         |    GROUP BY 1) m USING (node))""".stripMargin
    }.mkString(",\n")
    s"""WITH nodes AS (SELECT DISTINCT doc_id % 100 AS node FROM documents),
       |raw AS (
       |  SELECT node AS src, node + 1 AS dst FROM nodes
       |  WHERE node % 7 <> 6 AND node < 99
       |  UNION ALL
       |  SELECT node, node + 50 FROM nodes WHERE node IN (0, 25)),
       |edges AS (SELECT r.src, r.dst FROM raw r JOIN nodes n ON r.dst = n.node),
       |sym AS (SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges),
       |l0 AS (SELECT node, node AS component FROM nodes),
       |$steps
       |SELECT node, CAST(component AS BIGINT) AS component FROM l8 ORDER BY node""".stripMargin
  }

  /** [[Extensions.graphHarmonic]]'s 12 BFS steps unrolled: fₖ = the
    * pairs first reached at distance k (candidate expansion minus
    * already-known), pₖ = all pairs known after step k. Both are
    * MATERIALIZED — fₖ reads fₖ₋₁ and pₖ₋₁, pₖ reads pₖ₋₁ and fₖ, so
    * inlining would re-evaluate the chain exponentially. Integer
    * division `//` against Spark's `DIV` on non-negative operands. */
  val graphHarmonic: String = {
    val steps = (1 to 12).map { i =>
      s"""f$i AS MATERIALIZED (
         |  SELECT c.origin, c.node, $i AS dist
         |  FROM (SELECT DISTINCT f.origin, e.dst AS node
         |        FROM f${i - 1} f JOIN edges e ON f.node = e.src) c
         |  WHERE NOT EXISTS (SELECT 1 FROM p${i - 1} p
         |                    WHERE p.origin = c.origin AND p.node = c.node)),
         |p$i AS MATERIALIZED (
         |  SELECT * FROM p${i - 1} UNION ALL SELECT * FROM f$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH nodes AS (SELECT DISTINCT doc_id % 100 AS node FROM documents),
       |raw AS (
       |  SELECT node AS src, node + 1 AS dst FROM nodes
       |  WHERE node % 7 <> 6 AND node < 99
       |  UNION ALL
       |  SELECT node, node + 50 FROM nodes WHERE node IN (0, 25)),
       |edges AS (SELECT DISTINCT r.src, r.dst
       |          FROM raw r JOIN nodes n ON r.dst = n.node),
       |p0 AS MATERIALIZED (SELECT node AS origin, node, 0 AS dist FROM nodes),
       |f0 AS MATERIALIZED (SELECT * FROM p0),
       |$steps
       |SELECT n.node, CAST(coalesce(s.h, 0) AS BIGINT) AS harmonic_e9
       |FROM nodes n LEFT JOIN (
       |  SELECT node, sum(1000000000 // dist) AS h
       |  FROM p12 WHERE dist > 0 GROUP BY 1) s USING (node)
       |ORDER BY node""".stripMargin
  }

  /** [[Extensions.graphTriangles]]: ordered-triple enumeration x<y<z
    * over the canonical (a < b) undirected edge set — three self-joins,
    * each triangle exactly once — then per-vertex counts via a
    * three-way union. */
  val graphTriangles: String =
    """WITH nodes AS (SELECT DISTINCT doc_id % 100 AS node FROM documents),
      |raw AS (
      |  SELECT node AS src, node + 1 AS dst FROM nodes
      |  WHERE node % 7 <> 6 AND node < 99
      |  UNION ALL
      |  SELECT node, node + 2 FROM nodes WHERE node % 7 < 5 AND node < 98),
      |und AS (SELECT DISTINCT least(r.src, r.dst) AS a, greatest(r.src, r.dst) AS b
      |        FROM raw r JOIN nodes n ON r.dst = n.node
      |        WHERE r.src <> r.dst),
      |t AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
      |      FROM und e1
      |      JOIN und e2 ON e2.a = e1.b
      |      JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
      |v AS (SELECT x AS node FROM t
      |      UNION ALL SELECT y FROM t
      |      UNION ALL SELECT z FROM t)
      |SELECT n.node, CAST(coalesce(c.t, 0) AS BIGINT) AS triangles
      |FROM nodes n LEFT JOIN (SELECT node, count(*) AS t FROM v GROUP BY 1) c
      |  USING (node)
      |ORDER BY node""".stripMargin

  /** [[Extensions.graphTrianglesVolume]]: the same ordered-triple
    * enumeration over the block-volume synthesis (block locality keeps
    * each wedge join per-block at the verify SF). */
  val graphTrianglesVolume: String =
    s"""WITH $blockVolumeCtes,
       |nodes AS (SELECT node FROM ids),
       |raw AS (SELECT src, dst FROM ring UNION ALL SELECT src, dst FROM spread),
       |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |        FROM raw WHERE src <> dst),
       |t AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
       |      FROM und e1
       |      JOIN und e2 ON e2.a = e1.b
       |      JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
       |v AS (SELECT x AS node FROM t
       |      UNION ALL SELECT y FROM t
       |      UNION ALL SELECT z FROM t)
       |SELECT n.node, CAST(coalesce(c.t, 0) AS BIGINT) AS triangles
       |FROM nodes n LEFT JOIN (SELECT node, count(*) AS t FROM v GROUP BY 1) c
       |  USING (node)
       |ORDER BY node""".stripMargin

  /** [[Extensions.graphClustering]]: the triangle CTEs plus undirected
    * degree, combined as `(2·t·1e6) // (d·(d−1))`, 0 below degree 2. */
  val graphClustering: String = {
    val base = graphTriangles
    val cut = base.lastIndexOf("SELECT n.node")
    base.substring(0, cut) +
      """,
        |deg AS (SELECT node, count(*) AS d FROM (
        |  SELECT a AS node FROM und UNION ALL SELECT b FROM und) u GROUP BY 1)
        |SELECT n.node,
        |       CAST(CASE WHEN coalesce(deg.d, 0) < 2 THEN 0
        |                 ELSE (2 * coalesce(c.t, 0) * 1000000) // (deg.d * (deg.d - 1))
        |            END AS BIGINT) AS clustering_ppm
        |FROM nodes n
        |LEFT JOIN (SELECT node, count(*) AS t FROM v GROUP BY 1) c USING (node)
        |LEFT JOIN deg USING (node)
        |ORDER BY node""".stripMargin
  }

  /** Shared wedge → anti-join → exact-integer score tail of the two
    * link-prediction oracles ([[Extensions.graphLinkpred]] /
    * [[graft.operators.Graph.linkPredict]]): expects CTEs `und(a, b)`
    * (canonical undirected closure) upstream; `cap` mirrors the
    * operator's declared center-degree guard. */
  private def linkPredictCtes(cap: Long): String =
    s"""deg AS (SELECT node, count(*) AS d FROM (
       |  SELECT a AS node FROM und UNION ALL SELECT b FROM und) u GROUP BY 1),
       |cadj AS (SELECT w, x, deg.d AS dw FROM (
       |    SELECT a AS w, b AS x FROM und UNION ALL SELECT b, a FROM und) j
       |  JOIN deg ON j.w = deg.node WHERE deg.d <= $cap),
       |pairs AS (SELECT l.x AS a, r.x AS b, count(*) AS common,
       |                 sum(1000000 // l.dw) AS ra
       |          FROM cadj l JOIN cadj r ON l.w = r.w AND l.x < r.x
       |          GROUP BY 1, 2),
       |cand AS (SELECT p.a, p.b, p.common, p.ra FROM pairs p
       |         ANTI JOIN und e ON p.a = e.a AND p.b = e.b),
       |scored AS (
       |  SELECT c.a, c.b, CAST(c.common AS BIGINT) AS common,
       |         CAST((c.common * 1000000) // (d1.d + d2.d - c.common)
       |              AS BIGINT) AS jaccard_ppm,
       |         CAST(c.ra AS BIGINT) AS ra_ppm,
       |         CAST(d1.d * d2.d AS BIGINT) AS pref_attach
       |  FROM cand c JOIN deg d1 ON c.a = d1.node
       |              JOIN deg d2 ON c.b = d2.node)""".stripMargin

  /** [[Extensions.graphLinkpred]]: the same canonical closure as
    * [[graphTriangles]], then the shared capped-wedge score tail. */
  val graphLinkpred: String =
    s"""WITH nodes AS (SELECT DISTINCT doc_id % 100 AS node FROM documents),
       |raw AS (
       |  SELECT node AS src, node + 1 AS dst FROM nodes
       |  WHERE node % 7 <> 6 AND node < 99
       |  UNION ALL
       |  SELECT node, node + 2 FROM nodes WHERE node % 7 < 5 AND node < 98),
       |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |        FROM raw WHERE src <> dst),
       |${linkPredictCtes(10L)}
       |SELECT a, b, common, jaccard_ppm, ra_ppm, pref_attach FROM scored
       |ORDER BY jaccard_ppm DESC, common DESC, a, b""".stripMargin

  /** [[Extensions.graphLinkpredVolume]]: the block-volume synthesis
    * plus the planted over-cap star hub, the shared score tail, and
    * the per-node fold at jaccard ≥ 0.15. */
  val graphLinkpredVolume: String =
    s"""WITH $blockVolumeCtes,
       |nodes AS (SELECT node FROM ids),
       |hub AS (SELECT 0 AS src, node AS dst FROM ids
       |        WHERE node % 5 = 0 AND node > 0),
       |raw AS (SELECT src, dst FROM ring UNION ALL SELECT src, dst FROM spread
       |        UNION ALL SELECT src, dst FROM hub),
       |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |        FROM raw WHERE src <> dst),
       |${linkPredictCtes(50L)},
       |pn AS (SELECT node, count(*) AS c FROM (
       |    SELECT a AS node FROM scored WHERE jaccard_ppm >= 150000
       |    UNION ALL
       |    SELECT b FROM scored WHERE jaccard_ppm >= 150000) u GROUP BY 1)
       |SELECT n.node, CAST(coalesce(pn.c, 0) AS BIGINT) AS n_pred
       |FROM nodes n LEFT JOIN pn USING (node)
       |ORDER BY node""".stripMargin

  /** [[Extensions.graphNf]]: the same 12 unrolled BFS steps, cumulative
    * pair counts per horizon via a correlated count over the
    * MATERIALIZED final pair set (12 evaluations of a count over one
    * materialized table). */
  val graphNf: String = {
    val base = graphHarmonic
    // reuse graphHarmonic's CTE chain up to p12, swap the final SELECT
    val cut = base.lastIndexOf("SELECT n.node")
    base.substring(0, cut) +
      """SELECT d.range AS dist,
        |       CAST((SELECT count(*) FROM p12 p
        |             WHERE p.dist > 0 AND p.dist <= d.range) AS BIGINT) AS pairs
        |FROM range(1, 13) d ORDER BY dist""".stripMargin
  }

  /** [[Extensions.graphHarmonicHll]]: exact columns from the same BFS
    * unroll as [[graphHarmonic]]; the sketch-accuracy gate is pinned to
    * 0 — HyperBall drift past its tolerance flips err_gate on the
    * Spark side and fails the hash. */
  val graphHarmonicHll: String =
    graphHarmonic.replace("AS harmonic_e9",
      "AS harmonic_e9, CAST(0 AS BIGINT) AS err_gate")

  /** [[Extensions.graphNfHll]]: exact pair counts from [[graphNf]]'s
    * unroll; err_gate (HyperANF within 10% + 1.0) and mono_gate
    * (ball-mass monotonicity) both pinned to 0. */
  val graphNfHll: String =
    graphNf.replace("AS pairs",
      "AS pairs, CAST(0 AS BIGINT) AS err_gate, CAST(0 AS BIGINT) AS mono_gate")

  /** [[Extensions.cdcApply]]: the row_number formulation of the same
    * last-writer-wins merge — seq is unique per key, so the window
    * argmax and the engine's struct-max agree exactly. */
  val cdcApply: String =
    """WITH log AS (
      |  SELECT o_orderkey % 5000 AS k, o_orderkey AS seq,
      |         CASE WHEN o_orderkey % 11 = 0 THEN 'D' ELSE 'U' END AS op,
      |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders),
      |r AS (SELECT *, row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
      |      FROM log)
      |SELECT k, seq, cents FROM r WHERE rn = 1 AND op <> 'D'
      |ORDER BY k""".stripMargin

  /** [[Extensions.cdcApplyStored]]: [[cdcApply]]'s last-writer-wins
    * SQL restricted to the compacted file groups (`k % 16 < 4` — the
    * bucket filter the stored layout turns into partition pruning). */
  val cdcApplyStored: String =
    """WITH log AS (
      |  SELECT o_orderkey % 5000 AS k, o_orderkey AS seq,
      |         CASE WHEN o_orderkey % 11 = 0 THEN 'D' ELSE 'U' END AS op,
      |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders),
      |r AS (SELECT *, row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
      |      FROM log WHERE k % 16 < 4)
      |SELECT k, seq, cents FROM r WHERE rn = 1 AND op <> 'D'
      |ORDER BY k""".stripMargin

  /** [[Extensions.cdcTimeTravel]]: the same integer midpoint as-of
    * point, then [[cdcApply]]'s last-writer-wins SQL over the
    * `seq ≤ S` prefix of the log — `//` ≡ the engine's truncating
    * division on these non-negative sequence numbers. */
  val cdcTimeTravel: String =
    """WITH log AS (
      |  SELECT o_orderkey % 5000 AS k, o_orderkey AS seq,
      |         CASE WHEN o_orderkey % 11 = 0 THEN 'D' ELSE 'U' END AS op,
      |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders),
      |s AS (SELECT (min(seq) + max(seq)) // 2 AS as_of FROM log),
      |r AS (SELECT l.*, s.as_of,
      |             row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
      |      FROM log l, s WHERE l.seq <= s.as_of)
      |SELECT k, seq, cents, CAST(as_of AS BIGINT) AS as_of_seq
      |FROM r WHERE rn = 1 AND op <> 'D'
      |ORDER BY k""".stripMargin

  /** [[Extensions.graphCoaccess]]: the same dedup → per-bucket top-B
    * cap → oriented self-join → weight count → tail prune. */
  val graphCoaccess: String =
    s"""WITH d AS (SELECT DISTINCT user_id, date_trunc('hour', ts) AS h, event_type
      |           FROM events),
      |m AS (SELECT user_id, h, event_type FROM (
      |        SELECT *, row_number() OVER (PARTITION BY h, event_type
      |                                     ORDER BY user_id) AS rn
      |        FROM d) WHERE rn <= ${Extensions.CoaccessCap})
      |SELECT a.user_id AS ua, b.user_id AS ub, count(*) AS w
      |FROM m a JOIN m b ON a.h = b.h AND a.event_type = b.event_type
      |  AND a.user_id < b.user_id
      |GROUP BY 1, 2 HAVING count(*) >= 2
      |ORDER BY ua, ub""".stripMargin

  /** [[Extensions.graphKcore]]'s 8 h-index steps unrolled: per step,
    * the neighbor-value histogram, a per-node cumulative count ordered
    * value-DESC, and `max(least(c, n_ge))` — the identity
    * H = max_v min(v, #{values ≥ v}). Each cₖ is MATERIALIZED (read by
    * the next step's join; inlining re-evaluates the chain
    * exponentially). Init c₀ = undirected simple degree. */
  /** The unrolled h-index step chain shared by [[graphKcore]] and
    * [[graphKcoreVolume]]: expects CTEs `nodes(node)`,
    * `sym(src, dst)`, `c0(node, c)`. */
  private def hIndexSteps(k: Int): String =
    (1 to k).map { i =>
      s"""c$i AS MATERIALIZED (
         |  SELECT n.node, coalesce(m.h, 0) AS c
         |  FROM nodes n LEFT JOIN (
         |    SELECT nn, max(least(c, n_ge)) AS h FROM (
         |      SELECT nn, c, sum(cnt) OVER (PARTITION BY nn ORDER BY c DESC) AS n_ge
         |      FROM (SELECT s.src AS nn, x.c, count(*) AS cnt
         |            FROM sym s JOIN c${i - 1} x ON s.dst = x.node
         |            GROUP BY 1, 2) q1) q2
         |    GROUP BY 1) m ON m.nn = n.node)""".stripMargin
    }.mkString(",\n")

  val graphKcore: String = {
    val steps = hIndexSteps(8)
    s"""WITH nodes AS (SELECT DISTINCT doc_id % 100 AS node FROM documents),
       |raw AS (
       |  SELECT node AS src, node + 1 AS dst FROM nodes
       |  WHERE node % 7 <> 6 AND node < 99
       |  UNION ALL
       |  SELECT node, node + 2 FROM nodes WHERE node % 7 < 5 AND node < 98
       |  UNION ALL
       |  SELECT a.node, b.node FROM nodes a JOIN nodes b
       |    ON a.node % 20 = 10 AND b.node % 20 = 10 AND a.node < b.node),
       |und AS (SELECT DISTINCT least(r.src, r.dst) AS a, greatest(r.src, r.dst) AS b
       |        FROM raw r JOIN nodes n ON r.dst = n.node
       |        WHERE r.src <> r.dst),
       |sym AS (SELECT a AS src, b AS dst FROM und UNION ALL SELECT b, a FROM und),
       |c0 AS MATERIALIZED (
       |  SELECT n.node, coalesce(d.d, 0) AS c
       |  FROM nodes n LEFT JOIN
       |    (SELECT src AS node, count(*) AS d FROM sym GROUP BY 1) d USING (node)),
       |$steps
       |SELECT node, CAST(c AS BIGINT) AS coreness FROM c8 ORDER BY node""".stripMargin
  }

  /** [[Extensions.graphLpa]]'s 8 synchronous vote steps unrolled: per
    * step the (node, label) vote counts, a per-node max-count window,
    * then `min(label)` among the max-count labels — the deterministic
    * (count DESC, label ASC) argmax. lₖ₋₁ is read twice per step
    * (votes + own-label fallback), so every lₖ is MATERIALIZED. */
  /** The unrolled LPA vote/argmax step chain shared by [[graphLpa]]
    * and [[graphLpaVolume]]: expects CTEs `sym(src, dst)`,
    * `l0(node, label)`. */
  private def lpaSteps(k: Int): String =
    (1 to k).map { i =>
      s"""l$i AS MATERIALIZED (
         |  SELECT l.node, coalesce(m.lab, l.label) AS label
         |  FROM l${i - 1} l LEFT JOIN (
         |    SELECT nn, min(label) AS lab FROM (
         |      SELECT nn, label, cnt, max(cnt) OVER (PARTITION BY nn) AS mx
         |      FROM (SELECT s.src AS nn, x.label, count(*) AS cnt
         |            FROM sym s JOIN l${i - 1} x ON s.dst = x.node
         |            GROUP BY 1, 2) q1) q2
         |    WHERE cnt = mx GROUP BY 1) m ON m.nn = l.node)""".stripMargin
    }.mkString(",\n")

  val graphLpa: String = {
    val steps = lpaSteps(8)
    s"""WITH nodes AS (SELECT DISTINCT doc_id % 100 AS node FROM documents),
       |raw AS (
       |  SELECT node AS src, node + 1 AS dst FROM nodes
       |  WHERE node % 10 < 9 AND node < 99
       |  UNION ALL
       |  SELECT node, node + 2 FROM nodes WHERE node % 10 < 8 AND node < 98
       |  UNION ALL
       |  SELECT node, node + 10 FROM nodes WHERE node % 10 = 5 AND node < 90),
       |und AS (SELECT DISTINCT least(r.src, r.dst) AS a, greatest(r.src, r.dst) AS b
       |        FROM raw r JOIN nodes n ON r.dst = n.node
       |        WHERE r.src <> r.dst),
       |sym AS (SELECT a AS src, b AS dst FROM und UNION ALL SELECT b, a FROM und),
       |l0 AS MATERIALIZED (SELECT node, node AS label FROM nodes),
       |$steps
       |SELECT node, CAST(label AS BIGINT) AS label FROM l8 ORDER BY node""".stripMargin
  }

  /** [[Extensions.graphModularity]]: [[graphLpa]]'s 8 unrolled
    * vote/argmax steps verbatim, then the per-community metrics and
    * the integer modularity rational over the same und/sym closure —
    * HUGEINT sums mirror the engine's DECIMAL(38,0)/BigInt, `//` ≡
    * the guarded-non-negative driver division. */
  val graphModularity: String = {
    val steps = lpaSteps(8)
    s"""WITH nodes AS (SELECT DISTINCT doc_id % 100 AS node FROM documents),
       |raw AS (
       |  SELECT node AS src, node + 1 AS dst FROM nodes
       |  WHERE node % 10 < 9 AND node < 99
       |  UNION ALL
       |  SELECT node, node + 2 FROM nodes WHERE node % 10 < 8 AND node < 98
       |  UNION ALL
       |  SELECT node, node + 10 FROM nodes WHERE node % 10 = 5 AND node < 90),
       |und AS (SELECT DISTINCT least(r.src, r.dst) AS a, greatest(r.src, r.dst) AS b
       |        FROM raw r JOIN nodes n ON r.dst = n.node
       |        WHERE r.src <> r.dst),
       |sym AS (SELECT a AS src, b AS dst FROM und UNION ALL SELECT b, a FROM und),
       |l0 AS MATERIALIZED (SELECT node, node AS label FROM nodes),
       |$steps,
       |deg AS (SELECT src AS node, count(*) AS d FROM sym GROUP BY 1),
       |intra AS (SELECT la.label, count(*) AS e_c
       |          FROM und JOIN l8 la ON und.a = la.node
       |                   JOIN l8 lb ON und.b = lb.node
       |          WHERE la.label = lb.label GROUP BY 1),
       |mm AS (SELECT count(*) AS m FROM und),
       |comm AS (SELECT l.label, count(*) AS n_nodes,
       |                CAST(coalesce(sum(d.d), 0) AS BIGINT) AS degree_sum
       |         FROM l8 l LEFT JOIN deg d USING (node) GROUP BY 1),
       |t AS (SELECT c.label, c.n_nodes,
       |             CAST(coalesce(i.e_c, 0) AS BIGINT) AS intra_edges,
       |             c.degree_sum
       |      FROM comm c LEFT JOIN intra i USING (label)),
       |tot AS (SELECT CAST(sum(intra_edges) AS HUGEINT) * 4 * mm.m
       |               - CAST(sum(CAST(degree_sum AS HUGEINT) * degree_sum) AS HUGEINT) AS num,
       |               mm.m AS m
       |        FROM t, mm GROUP BY mm.m)
       |SELECT CAST(t.label AS BIGINT) AS label,
       |       CAST(t.n_nodes AS BIGINT) AS n_nodes, t.intra_edges, t.degree_sum,
       |       CAST((1000000 * tot.num) // (4 * tot.m * tot.m) AS BIGINT) AS q_ppm
       |FROM t, tot ORDER BY label""".stripMargin
  }

  /** [[Extensions.graphConductance]]: [[graphLpa]]'s 8 unrolled steps
    * verbatim, then the per-community cut/volume aggregates and the
    * min(vol, 2m−vol) rational over the same und/sym closure — each
    * cut edge unnested to both endpoint communities, HUGEINT `//`
    * mirroring the engine's DECIMAL(38,0) DIV on non-negative
    * operands. */
  val graphConductance: String = {
    val steps = lpaSteps(8)
    s"""WITH nodes AS (SELECT DISTINCT doc_id % 100 AS node FROM documents),
       |raw AS (
       |  SELECT node AS src, node + 1 AS dst FROM nodes
       |  WHERE node % 10 < 9 AND node < 99
       |  UNION ALL
       |  SELECT node, node + 2 FROM nodes WHERE node % 10 < 8 AND node < 98
       |  UNION ALL
       |  SELECT node, node + 10 FROM nodes WHERE node % 10 = 5 AND node < 90),
       |und AS (SELECT DISTINCT least(r.src, r.dst) AS a, greatest(r.src, r.dst) AS b
       |        FROM raw r JOIN nodes n ON r.dst = n.node
       |        WHERE r.src <> r.dst),
       |sym AS (SELECT a AS src, b AS dst FROM und UNION ALL SELECT b, a FROM und),
       |l0 AS MATERIALIZED (SELECT node, node AS label FROM nodes),
       |$steps,
       |deg AS (SELECT src AS node, count(*) AS d FROM sym GROUP BY 1),
       |mm AS (SELECT count(*) AS m FROM und),
       |cut AS (SELECT label, count(*) AS cut_edges FROM (
       |          SELECT unnest([la.label, lb.label]) AS label
       |          FROM und JOIN l8 la ON und.a = la.node
       |                   JOIN l8 lb ON und.b = lb.node
       |          WHERE la.label <> lb.label) GROUP BY 1),
       |comm AS (SELECT l.label, count(*) AS n_nodes,
       |                CAST(coalesce(sum(d.d), 0) AS BIGINT) AS degree_sum
       |         FROM l8 l LEFT JOIN deg d USING (node) GROUP BY 1)
       |SELECT CAST(c.label AS BIGINT) AS label, CAST(c.n_nodes AS BIGINT) AS n_nodes,
       |       CAST(coalesce(cut.cut_edges, 0) AS BIGINT) AS cut_edges, c.degree_sum,
       |       CAST((CAST(1000000 AS HUGEINT) * coalesce(cut.cut_edges, 0))
       |            // least(CAST(c.degree_sum AS HUGEINT),
       |                     2 * mm.m - c.degree_sum) AS BIGINT) AS phi_ppm
       |FROM comm c LEFT JOIN cut USING (label), mm ORDER BY label""".stripMargin
  }

  /** [[Extensions.graphKcoreVolume]]: the same 8 unrolled h-index
    * steps over the block-volume synthesis plus the fixed 20-node
    * clique. */
  val graphKcoreVolume: String = {
    val steps = hIndexSteps(8)
    s"""WITH $blockVolumeCtes,
       |nodes AS (SELECT node FROM ids),
       |raw AS (
       |  SELECT src, dst FROM ring
       |  UNION ALL SELECT src, dst FROM spread
       |  UNION ALL
       |  SELECT a.node, b.node FROM ids a JOIN ids b
       |    ON a.node < 20 AND b.node < 20 AND a.node < b.node),
       |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |        FROM raw WHERE src <> dst),
       |sym AS (SELECT a AS src, b AS dst FROM und UNION ALL SELECT b, a FROM und),
       |c0 AS MATERIALIZED (
       |  SELECT n.node, coalesce(d.d, 0) AS c
       |  FROM nodes n LEFT JOIN
       |    (SELECT src AS node, count(*) AS d FROM sym GROUP BY 1) d USING (node)),
       |$steps
       |SELECT node, CAST(c AS BIGINT) AS coreness FROM c8 ORDER BY node""".stripMargin
  }

  /** [[Extensions.graphLpaVolume]]: the same 8 unrolled vote/argmax
    * steps over the block-volume synthesis plus the per-block-pair
    * offset-25 bridges. */
  val graphLpaVolume: String = {
    val steps = lpaSteps(8)
    s"""WITH $blockVolumeCtes,
       |nodes AS (SELECT node FROM ids),
       |raw AS (
       |  SELECT src, dst FROM ring
       |  UNION ALL SELECT src, dst FROM spread
       |  UNION ALL
       |  SELECT node, node + 50 FROM ids
       |  WHERE node % 50 = 25 AND node + 50 < (SELECT n FROM cnt)),
       |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |        FROM raw WHERE src <> dst),
       |sym AS (SELECT a AS src, b AS dst FROM und UNION ALL SELECT b, a FROM und),
       |l0 AS MATERIALIZED (SELECT node, node AS label FROM nodes),
       |$steps
       |SELECT node, CAST(label AS BIGINT) AS label FROM l8 ORDER BY node""".stripMargin
  }

  /** [[Extensions.graphModularityVolume]]: [[graphLpaVolume]]'s CTE
    * chain verbatim, then [[graphModularity]]'s per-community metrics
    * and integer rational over the volume fixture's und/sym closure. */
  val graphModularityVolume: String = {
    val steps = lpaSteps(8)
    s"""WITH $blockVolumeCtes,
       |nodes AS (SELECT node FROM ids),
       |raw AS (
       |  SELECT src, dst FROM ring
       |  UNION ALL SELECT src, dst FROM spread
       |  UNION ALL
       |  SELECT node, node + 50 FROM ids
       |  WHERE node % 50 = 25 AND node + 50 < (SELECT n FROM cnt)),
       |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |        FROM raw WHERE src <> dst),
       |sym AS (SELECT a AS src, b AS dst FROM und UNION ALL SELECT b, a FROM und),
       |l0 AS MATERIALIZED (SELECT node, node AS label FROM nodes),
       |$steps,
       |deg AS (SELECT src AS node, count(*) AS d FROM sym GROUP BY 1),
       |intra AS (SELECT la.label, count(*) AS e_c
       |          FROM und JOIN l8 la ON und.a = la.node
       |                   JOIN l8 lb ON und.b = lb.node
       |          WHERE la.label = lb.label GROUP BY 1),
       |mm AS (SELECT count(*) AS m FROM und),
       |comm AS (SELECT l.label, count(*) AS n_nodes,
       |                CAST(coalesce(sum(d.d), 0) AS BIGINT) AS degree_sum
       |         FROM l8 l LEFT JOIN deg d USING (node) GROUP BY 1),
       |t AS (SELECT c.label, c.n_nodes,
       |             CAST(coalesce(i.e_c, 0) AS BIGINT) AS intra_edges,
       |             c.degree_sum
       |      FROM comm c LEFT JOIN intra i USING (label)),
       |tot AS (SELECT CAST(sum(intra_edges) AS HUGEINT) * 4 * mm.m
       |               - CAST(sum(CAST(degree_sum AS HUGEINT) * degree_sum) AS HUGEINT) AS num,
       |               mm.m AS m
       |        FROM t, mm GROUP BY mm.m)
       |SELECT CAST(t.label AS BIGINT) AS label,
       |       CAST(t.n_nodes AS BIGINT) AS n_nodes, t.intra_edges, t.degree_sum,
       |       CAST((1000000 * tot.num) // (4 * tot.m * tot.m) AS BIGINT) AS q_ppm
       |FROM t, tot ORDER BY label""".stripMargin
  }

  /** [[Extensions.graphBetweenness]]: both Brandes phases unrolled as
    * CTE chains. Forward mirrors [[graphHarmonic]]'s BFS unroll PLUS
    * the σ path-count column (fᵢ = pairs first reached at i, σ = sum
    * over level-(i−1) parents; NOT EXISTS against pᵢ₋₁ keeps
    * first-reach rows only). Backward unrolls the level sweep dⱼ =
    * Σ_{v→w, w∈fⱼ₊₁} σ_v·(10⁶ + δ_w) // σ_w — every operand
    * non-negative, so DuckDB's flooring `//` equals the engine's
    * truncating DIV, and integer sums are order-independent, which is
    * what makes the fixed-point delta chain hash-exact across engines.
    * Final: per-node delta sum excluding each pivot's own row, scaled
    * N // K. All fᵢ/pᵢ/dⱼ MATERIALIZED — each is read twice. */
  /** Generator for the two-phase Brandes unroll: `prefix` must define
    * CTEs `nodes(node)` and `edges(src, dst)`; `pivotPred` selects the
    * pivot rows from nodes. Shared by the small-fixture and volume
    * betweenness oracles. */
  private def brandesOracle(prefix: String, pivotPred: String,
                            maxDist: Int): String = {
    val fwd = (1 to maxDist).map { i =>
      s"""f$i AS MATERIALIZED (
         |  SELECT c.origin, c.node, c.sigma
         |  FROM (SELECT f.origin, e.dst AS node, sum(f.sigma) AS sigma
         |        FROM f${i - 1} f JOIN edges e ON f.node = e.src
         |        GROUP BY 1, 2) c
         |  WHERE NOT EXISTS (SELECT 1 FROM p${i - 1} p
         |                    WHERE p.origin = c.origin AND p.node = c.node)),
         |p$i AS MATERIALIZED (
         |  SELECT origin, node FROM p${i - 1}
         |  UNION ALL SELECT origin, node FROM f$i)""".stripMargin
    }.mkString(",\n")
    val bwd = (0 until maxDist).reverse.map { j =>
      s"""d$j AS MATERIALIZED (
         |  SELECT v.origin, v.node,
         |         sum(v.sigma * (1000000 + coalesce(dn.delta, 0)) // w.sigma) AS delta
         |  FROM f$j v
         |  JOIN edges e ON v.node = e.src
         |  JOIN f${j + 1} w ON w.origin = v.origin AND w.node = e.dst
         |  LEFT JOIN d${j + 1} dn ON dn.origin = w.origin AND dn.node = w.node
         |  GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    s"""WITH $prefix,
       |f0 AS MATERIALIZED (
       |  SELECT node AS origin, node, CAST(1 AS BIGINT) AS sigma
       |  FROM nodes WHERE $pivotPred),
       |p0 AS MATERIALIZED (SELECT origin, node FROM f0),
       |$fwd,
       |d$maxDist AS MATERIALIZED (
       |  SELECT origin, node, CAST(0 AS BIGINT) AS delta FROM f$maxDist),
       |$bwd,
       |alld AS (${(0 until maxDist).map(j => s"SELECT * FROM d$j").mkString(" UNION ALL ")}),
       |bc AS (SELECT node, sum(delta) AS s FROM alld
       |       WHERE node <> origin GROUP BY 1)
       |SELECT n.node,
       |       CAST(coalesce(bc.s, 0) * (SELECT count(*) FROM nodes)
       |            // (SELECT count(*) FROM f0) AS BIGINT) AS betweenness_ppm
       |FROM nodes n LEFT JOIN bc USING (node)
       |ORDER BY node""".stripMargin
  }

  val graphBetweenness: String = brandesOracle(
    """nodes AS (SELECT DISTINCT doc_id % 100 AS node FROM documents),
      |raw AS (
      |  SELECT node AS src, node + 1 AS dst FROM nodes
      |  WHERE node % 7 <> 6 AND node < 99
      |  UNION ALL
      |  SELECT node, node + 50 FROM nodes WHERE node IN (0, 25)),
      |edges AS (SELECT r.src, r.dst FROM raw r JOIN nodes n ON r.dst = n.node)""".stripMargin,
    "node % 10 = 0", maxDist = 12)

  /** [[Extensions.graphBetweennessVolume]]: the same two-phase unroll
    * over the volume edge synthesis, horizon 8 (the degree-10 expander
    * covers its reachable set well inside that). */
  val graphBetweennessVolume: String = brandesOracle(
    volumeEdgeCtes + ",\nedges AS (SELECT src, dst FROM raw)",
    "node % 997 = 0", maxDist = 8)

  /** Shared by the four gated ANN queries (ann_lsh_topk, ann_ivf_topk,
    * ann_ivf_kmeans, ann_ivfpq_topk): the exact brute-force top-10
    * (probe included, (sim DESC, id) ranking) plus the recall gate
    * pinned to 0 — the graph_pagerank_wide shared-oracle trick: four
    * engine index paths certified against ONE exact string, and any
    * index whose recall drops under the floor flips its gate and
    * fails the hash. */
  val annExactTop10: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
      |m AS (SELECT q.qid, e.vec_id AS id,
      |             round(list_cosine_similarity(e.v, q.qv), 4) AS sim
      |      FROM e, q),
      |r AS (SELECT *, row_number() OVER (PARTITION BY qid
      |               ORDER BY sim DESC, id) AS rk FROM m)
      |SELECT qid, CAST(rk AS INT) AS "rank", id, sim,
      |       CAST(0 AS BIGINT) AS recall_gate
      |FROM r WHERE rk <= 10 ORDER BY qid, "rank"""".stripMargin

  /** [[Extensions.indexTrgmProbe]]: the direct substring scan AND the
    * trigram-conjunction candidate count, both recomputed from raw
    * text — index build, bucket probe, and exact verify must change
    * nothing about the answer, and the candidate semantics are
    * pinned. */
  val indexTrgmProbe: String = {
    // the ONE shared, pre-lowercased needle (see Extensions.trgmNeedle):
    // gram derivation here now matches the engine's lowercased slide
    // by construction instead of by literal coincidence
    val needle = Extensions.trgmNeedle
    val grams = needle.sliding(3).toSeq.distinct
    val values = grams.map(g => s"('$g')").mkString(", ")
    s"""WITH sh AS (
       |  SELECT doc_id,
       |         CASE WHEN len(lower(text)) <= 3 THEN [lower(text)]
       |              ELSE [substr(lower(text), i, 3) for i in range(1, len(lower(text)) - 1)] END AS sg
       |  FROM documents),
       |g AS (SELECT DISTINCT doc_id, gram
       |      FROM (SELECT doc_id, unnest(sg) AS gram FROM sh)),
       |qg AS (SELECT * FROM (VALUES $values) t(gram)),
       |cand AS (SELECT doc_id FROM g JOIN qg USING (gram)
       |         GROUP BY 1 HAVING count(*) = ${grams.size}),
       |n AS (SELECT count(*) AS n_candidates FROM cand)
       |SELECT doc_id, CAST(n_candidates AS BIGINT) AS n_candidates
       |FROM documents, n
       |WHERE contains(lower(text), '$needle')
       |ORDER BY doc_id""".stripMargin
  }

  /** [[Extensions.annFiltered]]: [[annExactTop10]] with candidates
    * restricted to the metadata predicate's subset while probes stay
    * full-collection — pre-filtering must be answer-equivalent to
    * exact search over the filtered set. */
  val annFilteredExact: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      |           FROM embeddings WHERE label % 3 = 1),
      |q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
      |      FROM embeddings WHERE vec_id < 5),
      |m AS (SELECT q.qid, e.vec_id AS id,
      |             round(list_cosine_similarity(e.v, q.qv), 4) AS sim
      |      FROM e, q),
      |r AS (SELECT *, row_number() OVER (PARTITION BY qid
      |               ORDER BY sim DESC, id) AS rk FROM m)
      |SELECT qid, CAST(rk AS INT) AS "rank", id, sim,
      |       CAST(0 AS BIGINT) AS recall_gate
      |FROM r WHERE rk <= 10 ORDER BY qid, "rank"""".stripMargin

  /** [[Extensions.embKnnGraph]]: the same probe set, round-4 cosine,
    * and (sim DESC, nbr ASC) ranking via row_number — the window
    * formulation is fine HERE (the oracle runs once over sf0.01); the
    * engine side uses the partial-aggregating top-k instead. */
  val embKnnGraph: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id % 10 = 0),
      |m AS (SELECT q.qid, e.vec_id AS nbr,
      |             round(list_cosine_similarity(e.v, q.qv), 4) AS sim
      |      FROM e, q WHERE e.vec_id <> q.qid),
      |r AS (SELECT *, row_number() OVER (PARTITION BY qid
      |               ORDER BY sim DESC, nbr) AS rk FROM m)
      |SELECT qid, CAST(rk AS INT) AS "rank", nbr, sim
      |FROM r WHERE rk <= 5 ORDER BY qid, "rank"""".stripMargin

  /** [[Extensions.embPcaPower]]: the identical quantization, exact
    * Gram cells over 1-based list indices, and 8 unrolled
    * matvec+normalize steps — every operand non-negative, so DuckDB's
    * flooring `//` equals the engine's truncating Long division. */
  val embPcaPower: String = {
    val steps = (1 to 8).map { k =>
      s"""w$k AS MATERIALIZED (
         |  SELECT c.i, sum(c.c * v.x) AS w
         |  FROM cells c JOIN v${k - 1} v ON c.j = v.i GROUP BY 1),
         |v$k AS MATERIALIZED (
         |  SELECT i, w // ((SELECT max(w) FROM w$k) // 1000000 + 1) AS x
         |  FROM w$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH q AS (SELECT [CAST(floor((x + 1) * 63) AS BIGINT)
       |                   FOR x IN CAST(embedding AS DOUBLE[])] AS qv
       |           FROM embeddings),
       |idx AS (SELECT range AS i FROM range(1, 65)),
       |cells AS MATERIALIZED (
       |  SELECT i.i AS i, j.i AS j, sum(qv[i.i] * qv[j.i]) AS c
       |  FROM q, idx i, idx j GROUP BY 1, 2),
       |v0 AS MATERIALIZED (SELECT i, CAST(1000000 AS BIGINT) AS x FROM idx),
       |$steps
       |SELECT i - 1 AS idx, CAST(x AS BIGINT) AS loading
       |FROM v8 ORDER BY idx""".stripMargin
  }

  /** [[Extensions.embTruncRecall]]: both rankings via row_number over
    * the identical round-4 cosine + id order, overlap by equijoin on
    * (qid, nbr); probes with zero overlap still appear (left join,
    * coalesce 0). */
  val embTruncRecall: String =
    """WITH ef AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |et AS (SELECT vec_id, CAST(embedding[1:16] AS DOUBLE[]) AS v FROM embeddings),
      |f5 AS (SELECT * FROM (
      |  SELECT q.vec_id AS qid, e.vec_id AS nbr,
      |         row_number() OVER (PARTITION BY q.vec_id
      |           ORDER BY round(list_cosine_similarity(e.v, q.v), 4) DESC, e.vec_id) AS rk
      |  FROM ef e JOIN ef q ON q.vec_id % 10 = 0 AND e.vec_id <> q.vec_id)
      |  WHERE rk <= 5),
      |t5 AS (SELECT * FROM (
      |  SELECT q.vec_id AS qid, e.vec_id AS nbr,
      |         row_number() OVER (PARTITION BY q.vec_id
      |           ORDER BY round(list_cosine_similarity(e.v, q.v), 4) DESC, e.vec_id) AS rk
      |  FROM et e JOIN et q ON q.vec_id % 10 = 0 AND e.vec_id <> q.vec_id)
      |  WHERE rk <= 5),
      |o AS (SELECT f.qid, count(*) AS n FROM f5 f JOIN t5 t
      |      ON f.qid = t.qid AND f.nbr = t.nbr GROUP BY 1)
      |SELECT p.qid, CAST(coalesce(o.n, 0) AS INT) AS n_overlap
      |FROM (SELECT DISTINCT vec_id AS qid FROM embeddings WHERE vec_id % 10 = 0) p
      |LEFT JOIN o USING (qid)
      |ORDER BY qid""".stripMargin

  /** [[Extensions.scd2History]]: lag-based change detection, lead-based
    * range close, identical `(ts, orderkey)` total order; the final
    * `NULLS FIRST` matches Spark's asc_nulls_first default. */
  val scd2History: String =
    """WITH o AS (
      |  SELECT o_custkey AS custkey, o_orderpriority AS priority,
      |         o_orderdate, o_orderkey,
      |         lag(o_orderpriority) OVER (PARTITION BY o_custkey
      |           ORDER BY o_orderdate, o_orderkey) AS prev
      |  FROM orders),
      |ch AS (SELECT custkey, priority, o_orderdate, o_orderkey FROM o
      |       WHERE prev IS NULL OR prev <> priority),
      |r AS (SELECT custkey, priority, o_orderdate AS valid_from,
      |             lead(o_orderdate) OVER (PARTITION BY custkey
      |               ORDER BY o_orderdate, o_orderkey) AS valid_to
      |      FROM ch)
      |SELECT custkey, priority, valid_from, valid_to,
      |       (valid_to IS NULL) AS is_current
      |FROM r
      |ORDER BY custkey, valid_from, priority, valid_to ASC NULLS FIRST""".stripMargin

  /** [[Extensions.eventsAnomaly]]: the same deterministic lower-median
    * picks (row_number at ⌊(n+1)/2⌋ — `//` floors like DIV on the
    * positive operands) and the integer 4.8-MAD rule. */
  val eventsAnomaly: String =
    """WITH e AS (SELECT user_id, event_id,
      |                  CAST(round(value * 100) AS BIGINT) AS cents FROM events),
      |r AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY cents, event_id) AS rn,
      |             count(*) OVER (PARTITION BY user_id) AS n FROM e),
      |med AS (SELECT user_id, cents AS med FROM r WHERE rn = (n + 1) // 2),
      |d AS (SELECT e.user_id, e.event_id, e.cents, m.med,
      |             abs(e.cents - m.med) AS dev
      |      FROM e JOIN med m USING (user_id)),
      |r2 AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY dev, event_id) AS rn,
      |              count(*) OVER (PARTITION BY user_id) AS n FROM d),
      |mad AS (SELECT user_id, dev AS mad FROM r2 WHERE rn = (n + 1) // 2)
      |SELECT d.user_id, CAST(count(*) AS BIGINT) AS n_events,
      |       max(d.med) AS med_cents, max(mad.mad) AS mad_cents,
      |       CAST(sum(CASE WHEN 100 * d.dev > 480 * mad.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      |FROM d JOIN mad USING (user_id)
      |GROUP BY d.user_id ORDER BY user_id""".stripMargin

  /** [[Extensions.scd2Lookup]]: the scd2History CTE chain plus the
    * probe derivation and the same half-open LEFT range join — at most
    * one range matches per probe, so the join cannot fan out. */
  val scd2Lookup: String =
    """WITH o AS (
      |  SELECT o_custkey AS custkey, o_orderpriority AS priority,
      |         o_orderdate, o_orderkey,
      |         lag(o_orderpriority) OVER (PARTITION BY o_custkey
      |           ORDER BY o_orderdate, o_orderkey) AS prev
      |  FROM orders),
      |ch AS (SELECT custkey, priority, o_orderdate, o_orderkey FROM o
      |       WHERE prev IS NULL OR prev <> priority),
      |r AS (SELECT custkey, priority, o_orderdate AS valid_from,
      |             lead(o_orderdate) OVER (PARTITION BY custkey
      |               ORDER BY o_orderdate, o_orderkey) AS valid_to
      |      FROM ch),
      |p AS (SELECT o_orderkey AS probe_id, o_custkey AS custkey,
      |             o_orderdate + INTERVAL 30 DAY AS as_of
      |      FROM orders WHERE o_orderkey % 10 = 0)
      |SELECT p.probe_id, p.custkey, p.as_of, r.priority
      |FROM p LEFT JOIN r ON p.custkey = r.custkey
      |  AND r.valid_from <= p.as_of
      |  AND (r.valid_to IS NULL OR p.as_of < r.valid_to)
      |ORDER BY probe_id""".stripMargin

  /** [[Extensions.intervalMerge]]: the cumulative-max-end island flag
    * (`1 PRECEDING` upper bound excludes the current row) and running
    * island ids, grouped to island extents. Sums over int flags land in
    * HUGEINT in DuckDB — cast back to BIGINT. */
  val intervalMerge: String =
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
      |      FROM m)
      |SELECT user_id, CAST(island_no AS BIGINT) AS island_no,
      |       min(s) AS start_us, max(e) AS end_us,
      |       CAST(count(*) AS BIGINT) AS n_events
      |FROM g GROUP BY 1, 2 ORDER BY user_id, island_no""".stripMargin

  /** [[Extensions.eventsRetention]]: the same distinct-user-day →
    * min-window cohort → (cohort, offset) distinct-user rollup. */
  val eventsRetention: String =
    """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
      |c AS (SELECT user_id, d,
      |             min(d) OVER (PARTITION BY user_id) AS cohort_day FROM ud)
      |SELECT cohort_day,
      |       CAST(date_diff('day', cohort_day, d) AS BIGINT) AS day_offset,
      |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      |FROM c WHERE date_diff('day', cohort_day, d) <= 7
      |GROUP BY 1, 2 ORDER BY cohort_day, day_offset""".stripMargin

  /** [[Extensions.eventsRetentionWeekly]]: the same fixed 7-day epoch
    * buckets (`//` ≡ DIV on the non-negative epoch-day counts), the
    * same min-window cohort and capped-offset rollup. */
  val eventsRetentionWeekly: String =
    """WITH uw AS (SELECT DISTINCT user_id,
      |                   date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7 AS w
      |            FROM events),
      |c AS (SELECT user_id, w,
      |             min(w) OVER (PARTITION BY user_id) AS cw FROM uw)
      |SELECT CAST(cw AS BIGINT) AS cohort_week,
      |       CAST(w - cw AS BIGINT) AS week_offset,
      |       CAST(count(*) AS BIGINT) AS n_users
      |FROM c WHERE w - cw <= 8
      |GROUP BY 1, 2 ORDER BY cohort_week, week_offset""".stripMargin

  /** [[Extensions.eventsStickiness]]: the same distinct user-day frame,
    * the 7-value unnest standing in for the engine's bounded explode,
    * and the integer ppm ratio (`//` ≡ DIV on these positive counts). */
  val eventsStickiness: String =
    """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
      |dau AS (SELECT d AS day, count(*) AS dau FROM ud GROUP BY 1),
      |w AS (SELECT DISTINCT user_id, d + k AS day
      |      FROM ud, (VALUES (0), (1), (2), (3), (4), (5), (6)) t(k)),
      |wau AS (SELECT day, count(*) AS wau FROM w GROUP BY 1)
      |SELECT day, CAST(dau AS BIGINT) AS dau, CAST(wau AS BIGINT) AS wau,
      |       CAST((dau * 1000000) // wau AS BIGINT) AS stickiness_ppm
      |FROM dau JOIN wau USING (day) ORDER BY day""".stripMargin

  /** [[Extensions.eventsChangepoint]]: the same daily rollup, the same
    * D-scaled integer deviation under a cumulative ordered window, and
    * the argmax-|cusum| peak flag. */
  val eventsChangepoint: String =
    """WITH d AS (SELECT CAST(ts AS DATE) AS day, count(*) AS n
      |           FROM events GROUP BY 1),
      |t AS (SELECT count(*) AS n_days, sum(n) AS total FROM d),
      |c AS (SELECT day, n,
      |             sum(n * n_days - total) OVER (
      |               ORDER BY day
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum
      |      FROM d, t),
      |m AS (SELECT max(abs(cusum)) AS mx FROM c)
      |SELECT day, CAST(n AS BIGINT) AS n, CAST(cusum AS BIGINT) AS cusum,
      |       CAST(CASE WHEN abs(cusum) = mx THEN 1 ELSE 0 END AS BIGINT)
      |         AS is_peak
      |FROM c, m ORDER BY day""".stripMargin

  /** [[Extensions.corpusTokenBudget]]: the whitespace token kernel,
    * the same per-language doc_id-ordered cumulative window and
    * ≤-budget prefix rule, and the ppm fill rational. */
  val corpusTokenBudget: String =
    s"""WITH tk AS (
       |  SELECT doc_id, lang,
       |         CASE WHEN len(trim(text)) = 0 THEN 0
       |              ELSE len(regexp_split_to_array(trim(text), '$ws')) END AS n_tok
       |  FROM documents),
       |c AS (SELECT lang, n_tok,
       |             sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |      FROM tk)
       |SELECT lang, count(*) AS n_kept,
       |       CAST(sum(n_tok) AS BIGINT) AS kept_tokens,
       |       CAST((sum(n_tok) * 1000000) // 2000 AS BIGINT) AS fill_ppm
       |FROM c WHERE cum <= 2000
       |GROUP BY 1 ORDER BY lang""".stripMargin

  /** [[Extensions.intervalJoin]]: the PLAIN non-equi overlap join —
    * the grid bucketing and exactly-once ownership rule must be
    * answer-invisible. */
  val intervalJoin: String =
    """WITH a AS (SELECT user_id, epoch_us(ts) AS s_a,
      |                  epoch_us(ts) + (event_id % 10800 + 3600) * 1000000 AS e_a
      |           FROM events WHERE event_type = 'view'),
      |b AS (SELECT user_id, epoch_us(ts) AS s_b,
      |             epoch_us(ts) + (event_id % 9000 + 1800) * 1000000 AS e_b
      |      FROM events WHERE event_type = 'click')
      |SELECT a.user_id AS user_id, count(*) AS n_pairs,
      |       CAST(sum(least(e_a, e_b) - greatest(s_a, s_b)) AS BIGINT)
      |         AS overlap_us
      |FROM a JOIN b ON a.user_id = b.user_id AND s_a < e_b AND s_b < e_a
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** [[Extensions.dqDrift]]: the same two half-censuses, full-outer
    * type join, ppm-floored shares, and TVD-over-shares rational. */
  val dqDrift: String =
    """WITH e AS (SELECT event_type, CAST(ts AS DATE) AS d FROM events),
      |r AS (SELECT event_type, count(*) AS n_ref FROM e
      |      WHERE d <= DATE '2024-01-15' GROUP BY 1),
      |c AS (SELECT event_type, count(*) AS n_cur FROM e
      |      WHERE d > DATE '2024-01-15' GROUP BY 1),
      |j AS (SELECT coalesce(r.event_type, c.event_type) AS event_type,
      |             coalesce(n_ref, 0) AS n_ref, coalesce(n_cur, 0) AS n_cur
      |      FROM r FULL OUTER JOIN c ON r.event_type = c.event_type),
      |t AS (SELECT sum(n_ref) AS t_ref, sum(n_cur) AS t_cur FROM j),
      |s AS (SELECT event_type, n_ref, n_cur,
      |             (n_ref * 1000000) // t_ref AS share_ref_ppm,
      |             (n_cur * 1000000) // t_cur AS share_cur_ppm
      |      FROM j, t),
      |v AS (SELECT sum(abs(share_ref_ppm - share_cur_ppm)) // 2 AS tvd_ppm
      |      FROM s)
      |SELECT event_type, CAST(n_ref AS BIGINT) AS n_ref,
      |       CAST(n_cur AS BIGINT) AS n_cur,
      |       CAST(share_ref_ppm AS BIGINT) AS share_ref_ppm,
      |       CAST(share_cur_ppm AS BIGINT) AS share_cur_ppm,
      |       CAST(tvd_ppm AS BIGINT) AS tvd_ppm,
      |       CAST(CASE WHEN tvd_ppm >= 50000 THEN 1 ELSE 0 END AS BIGINT)
      |         AS drift_flag
      |FROM s, v ORDER BY event_type""".stripMargin

  /** [[Extensions.textPmi]]: the shingle kernel's tokenizer (lower,
    * \s-class split, empty filter, short-doc rule), adjacent pairs by
    * 1-based index, and the identical DECIMAL/HUGEINT integer-division
    * PMI rational — `//` on positive HUGEINTs floors exactly like
    * Spark's `div` on positive decimals. */
  val textPmi: String = {
    val kws = graft.functions.SketchUtil.WsClassRegex
    s"""WITH d0 AS (SELECT list_filter(regexp_split_to_array(lower(text), '$kws'), t -> t <> '') AS tk
       |            FROM documents),
       |d AS (SELECT CASE WHEN len(tk) < 1 THEN [''] ELSE tk END AS tk FROM d0),
       |uc AS (SELECT tok, count(*) AS c
       |       FROM (SELECT unnest(tk) AS tok FROM d) GROUP BY 1),
       |bc AS (SELECT w1, w2, count(*) AS c_xy
       |       FROM (SELECT tk[i] AS w1, tk[i+1] AS w2
       |             FROM d, unnest(generate_series(1, len(tk) - 1)) u(i)
       |             WHERE len(tk) >= 2) GROUP BY 1, 2),
       |nu AS (SELECT CAST(sum(c) AS HUGEINT) AS n_uni FROM uc),
       |nb AS (SELECT CAST(sum(c_xy) AS HUGEINT) AS n_bi FROM bc),
       |s AS (SELECT w1, w2, c_xy, u1.c AS c1, u2.c AS c2,
       |             CAST((CAST(c_xy AS HUGEINT) * n_uni * n_uni * 1000000)
       |                  // (CAST(u1.c AS HUGEINT) * u2.c * n_bi) AS BIGINT) AS pmi_ppm
       |      FROM bc JOIN uc u1 ON bc.w1 = u1.tok
       |              JOIN uc u2 ON bc.w2 = u2.tok, nu, nb
       |      WHERE c_xy >= 5)
       |SELECT concat(w1, ' ', w2) AS gram, c_xy, c1, c2, pmi_ppm
       |FROM s ORDER BY pmi_ppm DESC, gram LIMIT 50""".stripMargin
  }

  /** [[Extensions.indexInvertedStored]]: the conjunctive answer
    * recomputed from RAW documents (never the stored index) — the
    * kernel tokenizer, the same term list, per-(doc, term) tf, and the
    * count-equals-|terms| conjunction rule. Proves index build + bucket
    * probe change nothing about the answer. */
  val indexInvertedStored: String = {
    val kws = graft.functions.SketchUtil.WsClassRegex
    val terms = Extensions.InvIndexTerms.map(t => s"'$t'").mkString(", ")
    val n = Extensions.InvIndexTerms.length
    s"""WITH d AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '$kws'), t -> t <> '') AS tk
       |           FROM documents),
       |e AS (SELECT doc_id, unnest(tk) AS tok FROM d),
       |m AS (SELECT doc_id, tok, count(*) AS tf FROM e
       |      WHERE tok IN ($terms) GROUP BY 1, 2)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
       |       CAST(sum(tf) AS BIGINT) AS sum_tf
       |FROM m GROUP BY doc_id HAVING count(*) = $n ORDER BY doc_id""".stripMargin
  }

  /** [[Extensions.indexBm25Probe]]: the disjunctive BM25 top-20
    * recomputed from RAW documents (never the stored index or its
    * persisted stats) — the kernel tokenizer, the same term list, and
    * both ppm rationals verbatim from [[textBm25]] (`//` ≡ Spark's DIV
    * on these all-non-negative operands). Proves index build + stats
    * persistence + bucket probe change nothing about the ranking. */
  val indexBm25Probe: String = {
    val kws = graft.functions.SketchUtil.WsClassRegex
    val terms = Extensions.InvIndexTerms.map(t => s"'$t'").mkString(", ")
    s"""WITH d AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '$kws'), t -> t <> '') AS tk
       |           FROM documents),
       |e AS (SELECT doc_id, unnest(tk) AS tok FROM d),
       |tf AS (SELECT doc_id, tok AS term, count(*) AS tf FROM e GROUP BY 1, 2),
       |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
       |st AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS s_tok FROM dl),
       |m AS (SELECT * FROM tf WHERE term IN ($terms)),
       |dfq AS (SELECT term, count(*) AS df FROM m GROUP BY 1),
       |c AS (SELECT m.doc_id,
       |             (1000000 * (2 * (st.n_docs - dfq.df) + 1)) // (2 * dfq.df + 1) AS idf_ppm,
       |             (1000000 * 22 * st.s_tok * m.tf)
       |               // (10 * st.s_tok * m.tf + 3 * st.s_tok + 9 * dl.dl * st.n_docs) AS sat_ppm
       |      FROM m JOIN dfq USING (term) JOIN dl USING (doc_id), st),
       |sc AS (SELECT doc_id, CAST(sum((idf_ppm * sat_ppm) // 1000000) AS BIGINT) AS bm25_ppm,
       |              count(*) AS n_terms FROM c GROUP BY 1),
       |r AS (SELECT *, row_number() OVER (ORDER BY bm25_ppm DESC, doc_id ASC) AS rank FROM sc)
       |SELECT CAST(rank AS BIGINT) AS rank, doc_id, bm25_ppm, n_terms
       |FROM r WHERE rank <= 20 ORDER BY rank""".stripMargin
  }

  /** [[Extensions.dqExpectations]]: the same two single-pass metric
    * aggregates, unpivoted as a UNION ALL of check rows with the
    * declared envelopes inlined. */
  val dqExpectations: String =
    """WITH o AS (SELECT count(*) AS n, count(DISTINCT o_orderkey) AS nd,
      |                  sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS nnull,
      |                  CAST(round(min(o_totalprice) * 100) AS BIGINT) AS minc,
      |                  CAST(round(max(o_totalprice) * 100) AS BIGINT) AS maxc,
      |                  date_diff('day', DATE '1970-01-01', CAST(min(o_orderdate) AS DATE)) AS mind,
      |                  date_diff('day', DATE '1970-01-01', CAST(max(o_orderdate) AS DATE)) AS maxd
      |           FROM orders),
      |l AS (SELECT count(*) AS n,
      |             sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS nnull,
      |             CAST(min(l_quantity) AS BIGINT) AS minq,
      |             CAST(max(l_quantity) AS BIGINT) AS maxq,
      |             CAST(round(max(l_discount) * 100) AS BIGINT) AS maxdisc
      |      FROM lineitem),
      |c AS (
      |  SELECT 'orders' AS tbl, 'row_count_positive' AS chk, CAST(n AS BIGINT) AS observed,
      |         CAST(1 AS BIGINT) AS lo, CAST(9223372036854775807 AS BIGINT) AS hi FROM o
      |  UNION ALL SELECT 'orders', 'pk_dup_count', CAST(n - nd AS BIGINT), 0, 0 FROM o
      |  UNION ALL SELECT 'orders', 'custkey_null_count', CAST(nnull AS BIGINT), 0, 0 FROM o
      |  UNION ALL SELECT 'orders', 'totalprice_min_cents', minc, 100000, 50000000 FROM o
      |  UNION ALL SELECT 'orders', 'totalprice_max_cents', maxc, 100000, 50000000 FROM o
      |  UNION ALL SELECT 'orders', 'orderdate_min_epochday', CAST(mind AS BIGINT), 9131, 11687 FROM o
      |  UNION ALL SELECT 'orders', 'orderdate_max_epochday', CAST(maxd AS BIGINT), 9131, 11687 FROM o
      |  UNION ALL SELECT 'lineitem', 'row_count_positive', CAST(n AS BIGINT), 1, 9223372036854775807 FROM l
      |  UNION ALL SELECT 'lineitem', 'orderkey_null_count', CAST(nnull AS BIGINT), 0, 0 FROM l
      |  UNION ALL SELECT 'lineitem', 'quantity_min', minq, 1, 50 FROM l
      |  UNION ALL SELECT 'lineitem', 'quantity_max', maxq, 1, 50 FROM l
      |  UNION ALL SELECT 'lineitem', 'discount_max_pct', maxdisc, 0, 10 FROM l)
      |SELECT tbl, chk, observed, lo, hi,
      |       CAST(CASE WHEN observed BETWEEN lo AND hi THEN 1 ELSE 0 END AS BIGINT) AS ok
      |FROM c ORDER BY tbl, chk""".stripMargin

  /** [[Extensions.indexPhraseProbe]]: adjacency recomputed from RAW
    * documents — the kernel tokenizer, then every 1-based bigram
    * index i with tk[i] = w1 ∧ tk[i+1] = w2; the phrase's 0-based
    * start is i − 1. Proves the stored positional probe equals a raw
    * adjacency scan. */
  val indexPhraseProbe: String = {
    val kws = graft.functions.SketchUtil.WsClassRegex
    val Seq(w1, w2) = Extensions.PhraseTerms
    s"""WITH d AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '$kws'), t -> t <> '') AS tk
       |           FROM documents),
       |m AS (SELECT doc_id, i FROM d, UNNEST(range(1, len(tk))) AS s(i)
       |      WHERE tk[i] = '$w1' AND tk[i + 1] = '$w2')
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_occ,
       |       CAST(min(i) - 1 AS BIGINT) AS first_pos
       |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** [[Extensions.indexBm25Phrase]]: the phrase-as-virtual-term BM25
    * top-20 recomputed from RAW documents — the kernel tokenizer,
    * adjacency counts per doc (tf), the matching-doc count (df), and
    * both ppm rationals verbatim from [[indexBm25Probe]] (`//` ≡ DIV
    * on these non-negative operands). Proves positional index build +
    * stats persistence + phrase scoring change nothing about the
    * ranking. */
  val indexBm25Phrase: String = {
    val kws = graft.functions.SketchUtil.WsClassRegex
    val Seq(w1, w2) = Extensions.PhraseTerms
    s"""WITH d AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '$kws'), t -> t <> '') AS tk
       |           FROM documents),
       |e AS (SELECT doc_id, unnest(tk) AS tok FROM d),
       |tf0 AS (SELECT doc_id, tok, count(*) AS tf FROM e GROUP BY 1, 2),
       |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf0 GROUP BY 1),
       |st AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS s_tok FROM dl),
       |m AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS tf FROM (
       |        SELECT doc_id, i FROM d, UNNEST(range(1, len(tk))) s(i)
       |        WHERE tk[i] = '$w1' AND tk[i + 1] = '$w2') GROUP BY 1),
       |dfq AS (SELECT count(*) AS df FROM m),
       |c AS (SELECT m.doc_id, m.tf,
       |             (1000000 * (2 * (st.n_docs - dfq.df) + 1)) // (2 * dfq.df + 1) AS idf_ppm,
       |             (1000000 * 22 * st.s_tok * m.tf)
       |               // (10 * st.s_tok * m.tf + 3 * st.s_tok + 9 * dl.dl * st.n_docs) AS sat_ppm
       |      FROM m JOIN dl USING (doc_id), st, dfq),
       |sc AS (SELECT doc_id, CAST((idf_ppm * sat_ppm) // 1000000 AS BIGINT) AS bm25_ppm, tf FROM c),
       |r AS (SELECT *, row_number() OVER (ORDER BY bm25_ppm DESC, doc_id ASC) AS rank FROM sc)
       |SELECT CAST(rank AS BIGINT) AS rank, doc_id, bm25_ppm,
       |       CAST(tf AS BIGINT) AS n_occ
       |FROM r WHERE rank <= 20 ORDER BY rank""".stripMargin
  }
}
