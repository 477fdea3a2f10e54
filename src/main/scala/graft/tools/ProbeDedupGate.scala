package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Sessions
import graft.core.Tables.t
import graft.operators.Dedup

/** Dev probe for the dedup oracle gates: at each SF, does
  * each LSH discovery path's VERIFIED pair set equal the exhaustive
  * truth set its DuckDB oracle will compute? Run before declaring the
  * gated queries — a missed borderline pair here means the gate would
  * go red at the driver, by design.
  */
object ProbeDedupGate {

  private def truthPairs(s: SparkSession, dir: String, thr: Double): DataFrame = {
    // exhaustive word-3-gram jaccard — oracle-side shape, dev-only here
    val sh = t(s, dir, "documents").select(col("doc_id"),
      graft.functions.Sketches.sortedDistinct(
        Dedup.wordShingles(col("text"), 3)).as("sg")).localCheckpoint()
    val a = sh.select(col("doc_id").as("id_a"), col("sg").as("sg_a"))
    val b = sh.select(col("doc_id").as("id_b"), col("sg").as("sg_b"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        Dedup.jaccardSorted(col("sg_a"), col("sg_b")).as("jaccard"))
      .filter(col("jaccard") >= thr)
  }

  def main(args: Array[String]): Unit = {
    val spark = Sessions.local()
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val dir = s"/root/testdata/$sf"
      val truth = truthPairs(spark, dir, 0.5)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val mh = Dedup.minhashPairs(t(spark, dir, "documents"), "doc_id", "text",
          shingleN = 3, numHashes = 64, bands = 16, threshold = 0.5)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // simhash candidates (hamming<=10) verified by exact jaccard>=0.5
      val shCand = Dedup.simhashPairs(t(spark, dir, "documents"), "doc_id", "text",
          maxHamming = 10)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val shVerified = shCand.intersect(truth) // verify stage = exact jaccard
      println(s"[probe] $sf truth=${truth.size} mh=${mh.size} mhMissed=${(truth -- mh).size} " +
        s"mhExtra=${(mh -- truth).size} simCand=${shCand.size} simMissed=${(truth -- shVerified).size}")
      // length-blocked exact truth (dedupMinhashVerify chassis, word-3-gram)
      val base = t(spark, dir, "documents")
        .select(col("doc_id"), length(col("text")).cast("long").as("lb"),
          graft.functions.Sketches.sortedDistinct(
            Dedup.wordShingles(col("text"), 3)).as("sg"))
      val keep = base.groupBy("lb").agg(count(lit(1)).as("bsz"))
        .filter(col("bsz") <= 100 && col("bsz") > 1).select("lb")
      val pruned = base.join(broadcast(keep), Seq("lb")).localCheckpoint()
      val pa = pruned.select(col("lb"), col("doc_id").as("id_a"), col("sg").as("sg_a"))
      val pb = pruned.select(col("lb"), col("doc_id").as("id_b"), col("sg").as("sg_b"))
      val blocked = pa.join(pb.hint("shuffle_hash"), Seq("lb"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          Dedup.jaccardSorted(col("sg_a"), col("sg_b")).as("j"))
        .filter(col("j") >= 0.5)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      println(s"[probe] $sf blockedTruth=${blocked.size} simCoverOfBlocked=" +
        s"${blocked.intersect(shCand).size} mhCoverOfBlocked=${blocked.intersect(mh).size}")
      if ((truth -- mh).nonEmpty) println(s"[probe]   mh missed: ${(truth -- mh).toSeq.sorted}")
      if ((truth -- shVerified).nonEmpty) println(s"[probe]   sim missed: ${(truth -- shVerified).toSeq.sorted}")
      // simhash: planted text twins (append-2-tokens edit) through banding
      val docs2 = t(spark, dir, "documents").select(col("doc_id"), col("text"))
      val twins2 = docs2.filter(col("doc_id") % 9 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"),
          concat(col("text"), lit(" zq"), (col("doc_id") % 7).cast("string")).as("text"))
      val corpus2 = docs2.unionByName(twins2)
      val found2 = Dedup.simhashPairs(corpus2, "doc_id", "text", maxHamming = 10)
        .filter(col("id_b") === col("id_a") + 100000L)
        .select("id_a").collect().map(_.getLong(0)).toSet
      val planted2 = docs2.filter(col("doc_id") % 9 === 0)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      println(s"[probe] $sf simTwinPlanted=${planted2.size} simTwinFound=${found2.size} " +
        s"missed=${(planted2 -- found2).size}")
      // embedding: planted twins (dedupSemantic synthesis) through sign-LSH
      val emb = t(spark, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val twins = emb.filter(col("vec_id") % 7 === 0)
        .select((col("vec_id") + 100000L).as("vec_id"),
          expr("transform(v, (x, i) -> x + (cast((vec_id * 31 + i) % 7 as double) - 3.0d) * 0.003d)")
            .as("v"))
      val corpus = emb.unionByName(twins)
      val found = Dedup.embeddingPairs(corpus, "vec_id", "v", threshold = 0.9)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val planted = emb.filter(col("vec_id") % 7 === 0).select("vec_id")
        .collect().map(_.getLong(0)).map(i => (i, i + 100000L)).toSet
      println(s"[probe] $sf embFound=${found.size} planted=${planted.size} " +
        s"missed=${(planted -- found).size} extra=${(found -- planted).size}")
      if ((planted -- found).nonEmpty)
        println(s"[probe]   emb missed: ${(planted -- found).toSeq.sorted.take(10)}")
    }
    spark.stop()
  }
}
