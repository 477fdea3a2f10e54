package graft.perfbench

import scala.collection.mutable

/** Plain Scala references for the checked graph loops and for BM25,
  * written from each operator's documented definition (not from its
  * Spark formulation), over the generated inputs. */
object Refs {

  /** Undirected simple closure: sorted distinct neighbour ids per node. */
  def undirected(nodes: Array[Long], edges: Array[(Long, Long)]): Map[Long, Array[Long]] = {
    val adj = mutable.HashMap[Long, mutable.Set[Long]]()
    nodes.foreach(adj(_) = mutable.HashSet())
    edges.foreach { case (u, v) =>
      if (u != v && adj.contains(u) && adj.contains(v)) { adj(u) += v; adj(v) += u }
    }
    adj.map { case (k, s) => k -> s.toArray.sorted }.toMap
  }

  /** Synchronous label propagation, `iterations` steps: the most
    * frequent neighbour label, smallest label on a tie, own label when
    * there are no neighbours. */
  def labelPropagation(nodes: Array[Long], adj: Map[Long, Array[Long]],
                       iterations: Int): Map[Long, Long] = {
    var label = nodes.map(n => n -> n).toMap
    for (_ <- 1 to iterations) {
      label = nodes.map { n =>
        val nb = adj(n)
        if (nb.isEmpty) n -> label(n)
        else {
          val counts = nb.groupBy(label).map { case (l, xs) => l -> xs.length }
          n -> counts.maxBy { case (l, c) => (c, -l) }._1
        }
      }.toMap
    }
    label
  }

  /** Iterated neighbourhood h-index from c0 = degree, up to
    * `iterations` steps (the sequence is non-increasing and stops
    * changing at the coreness). */
  def corenessHIndex(nodes: Array[Long], adj: Map[Long, Array[Long]],
                     iterations: Int): Map[Long, Long] = {
    var c = nodes.map(n => n -> adj(n).length.toLong).toMap
    var it = 0; var changed = true
    while (it < iterations && changed) {
      it += 1
      val next = nodes.map { n =>
        val vals = adj(n).map(c).sorted(Ordering[Long].reverse)
        var h = 0L
        vals.indices.foreach(i => h = math.max(h, math.min(vals(i), (i + 1).toLong)))
        n -> h
      }.toMap
      changed = next != c
      c = next
    }
    c
  }

  /** Strongly connected components (iterative Tarjan) of the directed
    * induced subgraph; each labelled by its minimum node id. */
  def scc(nodes: Array[Long], edges: Array[(Long, Long)]): Map[Long, Long] = {
    val idx = nodes.zipWithIndex.toMap
    val out = Array.fill(nodes.length)(mutable.ArrayBuffer[Int]())
    edges.foreach { case (u, v) =>
      (idx.get(u), idx.get(v)) match {
        case (Some(a), Some(b)) => out(a) += b
        case _                  => ()
      }
    }
    val n = nodes.length
    val index = Array.fill(n)(-1); val low = new Array[Int](n)
    val onStack = new Array[Boolean](n); val stack = mutable.ArrayStack[Int]()
    val comp = new Array[Long](n)
    var counter = 0
    for (root <- 0 until n if index(root) < 0) {
      val work = mutable.ArrayStack[(Int, Int)]((root, 0))
      while (work.nonEmpty) {
        val (v, i) = work.pop()
        if (i == 0) {
          index(v) = counter; low(v) = counter; counter += 1
          stack.push(v); onStack(v) = true
        }
        if (i < out(v).length) {
          work.push((v, i + 1))
          val w = out(v)(i)
          if (index(w) < 0) work.push((w, 0))
          else if (onStack(w)) low(v) = math.min(low(v), index(w))
        } else {
          if (low(v) == index(v)) {
            val members = mutable.ArrayBuffer[Int]()
            var w = -1
            while (w != v) { w = stack.pop(); onStack(w) = false; members += w }
            val m = members.map(nodes(_)).min
            members.foreach(comp(_) = m)
          }
          if (work.nonEmpty) { val (p, _) = work.top; low(p) = math.min(low(p), low(v)) }
        }
      }
    }
    nodes.indices.map(i => nodes(i) -> comp(i)).toMap
  }

  /** HITS in integer ppm: hub0 = 1e6 everywhere; per iteration the raw
    * authority (hub) sums over in-edges (out-edges) are scaled by
    * 1e6 / max with floor division. Returns node -> (hub, auth). */
  def hitsPpm(nodes: Array[Long], edges: Array[(Long, Long)],
              iterations: Int): Map[Long, (Long, Long)] = {
    val nset = nodes.toSet
    val e = edges.filter { case (u, v) => nset(u) && nset(v) }
    val scale = 1000000L
    var hub: Map[Long, Long] = nodes.map(_ -> scale).toMap
    var auth: Map[Long, Long] = Map.empty
    for (_ <- 1 to iterations) {
      val ar = mutable.HashMap[Long, Long]()
      e.foreach { case (u, v) => ar(v) = ar.getOrElse(v, 0L) + hub.getOrElse(u, 0L) }
      val aMax = ar.values.max
      auth = ar.map { case (v, s) => v -> BigInt(s) * scale / aMax }.map { case (k, x) => k -> x.toLong }.toMap
      val hr = mutable.HashMap[Long, Long]()
      e.foreach { case (u, v) => hr(u) = hr.getOrElse(u, 0L) + auth(v) }
      val hMax = hr.values.max
      hub = hr.map { case (u, s) => u -> (BigInt(s) * scale / hMax).toLong }.toMap
    }
    nodes.map(n => n -> (hub.getOrElse(n, 0L), auth.getOrElse(n, 0L))).toMap
  }

  /** BM25 more-like-this in the operator's documented integer form
    * (k1 = 6/5, b = 3/4, odds-ratio idf): per query, the top `k`
    * (doc_id, bm25_ppm, n_terms) by score desc then doc id asc. */
  def bm25(docs: Array[String], queries: Seq[Long], k: Int): Map[Long, Seq[(Long, Long, Long)]] = {
    val tf: Array[Map[String, Long]] = docs.map { d =>
      d.trim.toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty)
        .groupBy(identity).map { case (t, xs) => t -> xs.length.toLong }
    }
    val dl = tf.map(_.values.sum)
    val nDocs = dl.count(_ > 0).toLong
    val sTok = dl.sum
    val df = mutable.HashMap[String, Long]()
    tf.foreach(_.keys.foreach(t => df(t) = df.getOrElse(t, 0L) + 1))
    queries.map { q =>
      val qTerms = tf(q.toInt).keySet
      val scored = docs.indices.iterator.filter(_ != q.toInt).flatMap { d =>
        val shared = qTerms.iterator.filter(tf(d).contains).toSeq
        if (shared.isEmpty) None
        else {
          val score = shared.map { t =>
            val idf = (1000000L * (2 * (nDocs - df(t)) + 1)) / (2 * df(t) + 1)
            val f = tf(d)(t)
            val sat = (1000000L * 22 * sTok * f) / (10 * sTok * f + 3 * sTok + 9 * dl(d) * nDocs)
            (idf * sat) / 1000000L
          }.sum
          Some((d.toLong, score, shared.size.toLong))
        }
      }.toSeq
      q -> scored.sortBy { case (d, s, _) => (-s, d) }.take(k)
    }.toMap
  }

  /** Cosine similarity, for checking returned scores. */
  def cosine(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    dot / math.sqrt(na * nb)
  }
}
