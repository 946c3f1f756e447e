package edgybench

import scala.collection.mutable

/** Independent references, computed in the benchmark's JVM from the generator's
  * known inputs. None of them calls into the engine.
  */
object Ref {

  /** Union-find over `n` vertices. */
  final class UnionFind(n: Int) {
    private val parent = Array.range(0, n)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val nx = parent(y); parent(y) = r; y = nx }
      r
    }
    def union(a: Int, b: Int): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    def sizes: Map[Int, Int] = (0 until n).groupMapReduce(find)(_ => 1)(_ + _)
  }

  /** Number of connected components among the ids that appear in `pairs`. */
  def clusterCount(pairs: Iterable[(Long, Long)]): Long = {
    val ids = pairs.flatMap { case (a, b) => Seq(a, b) }.toSeq.distinct
    val index = ids.zipWithIndex.toMap
    val uf = new UnionFind(ids.size)
    pairs.foreach { case (a, b) => uf.union(index(a), index(b)) }
    uf.sizes.size.toLong
  }

  /** Components over every node of every label, joined by friend edges:
    * (component count, largest component size).
    */
  def components(g: Gen.GraphData): (Long, Long) = {
    val n = g.size.persons
    val uf = new UnionFind(n)
    g.friend.indices.foreach(i => g.friend(i).foreach(j => uf.union(i, j)))
    val s = uf.sizes
    (s.size.toLong + g.size.activities + g.size.objects, s.values.max.toLong)
  }

  /** Triangles of the undirected, de-duplicated friend graph. */
  def triangles(g: Gen.GraphData): Long = {
    val n = g.size.persons
    val adj = Array.fill(n)(mutable.HashSet.empty[Int])
    g.friend.indices.foreach(i => g.friend(i).foreach { j =>
      if (i != j) { adj(i) += j; adj(j) += i }
    })
    // orient each edge toward the higher (degree, id) endpoint
    def rank(v: Int) = (adj(v).size, v)
    val out = Array.tabulate(n)(v => adj(v).filter(u => Ordering[(Int, Int)].lt(rank(v), rank(u))).toArray)
    val outSet = out.map(_.toSet)
    var t = 0L
    var v = 0
    while (v < n) {
      val ov = out(v)
      ov.foreach(u => out(u).foreach(w => if (outSet(v)(w)) t += 1))
      v += 1
    }
    t
  }

  /** Number of (src, friend, friend-of-friend) paths. */
  def twoHop(g: Gen.GraphData): Long =
    g.friend.iterator.map(_.iterator.map(f => g.friend(f).size.toLong).sum).sum

  /** The engine's fixed-point PageRank, replayed with the same integer
    * arithmetic: every node of every label is a vertex, friend edges carry
    * rank. Returns the top `k` ids by (rank desc, id asc).
    */
  def pageRankTop(g: Gen.GraphData, iters: Int, k: Int, id: String => String = identity,
      scale: Long = 1000000000L): Seq[(String, Long)] = {
    val n = g.size.persons
    val base = (15L * scale) / 100L
    val deg = g.friend.map(_.size.toLong)
    var rank = Array.fill(n)(scale)
    (0 until iters).foreach { _ =>
      val acc = new Array[Long](n)
      var v = 0
      while (v < n) {
        if (deg(v) > 0) { val c = rank(v) / deg(v); g.friend(v).foreach(u => acc(u) += c) }
        v += 1
      }
      rank = acc.map(a => base + (85L * a) / 100L)
    }
    // non-person vertices have no edges and sit at the base rank
    val persons = (0 until n).map(i => (id(s"p$i"), rank(i)))
    val others = (0 until g.size.activities).map(i => (id(s"a$i"), base)) ++
      (0 until g.size.objects).map(i => (id(s"o$i"), base))
    (persons ++ others).sortBy { case (id, r) => (-r, id) }.take(k)
  }

  /** Bounded single-source shortest paths (at most `maxIters` edges, edges
    * undirected): (vertices reached, sum of distances).
    */
  def weightedDistance(edges: Seq[(Int, Int, Double)], n: Int, start: Int,
      maxIters: Int): (Long, Double) = {
    val adj = Array.fill(n)(mutable.ArrayBuffer.empty[(Int, Double)])
    edges.foreach { case (a, b, w) => adj(a) += ((b, w)); adj(b) += ((a, w)) }
    var dist = Map(start -> 0.0)
    var frontier = dist
    var i = 0
    while (i < maxIters && frontier.nonEmpty) {
      val cand = mutable.Map.empty[Int, Double]
      frontier.foreach { case (v, d) => adj(v).foreach { case (u, w) =>
        val c = d + w
        if (cand.get(u).forall(c < _)) cand(u) = c
      } }
      val improved = cand.filter { case (u, c) => dist.get(u).forall(c < _) }.toMap
      dist = dist ++ improved
      frontier = improved
      i += 1
    }
    (dist.size.toLong, dist.values.sum)
  }

  // ------------------------------------------------------------- text

  /** The engine's tokenizer on generated text: lower-case, split on spaces. */
  def tokens(text: String): Array[String] = text.toLowerCase.trim.split("\\s+")

  /** BM25 over an in-memory corpus (k1 = 1.2, b = 0.75), the engine's
    * scoring rule: distinct query terms, log(1 + (N - df + .5)/(df + .5)),
    * score rounded to 5 places, ties broken by corpus id.
    */
  final class Bm25(docs: Iterable[(Long, String)]) {
    private val tf: Map[Long, Map[String, Int]] =
      docs.map { case (id, t) => id -> tokens(t).groupMapReduce(identity)(_ => 1)(_ + _) }.toMap
    private val dl: Map[Long, Int] = docs.map { case (id, t) => id -> tokens(t).length }.toMap
    private val nDocs = dl.size.toDouble
    private val avgdl = dl.values.map(_.toDouble).sum / nDocs
    private val postings: Map[String, Seq[Long]] =
      tf.toSeq.flatMap { case (id, m) => m.keys.map(_ -> id) }.groupMap(_._1)(_._2)

    /** Every matching doc's score, rounded as the engine rounds. */
    def scores(query: String): Map[Long, Double] = {
      val (k1, b) = (1.2, 0.75)
      val acc = mutable.Map.empty[Long, Double].withDefaultValue(0.0)
      tokens(query).distinct.foreach { term =>
        val ids = postings.getOrElse(term, Nil)
        val df = ids.size.toDouble
        val idf = math.log(1.0 + (nDocs - df + 0.5) / (df + 0.5))
        ids.foreach { id =>
          val f = tf(id)(term).toDouble
          acc(id) += idf * f * (k1 + 1.0) / (f + k1 * (1.0 - b + b * dl(id) / avgdl))
        }
      }
      acc.toMap.map { case (id, s) =>
        id -> BigDecimal(s + 1e-9).setScale(5, BigDecimal.RoundingMode.HALF_UP).toDouble }
    }

    def topK(query: String, k: Int): Seq[(Long, Double)] =
      scores(query).toSeq.sortBy { case (id, s) => (-s, id) }.take(k)
  }

  /** Top-k lists agree when scores match rank by rank within `tol`, and
    * every returned id scores what the reference says it scores (so ties
    * may come back in either order).
    */
  def sameTopK(got: Seq[(Long, Double)], ref: Seq[(Long, Double)], all: Long => Option[Double],
      tol: Double = 2e-5): Boolean =
    got.size == ref.size &&
      got.zip(ref).forall { case ((_, gs), (_, rs)) => math.abs(gs - rs) <= tol } &&
      got.forall { case (id, s) => all(id).exists(x => math.abs(x - s) <= tol) }

  def cosine(a: Array[Double], b: Array[Double]): Double = {
    var (dot, na, nb) = (0.0, 0.0, 0.0)
    var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    dot / math.sqrt(na * nb)
  }

  /** Exact cosine top-k ids of `q` over `corpus`. */
  def exactTopK(corpus: Seq[(Long, Array[Double])], q: Array[Double], k: Int): Seq[Long] =
    corpus.map { case (id, v) => (id, cosine(v, q)) }.sortBy { case (id, c) => (-c, id) }.take(k).map(_._1)
}
