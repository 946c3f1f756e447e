package edgybench

import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded input generators. Everything the engine sees is produced here from
  * the run's seed; the same seed gives the same inputs. Each generator also
  * returns the properties it planted, so checks and the result line can
  * state them.
  */
object Gen {

  /** Zipf(s) over `n` ranks; rank 0 is the most popular. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x / total; acc }
    }
    def sample(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  def shuffled(n: Int, r: SplittableRandom): Array[Int] = {
    val a = Array.range(0, n)
    var i = n - 1
    while (i > 0) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
    a
  }

  // ------------------------------------------------------------- graph

  final case class GraphSize(persons: Int, activities: Int, objects: Int,
      friendMin: Int = 5, friendCap: Int = 150, spouseShare: Double = 0.4,
      plantedViolations: Int = 0)

  /** The demo schema's data (DemoGraph.schema), held as adjacency the checks
    * can replay. Ids are `p<i>`, `a<i>`, `o<i>`; names are unique.
    */
  final class GraphData(val size: GraphSize) {
    val personName: Array[String] = Array.tabulate(size.persons)(i => s"Person $i")
    val age: Array[Long] = new Array[Long](size.persons)
    val objectName: Array[String] = Array.tabulate(size.objects)(i => s"Object $i")
    val activityName: Array[String] = Array.tabulate(size.activities)(i => s"Activity $i")
    // relation adjacency, src index -> dst indexes (bag kept as a buffer)
    val friend: Array[mutable.ArrayBuffer[Int]] = Array.fill(size.persons)(mutable.ArrayBuffer.empty[Int])
    val hobby: Array[Array[Int]] = new Array[Array[Int]](size.persons)
    val possession: Array[mutable.ArrayBuffer[Int]] = Array.fill(size.persons)(mutable.ArrayBuffer.empty[Int])
    val tool: Array[Array[Int]] = new Array[Array[Int]](size.activities)
    // spouse edges as stored pairs (a, b); symmetric relation
    val spouse: mutable.ArrayBuffer[(Int, Int)] = mutable.ArrayBuffer.empty

    /** Long id of a string id under the long-id layout. */
    def id(s: String): Long = s.head match {
      case 'p' => s.tail.toLong
      case 'a' => size.persons + s.tail.toLong
      case _   => size.persons + size.activities + s.tail.toLong
    }

    def friendEdges: Long = friend.iterator.map(_.size.toLong).sum
    def meanFriendDegree: Double = friendEdges.toDouble / size.persons
    def maxFriendDegree: Int = friend.iterator.map(_.size).max

    /** Reference for DemoGraph.missingTools: tools of the person's hobbies
      * minus (own possessions ++ friends' possessions), as a multiset of
      * object names, sorted.
      */
    def missingTools(p: Int): Seq[String] = {
      val need = mutable.Map.empty[Int, Int].withDefaultValue(0)
      hobby(p).foreach(a => tool(a).foreach(o => need(o) += 1))
      val have = possession(p).iterator ++ friend(p).iterator.flatMap(f => possession(f))
      have.foreach(o => if (need(o) > 0) need(o) -= 1)
      need.toSeq.flatMap { case (o, n) => Seq.fill(n)(objectName(o)) }.sorted
    }
  }

  def graph(seed: Long, size: GraphSize): GraphData = {
    val r = new SplittableRandom(seed)
    val g = new GraphData(size)
    val n = size.persons
    var i = 0
    while (i < n) { g.age(i) = 18 + r.nextInt(63); i += 1 }
    // friend targets are Zipf over a seeded popularity order; out-degree is
    // a capped Pareto(alpha = 2) with minimum friendMin (mean near 2x min)
    val popular = shuffled(n, r)
    val targetZipf = new Zipf(n, 0.8)
    i = 0
    while (i < n) {
      val d = math.min(size.friendCap, (size.friendMin / math.sqrt(1.0 - r.nextDouble())).toInt)
      val seen = mutable.HashSet.empty[Int]
      var tries = 0
      while (seen.size < d && tries < 4 * d) {
        val t = popular(targetZipf.sample(r))
        if (t != i) seen += t
        tries += 1
      }
      g.friend(i) ++= seen.toSeq.sorted
      i += 1
    }
    val actZipf = new Zipf(size.activities, 0.8)
    i = 0
    while (i < n) {
      g.hobby(i) = Array.fill(1 + r.nextInt(3))(actZipf.sample(r)).distinct
      g.possession(i) ++= Array.fill(r.nextInt(5))(r.nextInt(size.objects)).distinct
      i += 1
    }
    var a = 0
    while (a < size.activities) {
      g.tool(a) = Array.fill(3 + r.nextInt(4))(r.nextInt(size.objects)).distinct
      a += 1
    }
    // monogamous couples, then planted cardinality violations: a married
    // person takes a second spouse from the unmarried pool
    val order = shuffled(n, r)
    val couples = (size.spouseShare * n / 2).toInt
    (0 until couples).foreach(c => g.spouse += ((order(2 * c), order(2 * c + 1))))
    val pool = order.drop(2 * couples).iterator
    (0 until size.plantedViolations).foreach(v => g.spouse += ((order(2 * v), pool.next())))
    g
  }

  // ------------------------------------------------------------- corpus

  final case class CorpusSize(docs: Int, tokens: Int, vocab: Int,
      nearDupShare: Double, exactDupShare: Double,
      vectors: Int, dim: Int, clusters: Int, vecNearCopyShare: Double,
      bm25Queries: Int, annQueries: Int)

  final case class NearDup(doc: Long, source: Long, jaccard: Double)

  final class CorpusData {
    val docs: mutable.ArrayBuffer[(Long, String)] = mutable.ArrayBuffer.empty
    val nearDups: mutable.ArrayBuffer[NearDup] = mutable.ArrayBuffer.empty
    // exact-duplicate groups: source id -> copy ids
    val exactGroups: mutable.ArrayBuffer[(Long, Seq[Long])] = mutable.ArrayBuffer.empty
    val vectors: mutable.ArrayBuffer[(Long, Array[Double])] = mutable.ArrayBuffer.empty
    val bm25Queries: mutable.ArrayBuffer[(Long, String)] = mutable.ArrayBuffer.empty
    val annQueries: mutable.ArrayBuffer[(Long, Array[Double])] = mutable.ArrayBuffer.empty
  }

  def word(i: Int): String = s"w$i"

  def shingles(toks: Array[String], n: Int = 3): Set[String] =
    if (toks.length < n) Set(toks.mkString(" "))
    else toks.sliding(n).map(_.mkString(" ")).toSet

  def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 1.0 else (a intersect b).size.toDouble / (a union b).size

  /** A near-duplicate of `src`: a share `rate` of positions take fresh
    * words, so its 3-shingle Jaccard to the source falls near 0.7–0.95.
    */
  def perturb(src: Array[String], rate: Double, vocab: Int, r: SplittableRandom): Array[String] =
    src.map(t => if (r.nextDouble() < rate) word(vocab + r.nextInt(vocab)) else t)

  /** Docs from a Zipf vocabulary with planted near and exact duplicates,
    * plus clustered embeddings with planted near copies, and the query
    * sets. Doc ids start at `firstId`; vector ids at 0; query ids are far
    * above every corpus id so no query excludes itself.
    */
  def corpus(seed: Long, size: CorpusSize, firstId: Long = 0L,
      dupSources: Option[IndexedSeq[(Long, String)]] = None): CorpusData = {
    val r = new SplittableRandom(seed)
    val c = new CorpusData
    val z = new Zipf(size.vocab, 1.0)
    val nNear = (size.docs * size.nearDupShare).toInt
    val nExact = (size.docs * size.exactDupShare).toInt
    val nFresh = size.docs - nNear - nExact
    def fresh(): Array[String] = Array.fill(size.tokens)(word(z.sample(r)))
    var id = firstId
    (0 until nFresh).foreach { _ => c.docs += ((id, fresh().mkString(" "))); id += 1 }
    val sources = dupSources.getOrElse(c.docs.toIndexedSeq)
    // near-duplicates: keep only those whose true Jaccard lands in band
    var made = 0
    while (made < nNear) {
      val (sid, stext) = sources(r.nextInt(sources.size))
      val st = stext.split(' ')
      val nt = perturb(st, 0.01 + 0.05 * r.nextDouble(), size.vocab, r)
      val j = jaccard(shingles(st), shingles(nt))
      if (j >= 0.7 && j <= 0.95) {
        c.docs += ((id, nt.mkString(" "))); c.nearDups += NearDup(id, sid, j); id += 1; made += 1
      }
    }
    // exact duplicates in groups of 1–3 copies of one fresh source
    val freshDocs = c.docs.take(nFresh).toIndexedSeq
    val used = mutable.HashSet.empty[Long]
    var copies = 0
    while (copies < nExact) {
      val (sid, stext) = freshDocs(r.nextInt(freshDocs.size))
      if (!used(sid) && !c.nearDups.exists(_.source == sid)) {
        used += sid
        val k = math.min(nExact - copies, 1 + r.nextInt(3))
        val ids = (0 until k).map { _ => c.docs += ((id, stext)); id += 1; id - 1 }
        c.exactGroups += ((sid, ids)); copies += k
      }
    }
    // clustered unit-scale embeddings; a share are near copies of another
    val centers = Array.fill(size.clusters)(Array.fill(size.dim)(r.nextGaussian()))
    var v = 0L
    while (v < size.vectors) {
      val vec =
        if (v > 0 && r.nextDouble() < size.vecNearCopyShare) {
          val src = c.vectors(r.nextInt(c.vectors.size))._2
          src.map(x => x + 0.01 * r.nextGaussian())
        } else {
          val ctr = centers(r.nextInt(size.clusters))
          ctr.map(x => x + 0.35 * r.nextGaussian())
        }
      c.vectors += ((v, vec)); v += 1
    }
    // BM25 queries: 3–5 mid-frequency words; ANN queries: noisy corpus vectors
    (0 until size.bm25Queries).foreach { q =>
      val terms = Array.fill(3 + r.nextInt(3))(word(20 + r.nextInt(math.max(1, size.vocab / 20))))
      c.bm25Queries += ((1000000000L + q, terms.mkString(" ")))
    }
    (0 until size.annQueries).foreach { q =>
      val src = c.vectors(r.nextInt(c.vectors.size))._2
      c.annQueries += ((1000000000L + q, src.map(x => x + 0.2 * r.nextGaussian())))
    }
    c
  }
}
