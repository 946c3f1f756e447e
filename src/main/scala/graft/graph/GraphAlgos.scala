package graft.graph

import scala.reflect.ClassTag
import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.graphx.{Edge, Graph, VertexId}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType, StringType}
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String

import graft.schema.GraphSchema.{DstCol, IdCol, SrcCol}

/** Graph analytics over a PropertyGraph (SURVEY.md §2 "multi-hop graph
  * traversal at scale" + Phase 4), on one of two engines chosen from exact
  * counts of the input.
  *
  * Driver-local snapshot (`connectedComponents`, `triangleCount`,
  * `weightedDistance`, `pageRankFixedPoint`): when the node rows and the
  * selected edges fit [[LocalMaxVerts]] / [[LocalMaxEdges]] and a bound of
  * the driver heap they take fits Spark's user memory ([[SnapSize]]), one
  * sizing job checks both before any row moves, one collect ships the graph
  * as densely indexed primitive arrays (ids dictionary-encoded per
  * partition, merged on the driver), a kernel runs over those arrays
  * (union-find, sorted-merge triangles, bounded relaxation, the integer
  * PageRank of [[pageRankFixedPointLong]]), and the result comes back
  * through one broadcast and an eager localCheckpoint — three jobs where
  * the distributed plans below spend 15-27 on a small graph. Each kernel
  * mirrors its distributed path on dangling endpoints, duplicate edges,
  * self-loops and null ids or weights (GraphSpec pins local ≡
  * distributed).
  *
  * Distributed (past the caps, and for `relatedN`, `hopDistance`,
  * `pageRank`): unbounded-depth reachability and components run as GraphX
  * Pregel supersteps instead of self-join-per-hop Catalyst plans (a k-hop
  * join chain builds k shuffles and an exploding plan; Pregel reuses one
  * partitioning across iterations); triangles, bounded SSSP and the
  * fixed-point PageRank run as DataFrame loops.
  *
  * Projection contract: string node ids get COLLISION-FREE VertexId longs
  * via a dictionary (`monotonically_increasing_id`), pinned with
  * localCheckpoint so every consumer (vertex RDD, per-relation edge joins)
  * sees the same assignment. A content hash (xxhash64) would be cheaper —
  * no dictionary joins — but carries a ≈2.7% birthday-collision chance at
  * 10^9 nodes, and a collision silently MERGES two vertices, corrupting
  * every downstream algorithm; the dictionary makes that unrepresentable.
  * Results always travel back through vertex ATTRS (label, original id),
  * never raw vids, so the run-dependent numbering is invisible to callers.
  */
object GraphAlgos {

  /** Project a PropertyGraph (optionally restricted to some relations) to a
    * GraphX graph. Vertex attr = (label, original id as a string, whatever
    * the graph's id type); edge attr = relation name. Returns the graph
    * plus the pinned dictionary (string id `nid` → vid) for callers that
    * need a specific vertex (e.g. BFS start).
    */
  def toGraphX(g: PropertyGraph, relations: Seq[String] = Seq.empty)
      : (Graph[(String, String), String], DataFrame) = {
    val rels = if (relations.isEmpty) g.schema.relationDefs.map(_.name) else relations
    val dict = g.nodeTables.toSeq.map { case (label, df) =>
      df.select(col(IdCol).cast(StringType).as("nid"), lit(label).as("nlabel"))
    }.reduce(_ unionByName _)
      .withColumn("vid", monotonically_increasing_id())
      // pin: the id expression is partition-dependent; without the
      // checkpoint, AQE could re-evaluate the plan with different
      // partitioning per consumer and hand vertices and edges different
      // numberings
      .localCheckpoint(true)
    val vertices = dict.rdd.map(r =>
      (r.getAs[VertexId]("vid"), (r.getAs[String]("nlabel"), r.getAs[String]("nid"))))
    val edges = rels.map { r =>
      g.edgeTables(r)
        .select(col(SrcCol).cast(StringType).as(SrcCol), col(DstCol).cast(StringType).as(DstCol))
        .join(dict.select(col("nid").as(SrcCol), col("vid").as("svid")), Seq(SrcCol))
        .join(dict.select(col("nid").as(DstCol), col("vid").as("dvid")), Seq(DstCol))
        .select(col("svid"), col("dvid"))
        .rdd.map(row => Edge(row.getLong(0), row.getLong(1), r))
    }.reduce(_ union _)
    (Graph(vertices, edges, defaultVertexAttr = ("", ""),
      edgeStorageLevel = StorageLevel.MEMORY_AND_DISK,
      vertexStorageLevel = StorageLevel.MEMORY_AND_DISK), dict)
  }

  /** `id` back in the graph's id type: vertex attrs carry ids as strings
    * ([[toGraphX]]), results return them as the graph stores them.
    */
  private def typedId(g: PropertyGraph, df: DataFrame): DataFrame =
    df.withColumn(IdCol, col(IdCol).cast(g.schema.idType))

  /** Materialize `out` (eager localCheckpoint) and release the GraphX
    * graphs and the [[toGraphX]] dictionary that back it. GraphX pins vertex/edge RDDs at
    * MEMORY_AND_DISK and never frees them itself, so returning a lazy
    * DataFrame over a still-cached graph leaks a graph-sized
    * block-manager footprint per CALL — in a long-lived driver (a bench
    * loop, a notebook, a service) repeated invocations accumulate until
    * eviction thrash; at sf1 (7.5M edges) back-to-back g10 runs degraded
    * from seconds to minutes before this release. The checkpoint
    * materializes the (small) result rows first, so freeing the graphs
    * cannot trigger recompute.
    */
  private def releasing(out: DataFrame, dict: DataFrame, graphs: Graph[_, _]*)
      : DataFrame = {
    val pinned = out.localCheckpoint(true)
    graphs.foreach(_.unpersist(blocking = false))
    freePinned(dict)
    pinned
  }

  // ---- driver-local snapshot ----------------------------------------

  /** Most node rows and most selected edges a driver-local snapshot takes
    * (for an edge list, whose vertices are its endpoints, the vertex cap
    * bounds 2 × edges), and the caps of [[pageRankFixedPointLong]]'s
    * long-keyed local path. Checked on exact counts before any row moves;
    * past either cap the distributed plans run. The PageRank kernel over
    * long arrays measured 6 s locally vs 58 s distributed at sf1 (7.5M
    * edges). A snapshot must also fit the driver (see [[SnapSize]]), which
    * for string ids binds well below these caps.
    */
  private[graft] val LocalMaxVerts = 4_000_000L
  private[graft] val LocalMaxEdges = 16_000_000L

  /** Exact sizes of a snapshot's input, from its sizing job: node rows,
    * edges, non-null id references (2 per edge, 1 per node row) and their
    * UTF-8 bytes.
    *
    * `heapBytes` bounds the driver heap a snapshot holds at its peak. Worst
    * case, every id reference is a distinct id within its partition, so
    * each partition dictionary ships its own String of it, and every
    * partition is live at once — as collected bytes, decoded rows and
    * [[SnapPart]] objects — while the merge fills the arrays and the
    * global dictionary; a kernel's working arrays and the result's
    * broadcast come on top. The per-row, per-reference and per-byte
    * constants are empirical upper bounds: on string-keyed graphs with ids
    * spread over 200 partitions, under `-Xmx3g` on local[4], the live heap
    * after GC rose 759-902 MB above its baseline for 400k nodes / 1.5M
    * edges of 36-char ids (each of the four kernels; bounds 1202-1392 MB),
    * 884 MB for 600k / 2.5M edges of 6-digit ids (triangles; bound 1483
    * MB) and 2755 MB for 1.6M / 6M edges of 36-char ids (triangles, bound
    * 5570 MB; its heap reached 2998 of 3072 MB before a GC — the 16M edge
    * cap alone does not keep a string-keyed snapshot inside such a
    * driver). `resultBytes` bounds the bytes the collect ships, which
    * `spark.driver.maxResultSize` counts: 21 B of arrays per row plus null
    * bits, and each id reference's offset, padding and bytes.
    */
  private[graft] final case class SnapSize(nodeRows: Long, edges: Long, idRefs: Long,
      idBytes: Long) {
    def heapBytes: Long = 160L * (nodeRows + edges) + 160L * idRefs + 5L * idBytes
    def resultBytes: Long = 24L * (nodeRows + edges) + 16L * idRefs + idBytes
  }

  /** A snapshot of `size` fits the driver when its heap bound stays within
    * Spark's user memory — the heap outside `spark.memory.fraction`, after
    * the 300 MB Spark reserves — and its collected bytes within half of
    * `spark.driver.maxResultSize` (0 = unlimited).
    */
  private[graft] def fitsDriver(spark: SparkSession, size: SnapSize): Boolean = {
    val conf = spark.sparkContext.getConf
    val userMemory = ((Runtime.getRuntime.maxMemory - (300L << 20)) *
      (1.0 - conf.getDouble("spark.memory.fraction", 0.6))).toLong
    val maxResult = conf.getSizeAsBytes("spark.driver.maxResultSize", "1g")
    size.heapBytes <= userMemory && (maxResult == 0 || size.resultBytes <= maxResult / 2)
  }

  /** Id types the snapshot kernels order and compare exactly: the ids
    * travel as strings (as in [[toGraphX]]) and come back cast.
    */
  private def snapshotIdType(dt: DataType): Boolean =
    dt == StringType || dt == LongType || dt == IntegerType

  /** One snapshot input row: a node row (`kind` = its label's index, `a`
    * = its id) or an edge (`kind` = -1, endpoints `a`/`b`, weight `w`;
    * `aStart`/`bStart` mark an endpoint equal to the relaxation start,
    * compared by Spark in the column's own type).
    */
  private[graph] final case class SnapRow(kind: Int, a: String, b: String,
      w: java.lang.Double, aStart: Boolean, bStart: Boolean)

  private def snapCols(kind: Int, a: Column, b: Column,
      w: Column = lit(null), aStart: Column = lit(false),
      bStart: Column = lit(false)): Seq[Column] =
    Seq(lit(kind).as("kind"), a.cast(StringType).as("a"),
      b.cast(StringType).as("b"), w.cast(DoubleType).as("w"),
      aStart.as("aStart"), bStart.as("bStart"))

  /** One partition's rows packed as primitive arrays, ids encoded against
    * the partition's own dictionary `ids` (-1 = null), so each distinct id
    * crosses to the driver once per partition, not once per row.
    */
  private[graph] final case class SnapPart(ids: Array[String],
      kind: Array[Int], a: Array[Int], b: Array[Int], w: Array[Double],
      wNull: Array[Boolean], start: Int)

  /** Insertion-ordered string → dense index dictionary (null → -1). */
  private final class IdDict {
    private val index = new java.util.HashMap[String, Integer]
    private val ids = Array.newBuilder[String]
    def apply(id: String): Int =
      if (id == null) -1
      else {
        val k = index.get(id)
        if (k != null) k.intValue
        else { val i = index.size; index.put(id, i); ids += id; i }
      }
    def result(): Array[String] = ids.result()
  }

  private def pack(rows: Iterator[SnapRow]): SnapPart = {
    val dict = new IdDict
    val kind, a, b = Array.newBuilder[Int]
    val w = Array.newBuilder[Double]
    val wNull = Array.newBuilder[Boolean]
    var start = -1
    rows.foreach { r =>
      val ia = dict(r.a); val ib = dict(r.b)
      kind += r.kind; a += ia; b += ib
      wNull += r.w == null
      w += (if (r.w == null) 0.0 else r.w.doubleValue)
      if (start < 0) start = if (r.aStart) ia else if (r.bStart) ib else -1
    }
    SnapPart(dict.result(), kind.result(), a.result(), b.result(),
      w.result(), wNull.result(), start)
  }

  /** The graph on the driver: `ids` is the dense id dictionary; node row i
    * is labelled `labels(nodeLabel(i))` with id index `nodeId(i)`; edge e
    * joins `src(e)`–`dst(e)` at `weight(e)` (SQL null where
    * `weightNull(e)`); id index -1 is a null id; `start` is the id index
    * flagged as the relaxation start (-1 = none).
    */
  private final class Snapshot(val labels: Array[String], val ids: Array[String],
      val nodeLabel: Array[Int], val nodeId: Array[Int],
      val src: Array[Int], val dst: Array[Int],
      val weight: Array[Double], val weightNull: Array[Boolean], val start: Int)

  /** Size `rows` (one job, see [[SnapSize]]), and when `fits(nodeRows,
    * edges)` holds and the snapshot fits the driver, collect them (one job)
    * and merge the partitions' dictionaries into one [[Snapshot]].
    */
  private def snapshot(rows: DataFrame, labels: Array[String],
      fits: (Long, Long) => Boolean): Option[Snapshot] = {
    val spark = rows.sparkSession
    import spark.implicits._
    def bytes(c: String) = coalesce(octet_length(col(c)), lit(0))
    def refs(c: String) = col(c).isNotNull.cast(IntegerType)
    val size = rows.select(col("kind"), refs("a") + refs("b"), bytes("a") + bytes("b"))
      .as[(Int, Int, Int)].mapPartitions { it =>
        var n, m, r, b = 0L
        it.foreach { case (k, ri, bi) =>
          if (k >= 0) n += 1 else m += 1
          r += ri; b += bi
        }
        Iterator((n, m, r, b))
      }.collect()
      .foldLeft(SnapSize(0, 0, 0, 0)) { case (t, (n, m, r, b)) =>
        SnapSize(t.nodeRows + n, t.edges + m, t.idRefs + r, t.idBytes + b) }
    if (!fits(size.nodeRows, size.edges) || !fitsDriver(spark, size)) return None
    val parts = rows.as[SnapRow].mapPartitions(it => Iterator(pack(it))).collect()
    val dict = new IdDict
    val nodeLabel, nodeId = new Array[Int](size.nodeRows.toInt)
    val src, dst = new Array[Int](size.edges.toInt)
    val weight = new Array[Double](size.edges.toInt)
    val weightNull = new Array[Boolean](size.edges.toInt)
    var n, m = 0
    var start = -1
    parts.foreach { p =>
      val global = p.ids.map(dict(_))
      def id(i: Int) = if (i < 0) -1 else global(i)
      var r = 0
      while (r < p.kind.length) {
        if (p.kind(r) >= 0) { nodeLabel(n) = p.kind(r); nodeId(n) = id(p.a(r)); n += 1 }
        else {
          src(m) = id(p.a(r)); dst(m) = id(p.b(r))
          weight(m) = p.w(r); weightNull(m) = p.wNull(r)
          m += 1
        }
        r += 1
      }
      if (start < 0) start = id(p.start)
    }
    Some(new Snapshot(labels, dict.result(), nodeLabel, nodeId, src, dst, weight,
      weightNull, start))
  }

  /** Snapshot of `g`'s node rows and the edges of `relations` (all when
    * empty), or None past `maxVerts` node rows or `maxEdges` edges.
    */
  private def graphSnapshot(g: PropertyGraph, relations: Seq[String],
      maxVerts: Long = LocalMaxVerts, maxEdges: Long = LocalMaxEdges): Option[Snapshot] =
    if (!snapshotIdType(g.schema.idType)) None
    else {
      val rels = if (relations.isEmpty) g.schema.relationDefs.map(_.name) else relations
      val labels = g.nodeTables.keys.toArray
      val nodes = labels.zipWithIndex.map { case (l, k) =>
        g.nodeTables(l).select(snapCols(k, col(IdCol), lit(null)): _*) }
      val edges = rels.map(r =>
        g.edgeTables(r).select(snapCols(-1, col(SrcCol), col(DstCol)): _*))
      snapshot((nodes ++ edges).reduce(_ unionByName _), labels,
        (n, m) => n <= maxVerts && m <= maxEdges)
    }

  /** A driver-computed result as a DataFrame: `data` goes out as ONE
    * broadcast, `spark.range(n)` maps each index to its row, `shape`
    * names and casts the columns, and the eager localCheckpoint lets the
    * broadcast be destroyed here — left lazy, the closure would pin the
    * arrays (and their broadcast block copies) for the result's lifetime,
    * a residue measured billing the NEXT query (+0.6 s on g09 after g06).
    * Not a LocalRelation (re-encodes the rows on the driver and ships them
    * inside every downstream task binary) and not parallelize (serializes
    * the rows from the driver per execution). The result is the one pin
    * left behind.
    */
  private def fromDriver[B: ClassTag, R <: Product : TypeTag](spark: SparkSession,
      n: Int, data: B)(row: (B, Int) => R)(shape: DataFrame => DataFrame)
      : DataFrame = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(data)
    val out = shape(spark.range(n).map(i => row(bc.value, i.intValue)).toDF())
      .localCheckpoint(true)
    bc.destroy()
    out
  }

  /** A per-node-row snapshot result as (label, id, `valueCol`), the id
    * (and the value, when `valueIsId`) back in the graph's id type.
    */
  private def nodeResult[V: ClassTag : TypeTag](g: PropertyGraph, s: Snapshot,
      valueCol: String, values: Array[V], valueIsId: Boolean = false): DataFrame = {
    val idType = g.schema.idType
    val spark = g.nodeTables.head._2.sparkSession
    fromDriver(spark, s.nodeId.length, (s.labels, s.ids, s.nodeLabel, s.nodeId, values)) {
      case ((labels, ids, nodeLabel, nodeId, v), i) =>
        (labels(nodeLabel(i)), if (nodeId(i) < 0) null else ids(nodeId(i)), v(i))
    } { df =>
      val out = df.toDF("label", IdCol, valueCol).withColumn(IdCol, col(IdCol).cast(idType))
      if (valueIsId) out.withColumn(valueCol, col(valueCol).cast(idType)) else out
    }
  }

  /** `i` sorts before `j` the way Spark's `min` orders `idType`: UTF-8
    * byte order for strings (Java's UTF-16 `compareTo` disagrees past the
    * BMP), numeric order for integral ids.
    */
  private def idLess(ids: Array[String], idType: DataType): (Int, Int) => Boolean =
    if (idType == StringType) {
      val u = ids.map(UTF8String.fromString)
      (i, j) => u(i).compareTo(u(j)) < 0
    } else {
      val l = ids.map(_.toLong)
      (i, j) => l(i) < l(j)
    }

  /** Connected components over the snapshot's node ids — union-find.
    * Edges with a null endpoint or one that is no node id drop out, as in
    * the [[toGraphX]] joins; node rows sharing an id share its component.
    * Returns, per node row, the id index of its component's minimum id
    * under `idLess`, or -1 for a null id (a singleton whose min is null).
    */
  private def componentsLocal(s: Snapshot, idType: DataType): Array[Int] = {
    val n = s.ids.length
    val isNode = new Array[Boolean](n)
    s.nodeId.foreach(i => if (i >= 0) isNode(i) = true)
    val parent = Array.range(0, n)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    var e = 0
    while (e < s.src.length) {
      val a = s.src(e); val b = s.dst(e)
      if (a >= 0 && b >= 0 && isNode(a) && isNode(b)) parent(find(a)) = find(b)
      e += 1
    }
    val less = idLess(s.ids, idType)
    val minOf = Array.fill(n)(-1)
    var i = 0
    while (i < n) {
      if (isNode(i)) {
        val r = find(i)
        if (minOf(r) < 0 || less(i, minOf(r))) minOf(r) = i
      }
      i += 1
    }
    s.nodeId.map(i => if (i < 0) -1 else minOf(find(i)))
  }

  /** Triangles per id index: [[triangleCountEdges]] on arrays. The edges
    * form one simple undirected graph — self-loops and null endpoints
    * drop, duplicates in either orientation collapse, dangling endpoints
    * stay vertices. Each edge is oriented toward its higher-(degree,
    * index) end, and for each oriented edge (s, t) a merge of the two
    * sorted out-lists finds the closers w: the count is credited to s and
    * to t, and 1 to each w, so every triangle reaches all three corners.
    */
  private def trianglesLocal(s: Snapshot): Array[Long] = {
    val n = s.ids.length
    val packed = Array.newBuilder[Long]
    var e = 0
    while (e < s.src.length) {
      val a = s.src(e); val b = s.dst(e)
      if (a >= 0 && b >= 0 && a != b)
        packed += (math.min(a, b).toLong << 32) | math.max(a, b)
      e += 1
    }
    val canon = packed.result()
    java.util.Arrays.sort(canon)
    var m = 0
    e = 0
    while (e < canon.length) {
      if (m == 0 || canon(m - 1) != canon(e)) { canon(m) = canon(e); m += 1 }
      e += 1
    }
    val deg = new Array[Int](n)
    e = 0
    while (e < m) { deg((canon(e) >>> 32).toInt) += 1; deg(canon(e).toInt) += 1; e += 1 }
    def lower(u: Int, v: Int) = deg(u) < deg(v) || (deg(u) == deg(v) && u < v)
    def tail(e: Int) = {
      val u = (canon(e) >>> 32).toInt; val v = canon(e).toInt
      if (lower(u, v)) u else v
    }
    val off = new Array[Int](n + 1)
    e = 0
    while (e < m) { off(tail(e) + 1) += 1; e += 1 }
    var v = 0
    while (v < n) { off(v + 1) += off(v); v += 1 }
    val nbr = new Array[Int](m)
    val fill = java.util.Arrays.copyOf(off, n)
    e = 0
    while (e < m) {
      val u = (canon(e) >>> 32).toInt; val w = canon(e).toInt
      val t = tail(e)
      nbr(fill(t)) = if (t == u) w else u
      fill(t) += 1
      e += 1
    }
    v = 0
    while (v < n) { java.util.Arrays.sort(nbr, off(v), off(v + 1)); v += 1 }
    val tri = new Array[Long](n)
    v = 0
    while (v < n) {
      var k = off(v)
      while (k < off(v + 1)) {
        val t = nbr(k)
        var i = off(v); var j = off(t); var c = 0L
        while (i < off(v + 1) && j < off(t + 1)) {
          if (nbr(i) < nbr(j)) i += 1
          else if (nbr(i) > nbr(j)) j += 1
          else { tri(nbr(i)) += 1; c += 1; i += 1; j += 1 }
        }
        tri(v) += c; tri(t) += c
        k += 1
      }
      v += 1
    }
    tri
  }

  private final val Unreached: Byte = 0
  private final val ReachedNull: Byte = 1 // at a SQL-null distance
  private final val Reached: Byte = 2

  /** Bounded undirected relaxation from `s.start`, replaying the
    * distributed loop of [[weightedDistanceLong]] round for round,
    * including its SQL semantics: a candidate through a null weight or a
    * null-distance vertex is null, a vertex's message is the min of its
    * non-null candidates (null when all are null), min and `<` order NaN
    * above every number, and a vertex whose distance is null counts as
    * improved by any message. Edges with a null endpoint drop out.
    * Returns, per id index, a reach state and the distance when it is
    * `Reached`.
    */
  private def relaxLocal(s: Snapshot, maxIters: Int): (Array[Byte], Array[Double]) = {
    val n = s.ids.length
    val off = new Array[Int](n + 1)
    var e = 0
    while (e < s.src.length) {
      if (s.src(e) >= 0 && s.dst(e) >= 0) { off(s.src(e) + 1) += 1; off(s.dst(e) + 1) += 1 }
      e += 1
    }
    var v = 0
    while (v < n) { off(v + 1) += off(v); v += 1 }
    val nbr = new Array[Int](off(n))
    val w = new Array[Double](off(n))
    val wNull = new Array[Boolean](off(n))
    val fill = java.util.Arrays.copyOf(off, n)
    def add(from: Int, to: Int, e: Int): Unit = {
      val k = fill(from)
      nbr(k) = to; w(k) = s.weight(e); wNull(k) = s.weightNull(e)
      fill(from) += 1
    }
    e = 0
    while (e < s.src.length) {
      if (s.src(e) >= 0 && s.dst(e) >= 0) { add(s.src(e), s.dst(e), e); add(s.dst(e), s.src(e), e) }
      e += 1
    }
    def less(x: Double, y: Double) = SQLOrderingUtil.compareDoubles(x, y) < 0
    val state = new Array[Byte](n)
    val dist = new Array[Double](n)
    val msgState = new Array[Byte](n)
    val msg = new Array[Double](n)
    state(s.start) = Reached
    var frontier = Array(s.start)
    var round = 0
    while (round < maxIters && frontier.nonEmpty) {
      // candidates from round-start distances: improvements land after
      // every frontier vertex has sent, as in one distributed round
      val touched = Array.newBuilder[Int]
      frontier.foreach { u =>
        var k = off(u)
        while (k < off(u + 1)) {
          val t = nbr(k)
          if (msgState(t) == Unreached) { msgState(t) = ReachedNull; touched += t }
          if (state(u) == Reached && !wNull(k)) {
            val c = dist(u) + w(k)
            if (msgState(t) != Reached || less(c, msg(t))) { msg(t) = c; msgState(t) = Reached }
          }
          k += 1
        }
      }
      val next = Array.newBuilder[Int]
      touched.result().foreach { t =>
        if (state(t) != Reached || (msgState(t) == Reached && less(msg(t), dist(t)))) {
          state(t) = msgState(t); dist(t) = msg(t); next += t
        }
        msgState(t) = Unreached
      }
      frontier = next.result()
      round += 1
    }
    (state, dist)
  }

  /** All nodes within `depth` hops of `startId` following `relation`
    * (directed) — Pregel BFS; the unbounded-depth generalization of
    * Traversal.related chains (reference: concatMapM getRelated,
    * app/Main.hs:152-156).
    */
  def relatedN(g: PropertyGraph, relation: String, startId: String, depth: Int)
      : DataFrame = {
    val spark = g.nodeTables.head._2.sparkSession
    val ref = g.schema.relation(relation)
    val (gx, dict) = toGraphX(g, Seq(ref.rel.name))
    val start = dict.where(col("nid") === startId)
      .select(col("vid")).collect().headOption
      .getOrElse(throw new IllegalArgumentException(
        s"relatedN: unknown start node '$startId'"))
      .getLong(0)
    val reversedRel = ref.reversed
    val init = gx.mapVertices((id, attr) =>
      (attr, if (id == start) 0 else Int.MaxValue))
    val bfs = init.pregel(Int.MaxValue, maxIterations = depth)(
      (_, v, msg) => (v._1, math.min(v._2, msg)),
      triplet => {
        val (fromAttr, toAttr) =
          if (reversedRel) (triplet.dstAttr, triplet.srcAttr)
          else (triplet.srcAttr, triplet.dstAttr)
        val sendTo = if (reversedRel) triplet.srcId else triplet.dstId
        if (fromAttr._2 != Int.MaxValue && fromAttr._2 + 1 < toAttr._2)
          Iterator((sendTo, fromAttr._2 + 1))
        else Iterator.empty
      },
      math.min)
    import spark.implicits._
    releasing(typedId(g, bfs.vertices
      .filter { case (_, (_, d)) => d != Int.MaxValue && d > 0 }
      .map { case (_, ((label, id), d)) => (label, id, d) }
      .toDF("label", IdCol, "hops")), dict, gx, init, bfs)
  }

  /** UNDIRECTED hop distance (unit-weight SSSP) from `startId` over the
    * selected relations: Pregel BFS with messages along both edge
    * directions, `maxHops` bounding the supersteps — returns (label, id,
    * hops) for every node settled within the bound, seed included at 0.
    * Same engine rationale as [[relatedN]]: one edge partitioning reused
    * across layers instead of a shuffle per hop.
    */
  def hopDistance(g: PropertyGraph, startId: String, maxHops: Int,
      relations: Seq[String] = Seq.empty): DataFrame = {
    val spark = g.nodeTables.head._2.sparkSession
    val (gx, dict) = toGraphX(g, relations)
    val start = dict.where(col("nid") === startId)
      .select(col("vid")).collect().headOption
      .getOrElse(throw new IllegalArgumentException(
        s"hopDistance: unknown start node '$startId'"))
      .getLong(0)
    val init = gx.mapVertices((id, attr) =>
      (attr, if (id == start) 0 else Int.MaxValue))
    val bfs = init.pregel(Int.MaxValue, maxIterations = maxHops)(
      (_, v, msg) => (v._1, math.min(v._2, msg)),
      triplet => {
        val out = List.newBuilder[(VertexId, Int)]
        if (triplet.srcAttr._2 != Int.MaxValue &&
            triplet.srcAttr._2 + 1 < triplet.dstAttr._2)
          out += ((triplet.dstId, triplet.srcAttr._2 + 1))
        if (triplet.dstAttr._2 != Int.MaxValue &&
            triplet.dstAttr._2 + 1 < triplet.srcAttr._2)
          out += ((triplet.srcId, triplet.dstAttr._2 + 1))
        out.result().iterator
      },
      math.min)
    import spark.implicits._
    releasing(typedId(g, bfs.vertices
      .filter { case (_, (_, d)) => d != Int.MaxValue }
      .map { case (_, ((label, id), d)) => (label, id, d) }
      .toDF("label", IdCol, "hops")), dict, gx, init, bfs)
  }

  /** Bounded weighted single-source shortest paths over an explicit
    * weighted edge list (src, dst, weight) — distances are the minimum
    * path weight reachable in at most `maxIters` edges, treating each
    * listed edge as undirected (messages flow both ways, the hopDistance
    * convention). Parallel edges are legal (bag semantics); the min fold
    * absorbs them.
    *
    * Scale shape: identical to hopDistance — one vertex dictionary, one
    * edge partitioning reused across supersteps, message payload one
    * double per vertex. Bounding the supersteps (rather than running to
    * fixpoint) both caps the cost on high-diameter graphs and makes the
    * result replayable by a bounded recursive-CTE oracle (g10), the same
    * contract as the BFS layers (g07). An edge list within the snapshot
    * caps relaxes on the driver instead, round for round the same.
    */
  def weightedDistance(edges: DataFrame, startId: String, maxIters: Int)
      : DataFrame = {
    val idType = edges.schema("src").dataType
    val local =
      if (!snapshotIdType(idType) || edges.schema("dst").dataType != idType) None
      else snapshot(edges.select(snapCols(-1, col("src"), col("dst"), col("weight"),
          coalesce(col("src") === startId, lit(false)),
          coalesce(col("dst") === startId, lit(false))): _*),
        Array.empty, (_, m) => 2 * m <= LocalMaxVerts && m <= LocalMaxEdges)
    local match {
      case Some(s) =>
        if (s.start < 0) throw unknownStart(startId)
        val (state, dist) = relaxLocal(s, maxIters)
        val reached = Array.range(0, state.length).filter(state(_) != Unreached)
        fromDriver(edges.sparkSession, reached.length, (s.ids, reached, state, dist)) {
          case ((ids, reached, state, dist), i) =>
            val v = reached(i)
            (ids(v), if (state(v) == Reached) java.lang.Double.valueOf(dist(v)) else null)
        }(_.toDF(IdCol, "dist").withColumn(IdCol, col(IdCol).cast(idType)))
      case None => weightedDistanceDistributed(edges, startId, maxIters)
    }
  }

  private def unknownStart(startId: String) = new IllegalArgumentException(
    s"weightedDistance: unknown start node '$startId'")

  /** [[weightedDistance]]'s distributed path: a pinned vid dictionary and
    * the [[weightedDistanceLong]] loop over the encoded edges.
    */
  private[graft] def weightedDistanceDistributed(edges: DataFrame, startId: String,
      maxIters: Int): DataFrame = {
    val dict = edges.select(col("src").as("nid"))
      .unionByName(edges.select(col("dst").as("nid")))
      .distinct()
      .withColumn("vid", monotonically_increasing_id())
      .localCheckpoint(true)
    val start = dict.where(col("nid") === startId)
      .select(col("vid")).collect().headOption
      .getOrElse { freePinned(dict); throw unknownStart(startId) }
      .getLong(0)
    val enc = edges
      .join(dict.select(col("nid").as("src"), col("vid").as("svid")), Seq("src"))
      .join(dict.select(col("nid").as("dst"), col("vid").as("dvid")), Seq("dst"))
      .select(col("svid").as("src"), col("dvid").as("dst"), col("weight"))
    val dist = weightedDistanceLong(enc, start, maxIters)
    val out = dist.join(dict, Seq("vid"))
      .select(col("nid").as(IdCol), col("dist"))
      .localCheckpoint(true)
    Seq(dist, dict).foreach(freePinned)
    out
  }

  /** Largest frontier (rows) the SSSP relaxation broadcasts: a frontier
    * of 2M (vid, dist) pairs is ~32 MB — the broadcast-hash-join cost
    * class. Beyond it the round falls back to a shuffle join (a frontier
    * that wide is a meaningful fraction of the vertex set, where the
    * shuffle is the right plan anyway).
    */
  private[graft] val BroadcastFrontierMaxRows = 2_000_000L

  /** Widest frontier (distinct vertices) the LOCAL relaxation path will
    * probe, and the most slice rows one probe may collect. A bounded
    * k-hop traversal from one source usually touches a driver-trivial
    * neighborhood (g10 at sf1: frontiers of 16/63/1874 rows), yet the
    * distributed loop pays ~3 jobs of scheduler floor PER ROUND moving
    * them — measured at sf1 as ~1.3 s/round on a 2.3 s query
    * (GraphProfileExperiment). The caps are enforced by PROBING, not
    * estimated a priori: each round's adjacency slice is fetched with
    * `limit(rowCap + 1)` and the local path bails to the distributed
    * loop the moment either cap is exceeded, so no degree statistic has
    * to be trusted and the driver never holds more than
    * `maxIters × rowCap` rows. At 100 TB the caps are what keep this
    * safe: a hub vertex blows the row probe, a broad frontier blows the
    * vertex cap, and either way the distributed plan takes over.
    */
  private[graft] val LocalFrontierVertexCap = 8192
  private[graft] val LocalSliceRowCap = 1_000_000

  /** Driver-local bounded Bellman-Ford over probed adjacency slices —
    * EXACTLY the distributed loop's round semantics (candidates use the
    * frontier's round-START distances, strict improvement only), so
    * after round k, dist(v) is the min path weight over ≤k edges.
    * Returns None (caller falls back to the distributed loop, no state
    * carried over) when a round's frontier exceeds `vertexCap` or its
    * touched-edge count exceeds `rowCap`.
    *
    * Job shape per round: ONE filtered count + ONE bounded collect over
    * the FORWARD edge frame (`src ∈ F OR dst ∈ F`, both directions
    * expanded driver-side) — not `limit(cap).collect()`, whose
    * CollectLimit executeTake schedules sequential partition WAVES
    * (1, 4, 16… partitions per job: measured 5.1s for g10 at sf1 vs
    * 2.0s for count-then-collect), and not the flipped union, which
    * scans the source twice per round. The count guard runs BEFORE any
    * rows move, so a hub frontier bails having transferred nothing.
    */
  private def localRelax(fwd: DataFrame, start: Long, maxIters: Int,
      vertexCap: Int, rowCap: Int): Option[Seq[(Long, Double)]] = {
    if (vertexCap <= 0 || rowCap <= 0) return None
    val dist = scala.collection.mutable.HashMap(start -> 0.0)
    var frontier: Set[Long] = Set(start)
    var i = 0
    while (i < maxIters && frontier.nonEmpty) {
      if (frontier.size > vertexCap) return None
      // isInCollection compiles to InSet past the literal threshold
      val matched = fwd.where(
        col("src").isInCollection(frontier) ||
          col("dst").isInCollection(frontier))
      if (matched.count() > rowCap) return None
      val slice = matched.collect()
      // round-start snapshot: a vertex improved THIS round must not
      // relax further edges until the NEXT round, or dist(v) after k
      // rounds would cover >k-edge walks and diverge from the
      // distributed loop (and the bounded recursive-CTE oracle)
      val fdist = frontier.iterator.map(v => v -> dist(v)).toMap
      val improved = scala.collection.mutable.Set.empty[Long]
      def relax(from: Long, to: Long, w: Double): Unit =
        fdist.get(from).foreach { d0 =>
          val cand = d0 + w
          if (cand < dist.getOrElse(to, Double.PositiveInfinity)) {
            dist(to) = cand
            improved += to
          }
        }
      // a null or NaN weight: the distributed loop's SQL null and NaN
      // ordering decide those rounds, so it runs them
      if (slice.exists(r => r.isNullAt(2) || r.getDouble(2).isNaN)) return None
      slice.foreach { r =>
        val s = r.getLong(0); val d = r.getLong(1); val w = r.getDouble(2)
        relax(s, d, w) // stored direction
        relax(d, s, w) // undirected: traversed backwards
      }
      frontier = improved.toSet
      i += 1
    }
    Some(dist.toSeq)
  }

  /** Long-keyed core of [[weightedDistance]]: edges (src, dst, weight) with
    * long vertex ids, returns (vid, dist). When the vertex key space is
    * already numeric — or arithmetically encodable, e.g.
    * `key * #kinds + kind` over a few node labels — calling this directly
    * skips the string dictionary entirely (measured at sf0.1: the dict
    * distinct + two encode joins on 765k string ids cost ~6s of g10's
    * 7.5s).
    *
    * Implementation (round 12): FRONTIER Bellman-Ford on DataFrames, not
    * a GraphX Pregel — a bounded traversal from one source touches a
    * k-hop neighborhood, and materializing a whole persisted GraphX graph
    * (7.5M edges at sf1) to move a few thousand frontier rows was 85% of
    * g10's runtime. Each round joins the (tiny, checkpointed) frontier
    * against the edge scan — broadcast while it fits, shuffle beyond
    * [[BroadcastFrontierMaxRows]] — takes the per-vertex min of the
    * candidate relaxations (a codegen'd map-combined agg: parallel edges'
    * bag semantics are absorbed map-side), and keeps only IMPROVED
    * distances as the next frontier, so settled regions send nothing.
    * Semantics are identical to the Pregel form: after round k, dist(v)
    * is the min path weight over ≤k edges (undirected — each edge relaxes
    * both ways via the union'd flip). Early-exits when a round improves
    * nothing. The start vertex is reported at distance 0 whether or not
    * it occurs in the edge list (the string-keyed wrapper rejects unknown
    * starts at the dictionary).
    */
  def weightedDistanceLong(edges: DataFrame, start: Long, maxIters: Int,
      localVertexCap: Int = LocalFrontierVertexCap,
      localRowCap: Int = LocalSliceRowCap): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val fwd = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"), col("weight").cast("double").as("weight"))
    val undirected = fwd.unionByName(fwd.select(
      col("dst").as("src"), col("src").as("dst"), col("weight")))
    // tiny-frontier fast path: one probed scan per round instead of
    // join+agg+checkpoint+count jobs; bails (None) past either cap and
    // the distributed loop below runs from scratch — GraphSpec pins the
    // threshold-invariance law (same answer at caps 0 / 1 / default)
    localRelax(fwd, start, maxIters, localVertexCap, localRowCap) match {
      case Some(d) => return d.toDF("vid", "dist")
      case None => ()
    }
    var dist = Seq((start, 0.0)).toDF("vid", "dist").localCheckpoint(true)
    var frontier = dist
    var frontierRows = 1L
    var i = 0
    var settled = false
    // Every round checkpoints `improved` and the rebuilt `dist`; without
    // explicit release a k-round run pins 2k frontier-sized block sets
    // until driver GC notices (ContextCleaner frees them only via weak
    // refs). Free each round's scratch as soon as the frame that
    // supersedes it is materialized — only the returned `dist` stays
    // pinned, matching releasing()'s one-result contract. localCheckpoint
    // (vs persist) also truncates lineage, so round k's plan never grows
    // with k; the non-fault-tolerance trade (an executor loss mid-run
    // fails the job instead of recomputing) is accepted for a bounded
    // k-hop traversal whose rounds are seconds, not hours.
    while (i < maxIters && !settled) {
      val fr = frontier.select(col("vid").as("src"), col("dist").as("fdist"))
      val joined =
        if (frontierRows <= BroadcastFrontierMaxRows)
          undirected.join(broadcast(fr), Seq("src"))
        else undirected.join(fr, Seq("src"))
      val msgs = joined
        .select(col("dst").as("vid"), (col("fdist") + col("weight")).as("cand"))
        .groupBy(col("vid")).agg(min(col("cand")).as("cand"))
      val improved = msgs
        .join(dist.select(col("vid"), col("dist").as("old")), Seq("vid"), "left")
        .where(col("old").isNull || col("cand") < col("old"))
        .select(col("vid"), col("cand").as("dist"))
        .localCheckpoint(true)
      frontierRows = improved.count()
      if (frontierRows == 0L) { settled = true; freePinned(improved) }
      else {
        val prevDist = dist
        val prevFrontier = frontier
        dist = dist.join(improved.select(col("vid")), Seq("vid"), "left_anti")
          .unionByName(improved)
          .localCheckpoint(true)
        // new dist is materialized (eager): its inputs can go. The
        // previous frontier IS round i-1's `improved` — releasing it here
        // (not at reassignment) keeps it alive through the join above.
        freePinned(prevDist)
        if (prevFrontier ne prevDist) freePinned(prevFrontier)
        frontier = improved
      }
      i += 1
    }
    // the last round's frontier survives the loop when it exits on
    // maxIters rather than settling
    if (frontier ne dist) freePinned(frontier)
    dist
  }

  /** Explicitly release the blocks behind a localCheckpoint'd frame
    * (shared [[graft.Pinned]] walker).
    */
  private def freePinned(df: DataFrame): Unit = graft.Pinned.free(df)

  /** Join per-vertex algorithm output back to (label, id, value) through
    * the vertex attrs — the shared tail of the GraphX algorithms below.
    */
  private def attachAttrs[V: scala.reflect.runtime.universe.TypeTag : scala.reflect.ClassTag](
      g: PropertyGraph,
      result: org.apache.spark.graphx.VertexRDD[V],
      vertices: org.apache.spark.graphx.VertexRDD[(String, String)],
      valueCol: String): DataFrame = {
    val spark = g.nodeTables.head._2.sparkSession
    import spark.implicits._
    typedId(g, result.join(vertices)
      .map { case (_, (v, (label, id))) => (label, id, v) }
      .toDF("label", IdCol, valueCol))
  }

  /** Connected components over selected relations; returns (label, id,
    * component_id) where component_id is the MIN ORIGINAL node id in the
    * component, compared in the graph's id type — deterministic and
    * meaningful to callers, unlike the internal (run-dependent) vids.
    */
  def connectedComponents(g: PropertyGraph, relations: Seq[String] = Seq.empty)
      : DataFrame =
    graphSnapshot(g, relations) match {
      case Some(s) =>
        val comp = componentsLocal(s, g.schema.idType)
        nodeResult(g, s, "component_id",
          comp.map(c => if (c < 0) null else s.ids(c)), valueIsId = true)
      case None => connectedComponentsDistributed(g, relations)
    }

  /** [[connectedComponents]]'s distributed path: GraphX components over
    * [[toGraphX]], each component named by its minimum id.
    */
  private[graft] def connectedComponentsDistributed(g: PropertyGraph,
      relations: Seq[String]): DataFrame = {
    val (gx, dict) = toGraphX(g, relations)
    val ccGraph = gx.connectedComponents()
    val comps = attachAttrs(g, ccGraph.vertices, gx.vertices, "comp")
    val names = comps.groupBy(col("comp"))
      .agg(min(col(IdCol)).as("component_id"))
    releasing(
      comps.join(names, "comp").select(col("label"), col(IdCol), col("component_id")),
      dict, gx, ccGraph)
  }

  /** PageRank; returns (label, id, rank). */
  def pageRank(g: PropertyGraph, tol: Double = 1e-4,
      relations: Seq[String] = Seq.empty): DataFrame = {
    val (gx, dict) = toGraphX(g, relations)
    val pr = gx.pageRank(tol)
    releasing(attachAttrs(g, pr.vertices, gx.vertices, "rank"), dict, gx, pr)
  }

  /** FIXED-POINT static PageRank: ranks are Longs in 1/`scale` units,
    * messages are Longs, and every arithmetic step is integer
    * (`contrib = rank / outDeg`, `next = 0.15*scale + 85*Σcontrib/100`,
    * both truncating division). Integer sums are EXACT under any
    * accumulation order, so the result is bit-identical across partition
    * layouts, core counts, and engines — unlike the double-precision
    * [[pageRank]], whose 4dp-rounded output can legally flip at a rank
    * boundary when partitioning changes the float accumulation order.
    * This is the variant a cross-engine replay oracle can verify exactly
    * (the g06 gate query replays it in a DuckDB recursive CTE), and the
    * variant to prefer whenever reproducibility matters more than the
    * last 1e-9 of rank mass.
    *
    * Quantization error vs float static PageRank is ≤ iters/scale per
    * vertex — at the default scale (1e-9 units) invisible at any sane
    * rounding. Overflow bound: 85 × (total rank mass ≈ V·scale) must fit
    * a Long, so at the default scale the graph can hold ~10^8 vertices;
    * pass a smaller `scale` (1e6) for billion-vertex graphs.
    *
    * Returns (label, id, rank_nano) with the raw fixed-point Long —
    * exact by construction; divide by `scale` for a float rank.
    */
  /** Widest vertex set whose per-iteration rank contributions broadcast:
    * 8M (vid, contrib) long pairs ≈ 128 MB raw — the upper end of a
    * comfortable repeated broadcast. Under it, each PageRank iteration
    * is ONE edge-scan join against a broadcast rank map plus a
    * map-combined vertex-sized aggregation — the 7.5M-edge table never
    * shuffles. Past it the contribution frame falls back to a shuffle
    * join (vertex-sized exchanges; the edge table, checkpointed once,
    * still never re-materializes).
    */
  private[graft] val PageRankBroadcastMaxVerts = 8_000_000L

  /** Open-addressing long→int map (linear probe, power-of-two table) —
    * the driver-local graph kernels remap sparse vids to dense indices
    * over MILLIONS of keys, where java.util.HashMap's per-entry boxing
    * measured 1.6s (and a matching GC bill charged to the NEXT bench
    * query) at 9.35M puts+gets. Keys must be distinct (vertex ids are).
    */
  private final class LongIntMap(expected: Int) {
    private val cap = java.lang.Integer.highestOneBit(
      math.max(16, expected * 2) - 1) << 1
    private val keys = new Array[Long](cap)
    private val vals = new Array[Int](cap)
    private val used = new Array[Boolean](cap)
    private val mask = cap - 1
    def put(k: Long, v: Int): Unit = {
      var i = (scala.util.hashing.byteswap64(k) & mask).toInt
      while (used(i) && keys(i) != k) i = (i + 1) & mask
      keys(i) = k; vals(i) = v; used(i) = true
    }
    /** -1 when `k` was never put — the probe stops at the first unused
      * slot instead of spinning past it (an absent key used to livelock
      * the driver; vals are dense non-negative indices, so -1 is free).
      */
    def get(k: Long): Int = {
      var i = (scala.util.hashing.byteswap64(k) & mask).toInt
      while (used(i)) {
        if (keys(i) == k) return vals(i)
        i = (i + 1) & mask
      }
      -1
    }
  }

  /** Driver-local exact-integer PageRank over `n` densely indexed
    * vertices and the directed edges `src(e)` → `dst(e)` — primitive end
    * to end, identical truncating arithmetic to the distributed loop
    * (bit-exact by the GraphSpec law); duplicate edges and self-loops
    * count as they do there. Bounded by the caller's caps BEFORE anything
    * is collected. Returns the rank per vertex index.
    */
  private def pageRankLocal(n: Int, src: Array[Int], dst: Array[Int],
      iters: Int, scale: Long, baseRank: Long): Array[Long] = {
    val m = src.length
    val deg = new Array[Long](n)
    var i = 0
    while (i < m) { deg(src(i)) += 1L; i += 1 }
    val rank = Array.fill(n)(scale)
    val contrib = new Array[Long](n)
    val acc = new Array[Long](n)
    var it = 0
    while (it < iters) {
      var v = 0
      while (v < n) {
        contrib(v) = if (deg(v) > 0L) rank(v) / deg(v) else 0L
        acc(v) = 0L
        v += 1
      }
      var e = 0
      while (e < m) { acc(dst(e)) += contrib(src(e)); e += 1 } // exact: longs commute
      v = 0
      while (v < n) { rank(v) = baseRank + (85L * acc(v)) / 100L; v += 1 }
      it += 1
    }
    rank
  }

  /** Long-keyed core of [[pageRankFixedPoint]] (the weightedDistanceLong
    * pattern): `verts` is the full vertex-id set (isolated vertices rank
    * at the base), `edges` the directed (src, dst) pairs. When the key
    * space is arithmetically encodable the caller skips the string
    * dictionary entirely — at sf1 the dict distinct + two encode joins
    * on 765k string ids were ~14s of g06's 21.9s. Returns
    * (vid, rank_nano); dispatches local vs distributed on exact counts.
    */
  def pageRankFixedPointLong(verts: DataFrame, edges: DataFrame, iters: Int,
      scale: Long = 1000000000L,
      localMaxEdges: Long = LocalMaxEdges,
      localMaxVerts: Long = LocalMaxVerts): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    val spark = verts.sparkSession
    import spark.implicits._
    val vv = verts.select(col(verts.columns.head).cast("long").as("vid"))
      .localCheckpoint(true)
    val ee = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .localCheckpoint(true)
    val nVerts = vv.count()
    val nEdges = ee.count() // exact, over materialized blocks
    val baseRank = (15L * scale) / 100L
    if (nEdges <= localMaxEdges && nVerts <= localMaxVerts) {
      // primitive Array[Long] collects, no boxed rows or tuples (the
      // Tuple2 form measured 1.7s + a GC bill charged to the NEXT bench
      // query). src and dst collect as two narrow projections of the
      // SAME materialized (localCheckpoint'd) blocks — no shuffle, no
      // reorder, so the two arrays align row for row.
      val vArr = vv.as[Long].collect()
      val sArr = ee.select(col("src")).as[Long].collect()
      val dArr = ee.select(col("dst")).as[Long].collect()
      assert(sArr.length == dArr.length)
      val idx = new LongIntMap(vArr.length)
      vArr.indices.foreach(i => idx.put(vArr(i), i))
      val src = sArr.map(idx.get)
      val dst = dArr.map(idx.get)
      // a dangling edge (endpoint absent from verts): the joins below
      // tolerate exactly that input, so fall through to them — vv/ee pins
      // stay live for the distributed loop
      if (!src.exists(_ < 0) && !dst.exists(_ < 0)) {
        val rank = pageRankLocal(vArr.length, src, dst, iters, scale, baseRank)
        Seq(vv, ee).foreach(freePinned)
        return fromDriver(spark, vArr.length, (vArr, rank)) {
          case ((v, r), i) => (v(i), r(i))
        }(_.toDF("vid", "rank_nano"))
      }
    }
    val degD = ee.groupBy(col("src")).agg(count(lit(1)).as("d"))
      .localCheckpoint(true) // vertex-sized, consumed every iteration
    var ranks = vv.select(col("vid"), lit(scale).as("rank"))
      .localCheckpoint(true)
    for (_ <- 0 until iters) {
      // contributions: rank div outDeg per SOURCE vertex (vertex-sized;
      // vertices with no out-edges drop out — they send nothing)
      val send = ranks.join(degD, col("vid") === col("src"))
        .select(col("src"), expr("rank div d").as("c"))
      val sendSide =
        if (nVerts <= PageRankBroadcastMaxVerts) broadcast(send) else send
      // ONE pass over the static edge table; partial aggregation folds
      // the per-destination sum map-side before the vertex-sized shuffle
      val msgs = ee.join(sendSide, Seq("src"))
        .groupBy(col("dst").as("mvid")).agg(sum(col("c")).as("m"))
      val prev = ranks
      ranks = vv
        .join(msgs, col("vid") === col("mvid"), "left")
        .select(col("vid"),
          (lit(baseRank) + expr("(85 * coalesce(m, bigint(0))) div 100")).as("rank"))
        .localCheckpoint(true) // materialize the step, then drop the last
      freePinned(prev)
    }
    val out = ranks.select(col("vid"), col("rank").as("rank_nano"))
      .localCheckpoint(true)
    Seq(ranks, degD, ee, vv).foreach(freePinned)
    out
  }

  def pageRankFixedPoint(g: PropertyGraph, iters: Int = 25,
      relations: Seq[String] = Seq.empty, scale: Long = 1000000000L,
      localMaxEdges: Long = LocalMaxEdges,
      localMaxVerts: Long = LocalMaxVerts): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    val local = graphSnapshot(g, relations, localMaxVerts, localMaxEdges)
      .flatMap(s => pageRankSnapshot(s, iters, scale).map(s -> _))
    local.fold(pageRankDistributed(g, iters, relations, scale, localMaxEdges,
      localMaxVerts)) { case (s, rank) => nodeResult(g, s, "rank_nano", rank) }
  }

  /** [[pageRankLocal]] over a snapshot's node rows, or None when two node
    * rows share an id: the distributed dictionary numbers them as two
    * vertices and joins every edge to both, which this kernel does not
    * replicate. Edges with a null endpoint or one that is no node id drop
    * out, as in the dictionary joins.
    */
  private def pageRankSnapshot(s: Snapshot, iters: Int, scale: Long)
      : Option[Array[Long]] = {
    val rowOf = Array.fill(s.ids.length)(-1)
    var r = 0
    while (r < s.nodeId.length) {
      val id = s.nodeId(r)
      if (id >= 0) { if (rowOf(id) >= 0) return None; rowOf(id) = r }
      r += 1
    }
    def row(id: Int) = if (id < 0) -1 else rowOf(id)
    val src, dst = Array.newBuilder[Int]
    var e = 0
    while (e < s.src.length) {
      val a = row(s.src(e)); val b = row(s.dst(e))
      if (a >= 0 && b >= 0) { src += a; dst += b }
      e += 1
    }
    Some(pageRankLocal(s.nodeId.length, src.result(), dst.result(), iters, scale,
      (15L * scale) / 100L))
  }

  private def pageRankDistributed(g: PropertyGraph, iters: Int,
      relations: Seq[String], scale: Long, localMaxEdges: Long,
      localMaxVerts: Long): DataFrame = {
    // DataFrame loop, not RDD joins (round 15): the RDD formulation
    // shuffled 7.5M boxed tuples per iteration through Java-object
    // serde — measured 81s for 25 iterations at sf1. Codegen'd long
    // arithmetic with the edge table checkpointed once and the rank map
    // broadcast per iteration runs the same 25 exact iterations in ~9s.
    // Every arithmetic step stays truncating-integer (`div`), so the
    // bit-exactness contract (GraphSpec cross-engine golden + layout
    // independence) is unchanged.
    val rels = if (relations.isEmpty) g.schema.relationDefs.map(_.name) else relations
    val dict = g.nodeTables.toSeq.map { case (label, df) =>
      df.select(col(IdCol).as("nid"), lit(label).as("nlabel"))
    }.reduce(_ unionByName _)
      .withColumn("vid", monotonically_increasing_id())
      .localCheckpoint(true) // pin: partition-dependent ids (toGraphX rule)
    val edges = rels.map { r =>
      g.edgeTables(r)
        .join(dict.select(col("nid").as(SrcCol), col("vid").as("svid")), Seq(SrcCol))
        .join(dict.select(col("nid").as(DstCol), col("vid").as("dvid")), Seq(DstCol))
        .select(col("svid").as("src"), col("dvid").as("dst"))
    }.reduce(_ unionByName _)
    val ranks = pageRankFixedPointLong(dict.select(col("vid")), edges,
      iters, scale, localMaxEdges, localMaxVerts)
    val out = ranks.join(dict, Seq("vid"))
      .select(col("nlabel").as("label"), col("nid").as(IdCol), col("rank_nano"))
      // pin the (vertex-sized) result so the dict pin can be dropped
      // without the caller's lazy plan recomputing through it
      .localCheckpoint(true)
    Seq(ranks, dict).foreach(freePinned)
    out
  }

  /** Triangle count per node over an (undirected-ized, deduplicated)
    * relation set — (label, id, triangles).
    *
    * Deliberately NOT GraphX: triangle counting is a bounded 2-join
    * pattern, not an iterative fixpoint, so Catalyst + codegen is the
    * right engine (measured ~1.6× faster than `gx.triangleCount()` at
    * sf0.1, and the DataFrame plan gets AQE skew handling for free).
    * The classic wedge-explosion guard is degree-ordered orientation:
    * every undirected edge is directed toward its higher-(degree, id)
    * endpoint, which bounds out-degrees by O(√m), so the wedge self-join
    * generates O(m^1.5) candidates worst-case instead of Σ deg² around
    * hubs. Each triangle is found exactly once (at its lowest-order
    * vertex) and credited to all three corners. A graph within the
    * snapshot caps runs the same algorithm on driver arrays.
    */
  def triangleCount(g: PropertyGraph, relations: Seq[String] = Seq.empty)
      : DataFrame =
    graphSnapshot(g, relations) match {
      case Some(s) =>
        val tri = trianglesLocal(s)
        nodeResult(g, s, "triangles", s.nodeId.map(i => if (i < 0) 0 else tri(i).toInt))
      case None => triangleCountDistributed(g, relations)
    }

  /** [[triangleCount]]'s distributed path: [[triangleCountEdges]] over a
    * vid dictionary of the node ids and the relations' endpoints.
    */
  private[graft] def triangleCountDistributed(g: PropertyGraph, relations: Seq[String])
      : DataFrame = {
    val rels = if (relations.isEmpty) g.schema.relationDefs.map(_.name) else relations
    val verts = g.nodeTables.toSeq.map { case (label, df) =>
      df.select(col(IdCol), lit(label).as("label"))
    }.reduce(_ unionByName _)
    // pinned: feeds both the dictionary build and the encode join — the
    // upstream edge union (for g09, a lineitem self-join projection) must
    // not run twice
    val raw = rels.map(r => g.edgeTables(r)
        .select(col(SrcCol).as("a"), col(DstCol).as("b")))
      .reduce(_ unionByName _)
      .localCheckpoint(true)
    // dictionary-encode string ids to dense longs BEFORE the triangle
    // machinery: the O(Σ wedges) intersection work compares vertex ids
    // 41M+ times at sf0.1, and long compares beat string compares ~2.5×
    // end-to-end (measured 15.7s → 6s warm). Collision-free by
    // construction (same rationale as toGraphX's dictionary).
    val dict = raw.select(explode(array(col("a"), col("b"))).as("nid"))
      .distinct()
      .withColumn("vid", monotonically_increasing_id())
      .localCheckpoint(true)
    val pairs = raw
      .join(dict.select(col("nid").as("a"), col("vid").as("ua")), Seq("a"))
      .join(dict.select(col("nid").as("b"), col("vid").as("ub")), Seq("b"))
      .select(col("ua").as("u"), col("ub").as("v"))
    val perNode = triangleCountEdges(pairs)
    // materialize the node-sized result so the three pins behind it can go
    val out = verts
      .join(dict.select(col("nid").as(IdCol), col("vid")), Seq(IdCol), "left")
      .join(perNode.select(col("vid"), col("n")), Seq("vid"), "left")
      .select(col("label"), col(IdCol),
        coalesce(col("n"), lit(0L)).cast("int").as("triangles"))
      .localCheckpoint(true)
    Seq(raw, dict, perNode).foreach(freePinned)
    out
  }

  /** Long-keyed triangle core over raw (u, v) pairs — duplicates,
    * self-loops and both orientations tolerated (canonicalized + dedup'd
    * inside). Returns (vid, n) for every vertex in at least one triangle.
    *
    * The canonical pair set is pinned: it feeds THREE consumers (degrees,
    * orientation, the closing join) and without the checkpoint each one
    * would recompute the upstream union + distinct.
    *
    * Edge-iterator with out-neighbor intersection: for each DAG edge
    * (s, t), every common out-neighbor w closes the triangle s→t, s→w,
    * t→w — found exactly once, at the triangle's lowest-order edge.
    * This shape never materializes (or shuffles) the wedge set: the only
    * exchanges are the adjacency build + two joins keyed on a vertex id;
    * the O(Σ wedges) intersection work runs inside one codegen stage
    * (measured sf0.1: 41M wedges, 1.9M triangles, warm ~6s on long ids —
    * the wedge-join formulation shuffled all 41M wedge rows and ran
    * ~10s, as did GraphX, and the same plan on string ids ran ~16s;
    * DuckDB single-node needs 8.8s for the counts alone).
    */
  /** Most canonical edges the triangle adjacency will broadcast: the
    * oriented adjacency is exactly m longs plus per-vertex array
    * overhead, so 32M edges ≈ 256 MB raw (sub-GB materialized) — inside
    * any executor this engine targets, and far above the sf1 corpus
    * (7.5M). Past the bound the joins degrade gracefully to sort-merge
    * instead of OOMing a 100×-scale caller by default. The dispatch is
    * MEASURED on the exact checkpointed edge count (the t08/t33
    * size-conditioned-join precedent), never estimated; callers can
    * still force either regime.
    */
  private[graft] val BroadcastAdjacencyMaxEdges = 32_000_000L

  def triangleCountEdges(rawPairs: DataFrame,
      broadcastAdjacency: Option[Boolean] = None): DataFrame = {
    val canon = rawPairs
      .select(col("u").cast("long").as("a"), col("v").cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("u"), greatest(col("a"), col("b")).as("v"))
      .distinct()
      .localCheckpoint(true)
    // exact, cheap (canon is already materialized blocks), and decisive:
    // no optimizer size estimate exists for a checkpointed frame
    val doBroadcast = broadcastAdjacency
      .getOrElse(canon.count() <= BroadcastAdjacencyMaxEdges)
    val degPlain = canon.select(explode(array(col("u"), col("v"))).as("x"))
      .groupBy(col("x")).agg(count(lit(1)).as("deg"))
    // vertex-sized and strictly smaller than the adjacency (one long +
    // one count per vertex vs one long per edge), so it broadcasts
    // whenever the adjacency does — the derived frame has no stats, so
    // without the hint both orientation joins SHUFFLE the edge set
    // (measured sf1: 5.0s → broadcast 1.5s)
    val deg = if (doBroadcast) broadcast(degPlain) else degPlain
    // pinned: THREE consumers (adjacency build + both closing joins) —
    // unpinned, each would recompute the two degree joins above
    val dirE = canon
      .join(deg.select(col("x").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("x").as("v"), col("deg").as("dv")), Seq("v"))
      .select(
        when(col("du") < col("dv") ||
            (col("du") === col("dv") && col("u") < col("v")),
          struct(col("u").as("s"), col("v").as("t")))
          .otherwise(struct(col("v").as("s"), col("u").as("t"))).as("e"))
      .select(col("e.s").as("s"), col("e.t").as("t"))
      .localCheckpoint(true)
    // sorted adjacency: per-vertex O(d log d) at build time buys the
    // O(Σ wedges) closing stage a two-pointer merge instead of the
    // builtin array_intersect's per-row hash set (sorted_intersect —
    // graft.functions.SortedLongMerge; equality on this input shape is
    // spec-pinned)
    val adjPlain = dirE.groupBy(col("s"))
      .agg(array_sort(collect_list(col("t"))).as("nbrs"))
      .localCheckpoint(true)
    // broadcast the adjacency by default: a shuffled second join would
    // re-exchange join-1's output WITH the ns arrays attached — a
    // wedge-sized payload. The oriented adjacency is exactly m longs
    // (one per edge, out-degrees √m-capped), so it broadcasts far beyond
    // this corpus size; disable only when m longs exceed executor memory,
    // and the plan degrades gracefully to sort-merge.
    val adj = if (doBroadcast) broadcast(adjPlain) else adjPlain
    // per-vertex counts WITHOUT a 3-rows-per-triangle explode: an edge
    // (s, t) whose intersection has c closers contributes c to s and c
    // to t in one row each, and 1 to each closer w — 2·|closing edges| +
    // |triangles| exploded rows instead of 3·|triangles| + the wedge
    // stream, and the whole merge+emit is ONE codegen'd kernel
    // (TriangleContribs; non-closing edges emit an empty array that the
    // explode drops)
    val contribs = dirE
      .join(adj.select(col("s"), col("nbrs").as("ns")), Seq("s"))
      .join(adj.select(col("s").as("t"), col("nbrs").as("nt")), Seq("t"))
      .select(explode(graft.functions.TriangleContribs.triangleContribs(
        col("s"), col("t"), col("ns"), col("nt"))).as("e"))
    // materialize the vertex-sized result and free the three edge-sized
    // pins HERE (the pageRankFixedPointLong pattern): left lazy, canon/
    // dirE/adjPlain stay live until the caller's first action and then
    // linger for the session — at bench scale that residue billed the
    // NEXT query (g10 runs right after g09; the round-15 SURVEY traced
    // its in-pair churn to exactly this boundary)
    val out = contribs
      .select(col("e.vid").as("vid"), col("e.c").as("c"))
      .groupBy(col("vid")).agg(sum(col("c")).as("n"))
      .localCheckpoint(true)
    Seq(canon, dirE, adjPlain).foreach(freePinned)
    out
  }
}
