package edgybench

import java.nio.file.Files
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.locks.ReentrantReadWriteLock

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.dedup.Dedup
import graft.graph.{DemoGraph, GraphAlgos, PropertyGraph}
import graft.operators.Retrieval
import graft.similarity.Ann
import graft.streaming.Streams

import Main.{Ctx, Sample}

/** A workload: how it sets up, what one operation is, how it checks. */
abstract class Workload(val ctx: Ctx) {
  protected def spark: SparkSession = ctx.spark
  protected def sp[A](name: String)(body: => A): A = ctx.tracer.span(name)(body)

  /** Generation, save/load and staging; the last repetition's state is the
    * one the timed window uses.
    */
  def setup(rep: Int): Unit
  /** Independent references from the generated inputs (not timed). */
  def references(): Unit = ()
  def warmup(): Unit
  def window(seconds: Double, trace: Boolean): Seq[Sample]
  /** The workload's throughput: work units per second. */
  def workPerSecond(samples: Seq[Sample]): Double
  /** Workload-specific end-to-end metrics, printed by name. */
  def named(samples: Seq[Sample]): Seq[(String, Double, String)]
  def planted: Seq[(String, Any)]
  /** Layer figures only this workload can give (recall, write amplification). */
  def layerExtras: Map[String, Double] = Map.empty

  val failures = new ConcurrentLinkedQueue[String]()
  def checks: Seq[(String, Boolean)] = checkLog.toSeq.sortBy(_._1)
  private val checkLog = mutable.LinkedHashMap.empty[String, Boolean]

  /** Record one check; a name that failed once stays failed. */
  protected def check(name: String, ok: Boolean, detail: => String = ""): Boolean = synchronized {
    checkLog(name) = checkLog.getOrElse(name, true) && ok
    if (!ok && failures.size < 20) failures.add(s"$name $detail")
    ok
  }

  /** Persistent RDD count and bytes after each traced top-level operation. */
  val pinnedAfter = new ConcurrentLinkedQueue[(Int, Long)]()
  protected def samplePins(): Unit = {
    val sc = spark.sparkContext
    pinnedAfter.add((sc.getPersistentRDDs.size,
      sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum))
  }

  protected def timed(kind: String, traced: Boolean, work: Double)(body: => Boolean): Sample = {
    val t0 = System.nanoTime()
    val ok = try ctx.tracer.request(kind)(body) catch {
      case NonFatal(e) =>
        if (failures.size < 20) failures.add(s"$kind threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        false
    }
    val s = Sample(kind, System.nanoTime() - t0, ok, traced, work)
    if (traced) samplePins()
    s
  }

  /** Which operations of a traced run are traced: untraced, traced,
    * untraced, so a linear warm-up trend cancels out of
    * `trace.overhead_frac`.
    */
  protected val TraceOrder = Seq(false, true, false)

  /** Closed loop of whole passes for about `seconds`: a pass starts only if
    * it is expected to end within the window (the first always runs). A
    * traced run warms up with one pass, then runs at least one round of
    * `TraceOrder`.
    */
  protected def passLoop(seconds: Double, trace: Boolean)(pass: Boolean => Sample): Seq[Sample] = {
    val out = mutable.ArrayBuffer.empty[Sample]
    if (trace) pass(false) // warm the code paths so traced and untraced passes compare
    val t0 = System.nanoTime()
    def fits = (System.nanoTime() - t0 + out.last.ns) / 1e9 <= seconds
    var i = 0
    while (out.isEmpty || fits || (trace && i < TraceOrder.length)) {
      val traced = trace && TraceOrder(i % TraceOrder.length)
      ctx.tracer.setEnabled(traced)
      out += pass(traced)
      i += 1
    }
    ctx.tracer.setEnabled(false)
    out.toSeq
  }

  protected def dirSize(p: String): Long = {
    val root = java.nio.file.Paths.get(p)
    if (!Files.exists(root)) 0L
    else Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
  }
}

object Workloads {
  val names: Seq[String] = Seq("graph_oltp", "graph_analytics", "corpus_pipeline")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "graph_oltp"      => new GraphOltp(ctx)
    case "graph_analytics" => new GraphAnalytics(ctx)
    case "corpus_pipeline" => new CorpusPipeline(ctx)
  }

  /** Build the generated graph through the public bulk API and save it.
    * With `longIds` the demo schema keys nodes by long: persons 0..P-1,
    * then activities, then objects.
    */
  def saveGraph(spark: SparkSession, d: Gen.GraphData, dir: String, longIds: Boolean = false): Unit = {
    def df(schema: StructType, rows: Iterable[Row]): DataFrame =
      spark.createDataFrame(rows.toSeq.asJava, schema)
    val (idT, schema) =
      if (longIds) (LongType, DemoGraph.schema.copy(idType = LongType)) else (StringType, DemoGraph.schema)
    def id(s: String): Any = if (longIds) d.id(s).toLong else s
    val personT = StructType(Seq(StructField("id", idT), StructField("name", StringType), StructField("age", LongType)))
    val namedT = StructType(Seq(StructField("id", idT), StructField("name", StringType)))
    val edgeT = PropertyGraph.edgeStructOf(idT)
    val n = d.size.persons
    def edges(f: Int => Iterable[(String, String)], count: Int): DataFrame =
      df(edgeT, (0 until count).flatMap(f).map { case (a, b) => Row(id(a), id(b)) })
    PropertyGraph.empty(spark, schema)
      .addNodes("Person", df(personT, (0 until n).map(i => Row(id(s"p$i"), d.personName(i), d.age(i)))))
      .addNodes("Activity", df(namedT, d.activityName.indices.map(i => Row(id(s"a$i"), d.activityName(i)))))
      .addNodes("Object", df(namedT, d.objectName.indices.map(i => Row(id(s"o$i"), d.objectName(i)))))
      .addRelatedBulk("friend", edges(i => d.friend(i).map(j => (s"p$i", s"p$j")), n))
      .addRelatedBulk("hobby", edges(i => d.hobby(i).toSeq.map(a => (s"p$i", s"a$a")), n))
      .addRelatedBulk("possession", edges(i => d.possession(i).map(o => (s"p$i", s"o$o")), n))
      .addRelatedBulk("tool", edges(a => d.tool(a).toSeq.map(o => (s"a$a", s"o$o")), d.size.activities))
      .addRelatedBulk("spouse", edges(k => Seq((s"p${d.spouse(k)._1}", s"p${d.spouse(k)._2}")), d.spouse.size))
      .save(dir)
  }

  def docsFrame(spark: SparkSession, docs: Iterable[(Long, String)]): DataFrame =
    spark.createDataFrame(docs.map { case (i, t) => Row(i, t) }.toSeq.asJava,
      StructType(Seq(StructField("id", LongType), StructField("text", StringType))))

  def vecFrame(spark: SparkSession, vecs: Iterable[(Long, Array[Double])]): DataFrame =
    spark.createDataFrame(vecs.map { case (i, v) => Row(i, v.toSeq) }.toSeq.asJava,
      StructType(Seq(StructField("vec_id", LongType), StructField("embedding", ArrayType(DoubleType)))))

  /** Write a generated frame as parquet and read it back, so the engine
    * reads its inputs from storage like a user's job would.
    */
  def stored(spark: SparkSession, df: DataFrame, dir: String): DataFrame = {
    df.write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }
}

// ------------------------------------------------------------ graph_oltp

/** Point traversals and point mutations on the demo schema from two
  * closed-loop clients. Writes hold an exclusive lock: the program allows a
  * single writer per relation and `saveRelation` overwrites files readers scan.
  */
final class GraphOltp(ctx: Ctx) extends Workload(ctx) {
  val size = Gen.GraphSize(persons = 2500, activities = 200, objects = 1000)
  val clients = 2
  val mix = "70% missingTools, 10% getAttribute, 10% isRelated, 10% write"
  private var d: Gen.GraphData = _
  private var dir: String = _
  @volatile private var g: PropertyGraph = _
  private val lock = new ReentrantReadWriteLock(true)
  private var popular: Array[Int] = _
  private val zipf = new Gen.Zipf(size.persons, 1.0)
  private val married = mutable.HashSet.empty[Int]
  private val couples = mutable.ArrayBuffer.empty[(Int, Int)]
  private val writeAmp = new ConcurrentLinkedQueue[Double]()
  // analysis, optimization and planning of each traced missingTools read
  private val readPlanningMs = new ConcurrentLinkedQueue[Double]()
  private var writes = 0 // only touched under the write lock

  def setup(rep: Int): Unit = {
    d = Gen.graph(ctx.seed, size)
    dir = ctx.work.resolve(s"graph-$rep").toString
    Workloads.saveGraph(spark, d, dir)
    g = sp("PropertyGraph.load")(PropertyGraph.load(spark, dir))
    popular = Gen.shuffled(size.persons, new SplittableRandom(ctx.seed ^ 0x5eed))
    married.clear(); couples.clear()
    d.spouse.foreach { case (a, b) => married += a; married += b; couples += ((a, b)) }
  }

  def planted: Seq[(String, Any)] = Seq(
    "graph" -> s"persons=${size.persons} activities=${size.activities} objects=${size.objects}",
    "friend_edges" -> d.friendEdges,
    "friend_degree" -> f"pareto(alpha=2,min=${size.friendMin}) mean=${d.meanFriendDegree}%.2f max=${d.maxFriendDegree}",
    "request_skew" -> "zipf(s=1.0) over persons",
    "clients" -> s"$clients closed-loop",
    "mix" -> mix,
    "working_set" -> s"graph parquet ${dirSize(dir) / 1024} KiB, read from storage each request (no Spark cache)")

  def warmup(): Unit = clientsFor(2.0, traced = false, phase = 9)

  private def person(r: SplittableRandom): Int = popular(zipf.sample(r))

  private def withRead[A](body: => A): A = {
    ctx.tracer.span("PropertyGraph.lock_wait")(lock.readLock().lock())
    try body finally lock.readLock().unlock()
  }
  private def withWrite[A](body: => A): A = {
    ctx.tracer.span("PropertyGraph.lock_wait")(lock.writeLock().lock())
    try body finally lock.writeLock().unlock()
  }

  /** Each client walks this deck of request kinds (0 missingTools,
    * 1 getAttribute, 2 isRelated, 3 write), from its own offset, so every
    * window holds the mix in its stated shares however short it is.
    */
  private val deck = Array(3, 0, 0, 1, 0, 0, 2, 0, 0, 0)
  private val position = Array.tabulate(clients)(c => c * deck.length / clients)

  private def request(r: SplittableRandom, traced: Boolean, kind: Int): Sample = {
    val p = person(r)
    kind match {
      case 0 => timed("read", traced, 1)(withRead {
        val graph = g
        val df = sp("PropertyGraph.traverse")(DemoGraph.missingTools(graph, d.personName(p)))
        val got = sp("PropertyGraph.exec")(df.collect()).map(_.getString(0)).toSeq.sorted
        if (traced) readPlanningMs.add(df.queryExecution.tracker.phases.values.map(_.durationMs).sum.toDouble)
        check("missingTools equals in-memory adjacency", got == d.missingTools(p), s"person $p")
      })
      case 1 => timed("read", traced, 1)(withRead {
        val got = sp("PropertyGraph.getAttribute")(g.getAttribute("Person", s"p$p", "age"))
        check("getAttribute equals generated value", got == d.age(p), s"person $p got $got")
      })
      case 2 => timed("read", traced, 1)(withRead {
        // half the probes name an actual friend
        val q = if (r.nextBoolean() && d.friend(p).nonEmpty) d.friend(p)(r.nextInt(d.friend(p).size))
          else r.nextInt(size.persons)
        val got = sp("PropertyGraph.isRelated")(g.isRelated("friend", s"p$p", s"p$q"))
        check("isRelated equals in-memory adjacency", got == d.friend(p).contains(q), s"$p->$q")
      })
      case _ => write(r, p, traced)
    }
  }

  /** One demo verb: two name lookups, one mutation, `saveRelation`, `load`.
    * Acknowledged once durable; read-your-write is checked after the ack.
    */
  private def write(r: SplittableRandom, p: Int, traced: Boolean): Sample = {
    var verify: () => Boolean = () => true
    val s = timed("write", traced, 1)(withWrite {
      val graph = g
      def pid(i: Int) = sp("PropertyGraph.lookupBy")(graph.lookupBy("Person", "name", d.personName(i)))
      def oid(i: Int) = sp("PropertyGraph.lookupBy")(graph.lookupBy("Object", "name", d.objectName(i)))
      // the verbs in turn: buy, discard, friend, unfriend, marry, divorce; a
      // removal with nothing to remove becomes its addition
      val verb = writes % 6
      writes += 1
      val remove = verb % 2 == 1
      def unmarried() = Iterator.continually(r.nextInt(size.persons)).filterNot(married).distinct.take(2).toSeq
      val (rel, a, b, add, apply): (String, String, String, Boolean, () => Unit) = verb / 2 match {
        case 0 if remove && d.possession(p).nonEmpty =>
          val o = d.possession(p)(r.nextInt(d.possession(p).size))
          ("possession", pid(p), oid(o), false, () => d.possession(p) -= o)
        case 0 =>
          val o = Iterator.continually(r.nextInt(size.objects)).find(o => !d.possession(p).contains(o)).get
          ("possession", pid(p), oid(o), true, () => d.possession(p) += o)
        case 1 if remove && d.friend(p).nonEmpty =>
          val q = d.friend(p)(r.nextInt(d.friend(p).size))
          ("friend", pid(p), pid(q), false, () => d.friend(p) -= q)
        case 1 =>
          val q = Iterator.continually(r.nextInt(size.persons)).find(q => q != p && !d.friend(p).contains(q)).get
          ("friend", pid(p), pid(q), true, () => d.friend(p) += q)
        case _ if remove && couples.nonEmpty =>
          val (x, y) = couples(r.nextInt(couples.size))
          ("spouse", pid(x), pid(y), false, () => {
            couples -= ((x, y)); d.spouse -= ((x, y)); married -= x; married -= y })
        case _ =>
          val Seq(x, y) = unmarried()
          ("spouse", pid(x), pid(y), true, () => {
            couples += ((x, y)); d.spouse += ((x, y)); married += x; married += y })
      }
      val g2 = sp("PropertyGraph.mutate")(
        if (add) graph.addRelated(rel, a, b) else graph.removeRelated(rel, a, b))
      sp("PropertyGraph.saveRelation")(g2.saveRelation(dir, rel))
      g = sp("PropertyGraph.load")(PropertyGraph.load(spark, dir))
      apply()
      if (traced) writeAmp.add(dirSize(s"$dir/edges_$rel.parquet").toDouble /
        (a.getBytes("UTF-8").length + b.getBytes("UTF-8").length))
      verify = () => withRead(sp("bench.check")(g.isRelated(rel, a, b)) == add)
      true
    })
    if (!s.ok) s
    else {
      val ok = try check("read-your-write after every acknowledged write", verify())
        catch { case NonFatal(e) => check("read-your-write after every acknowledged write", false, e.toString) }
      s.copy(ok = ok)
    }
  }

  private def clientsFor(seconds: Double, traced: Boolean, phase: Int): Seq[Sample] = {
    val out = new ConcurrentLinkedQueue[Sample]()
    val end = System.nanoTime() + (seconds * 1e9).toLong
    val threads = (0 until clients).map { c =>
      val r = new SplittableRandom(ctx.seed * 1000 + phase * 10 + c)
      new Thread(() => while (System.nanoTime() < end) {
        out.add(request(r, traced, deck(position(c) % deck.length))); position(c) += 1
      }, s"edgybench-client-$c")
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    out.asScala.toSeq
  }

  def window(seconds: Double, trace: Boolean): Seq[Sample] =
    if (!trace) clientsFor(seconds, traced = false, 0)
    else {
      // untraced and traced slices in TraceOrder; clients stop at each boundary
      TraceOrder.indices.flatMap { i =>
        val traced = TraceOrder(i)
        ctx.tracer.setEnabled(traced)
        val s = clientsFor(seconds / TraceOrder.length, traced, i)
        ctx.tracer.setEnabled(false)
        s
      }
    }

  /** Closed-loop throughput by Little's law: clients over mean latency. */
  def workPerSecond(samples: Seq[Sample]): Double = clients / (samples.map(_.ns).sum / 1e9 / samples.size)

  def named(samples: Seq[Sample]): Seq[(String, Double, String)] = {
    val reads = samples.filter(_.kind == "read").map(_.ms)
    val writes = samples.filter(_.kind == "write").map(_.ms)
    Seq(
      ("oltp.read_p50_ms", Main.median(reads), "ms"),
      ("oltp.read_p95_ms", Main.quantile(reads, 0.95), "ms"),
      ("oltp.write_p50_ms", Main.median(writes), "ms"),
      ("oltp.ops_per_s", workPerSecond(samples), "1/s"),
      ("oltp.reads", reads.size.toDouble, "count"),
      ("oltp.writes", writes.size.toDouble, "count"))
  }

  override def layerExtras: Map[String, Double] =
    Map("PropertyGraph.write_amp" -> Main.median(writeAmp.asScala.toSeq),
      "PropertyGraph.read.planning_ms" -> Main.median(readPlanningMs.asScala.toSeq))
}

// ------------------------------------------------------- graph_analytics

/** Streaming graph ingest followed by bulk analytics. Each pass folds a new
  * batch of friend edges onto the persisted base with `Streams.graphIngest`,
  * runs a 2-hop friend-of-friend count and every graph algorithm over the
  * folded graph, and releases it.
  */
final class GraphAnalytics(ctx: Ctx) extends Workload(ctx) {
  val size = Gen.GraphSize(persons = 2000, activities = 200, objects = 1000, plantedViolations = 25)
  val (batchEdges, files, prIters, wdIters) = (2000, 4, 10, 3)
  private var d: Gen.GraphData = _
  private var base: PropertyGraph = _
  private var dir: String = _
  private var wEdges: DataFrame = _
  private var wList: Seq[(Int, Int, Double)] = _
  private var start = 0
  private var passes = 0L
  private val ingestMs, analyticsMs = new ConcurrentLinkedQueue[Double]()

  def setup(rep: Int): Unit = {
    d = Gen.graph(ctx.seed, size)
    dir = ctx.work.resolve(s"graph-$rep").toString
    // long ids: graphIngest stages its input by numeric id range
    Workloads.saveGraph(spark, d, dir, longIds = true)
    base = sp("PropertyGraph.load")(PropertyGraph.load(spark, dir))
    val r = new SplittableRandom(ctx.seed + 7)
    wList = d.friend.indices.flatMap(i => d.friend(i).map(j => (i, j, 1.0 + r.nextInt(9))))
    val rows = wList.map { case (a, b, w) => Row(a.toString, b.toString, w) }
    wEdges = Workloads.stored(spark, spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("src", StringType), StructField("dst", StringType), StructField("weight", DoubleType)))),
      s"$dir/weighted_friend.parquet")
    start = d.friend.indices.maxBy(i => d.friend(i).size)
  }

  def planted: Seq[(String, Any)] = Seq(
    "graph" -> s"persons=${size.persons} activities=${size.activities} objects=${size.objects}, long ids",
    "friend_edges" -> d.friendEdges,
    "friend_degree" -> f"pareto(alpha=2,min=${size.friendMin}) mean=${d.meanFriendDegree}%.2f max=${d.maxFriendDegree}",
    "cardinality_violations" -> size.plantedViolations,
    "batch" -> s"$batchEdges uniform friend edges per pass over $files input files",
    "pass" -> (s"graphIngest, then over the folded graph: 2-hop count, connectedComponents, " +
      s"pageRankFixedPoint($prIters), triangleCount, cardinalityViolations; weightedDistance($wdIters) on the base"),
    "working_set" -> s"graph parquet ${dirSize(dir) / 1024} KiB")

  /** The folded graph keyed by string: the PropertyGraph-level GraphAlgos
    * entry points read ids as strings (connectedComponents throws a
    * ClassCastException on a long-keyed graph).
    */
  private def stringKeyed(g: PropertyGraph): PropertyGraph =
    PropertyGraph(DemoGraph.schema,
      g.nodeTables.map { case (k, df) => k -> df.withColumn("id", col("id").cast("string")) },
      g.edgeTables.map { case (k, df) => k -> df.select(col("src").cast("string"), col("dst").cast("string")) })

  private def pass(traced: Boolean): Sample = {
    val i = passes; passes += 1
    // stage the batch and the references for base + batch (not timed)
    val r = new SplittableRandom(ctx.seed * 7919 + i)
    val batch = Seq.fill(batchEdges)((r.nextInt(size.persons), r.nextInt(size.persons)))
    val folded = new Gen.GraphData(size)
    d.friend.indices.foreach(k => folded.friend(k) ++= d.friend(k))
    batch.foreach { case (a, b) => folded.friend(a) += b }
    val twoHopRef = Ref.twoHop(folded)
    val ccRef = Ref.components(folded)
    val prRef = Ref.pageRankTop(folded, prIters, 10, v => d.id(v).toString)
    val triRef = Ref.triangles(folded)
    val wdRef = Ref.weightedDistance(wList, size.persons, start, wdIters)
    val nEdges = folded.friendEdges.toDouble
    timed("pass", traced, nEdges) {
      val t0 = System.nanoTime()
      val edges = spark.createDataFrame(batch.map { case (a, b) => Row(a.toLong, b.toLong) }.asJava,
        PropertyGraph.edgeStructOf(LongType))
      val g1 = sp("Streams.graphIngest")(Streams.graphIngest(spark, base, "friend", edges, nInputFiles = files))
      val nFriend = g1.edgeTables("friend").count()
      val t1 = System.nanoTime()
      val g = stringKeyed(g1)
      val twoHop = sp("PropertyGraph.bulkTraverse")(
        g.from("Person").related("friend").related("friend").ids.count())
      val cc = sp("GraphAlgos.connectedComponents")(
        GraphAlgos.connectedComponents(g, Seq("friend")).groupBy(col("component_id")).count()
          .agg(count(lit(1)), max(col("count"))).head())
      val pr = sp("GraphAlgos.pageRank")(
        GraphAlgos.pageRankFixedPoint(g, iters = prIters, relations = Seq("friend"))
          .orderBy(col("rank_nano").desc, col("id")).limit(10).collect())
        .map(r => (r.getAs[String]("id"), r.getAs[Long]("rank_nano"))).toSeq
      val tri = sp("GraphAlgos.triangleCount")(
        GraphAlgos.triangleCount(g, Seq("friend")).agg(sum(col("triangles"))).head().getLong(0))
      val viol = sp("PropertyGraph.cardinalityViolations")(g.cardinalityViolations().count())
      g1.release()
      val wd = sp("GraphAlgos.weightedDistance")(
        GraphAlgos.weightedDistance(wEdges, start.toString, wdIters).agg(count(lit(1)), sum(col("dist"))).head())
      ingestMs.add((t1 - t0) / 1e6); analyticsMs.add((System.nanoTime() - t1) / 1e6)
      Seq(
        check("folded friend edges = base + batch", nFriend == nEdges.toLong, s"$nFriend vs $nEdges"),
        check("2-hop count equals adjacency", twoHop == twoHopRef, s"$twoHop vs $twoHopRef"),
        check("component count and size equal union-find",
          (cc.getLong(0), cc.getLong(1)) == ccRef, s"$cc vs $ccRef"),
        check("pageRank top-10 equals reference power iteration", pr == prRef, s"$pr vs $prRef"),
        check("triangle count equals adjacency sets", tri == 3 * triRef, s"$tri vs 3*$triRef"),
        check("weightedDistance equals bounded Bellman-Ford",
          wd.getLong(0) == wdRef._1 && math.abs(wd.getDouble(1) - wdRef._2) < 1e-6, s"$wd vs $wdRef"),
        check("cardinalityViolations equal planted", viol == size.plantedViolations, s"$viol")
      ).forall(identity)
    }
  }

  def warmup(): Unit = ()
  def window(seconds: Double, trace: Boolean): Seq[Sample] = passLoop(seconds, trace)(pass)
  def workPerSecond(samples: Seq[Sample]): Double =
    Main.median(samples.map(_.work)) / (Main.median(samples.map(_.ms)) / 1e3)
  def named(samples: Seq[Sample]): Seq[(String, Double, String)] = {
    val analytics = Main.median(analyticsMs.asScala.toSeq) / 1e3
    val ingest = Main.median(ingestMs.asScala.toSeq) / 1e3
    Seq(
      ("analytics.edges_per_s", Main.median(samples.map(_.work)) / analytics, "1/s"),
      ("analytics.pass_p50_s", analytics, "s"),
      ("ingest.rows_per_s", batchEdges / ingest, "1/s"),
      ("ingest.drain_p50_s", ingest, "s"),
      ("graph.passes", samples.size.toDouble, "count"))
  }
}

// ------------------------------------------------------- corpus_pipeline

/** LLM-corpus operators over generated docs and embeddings. One pass runs
  * exact, MinHash, SimHash and CDC dedup, clustering, BM25 and IVF-PQ over
  * the corpus, then drains a new doc batch through `Streams.jaccardIngest`
  * and `Streams.bm25Ingest` against the corpus staged in set-up.
  */
final class CorpusPipeline(ctx: Ctx) extends Workload(ctx) {
  val size = Gen.CorpusSize(docs = 1200, tokens = 150, vocab = 5000, nearDupShare = 0.2,
    exactDupShare = 0.05, vectors = 1200, dim = 64, clusters = 32, vecNearCopyShare = 0.1,
    bm25Queries = 50, annQueries = 50)
  val (pqM, pqK, cells, nProbe) = (8, 16, 32, 4)
  val (checkQueries, minRecall, minAnnRecall) = (10, 0.9, 0.4)
  val (batchDocs, batchNearDupShare, files, threshold, ingestQueries) = (200, 0.3, 4, 0.6, 10)
  private var c: Gen.CorpusData = _
  private var docs, bmQ, annQ, layout, cent, ingestQ: DataFrame = _
  private var codebook: Array[Double] = _
  private var staged: Dedup.StagedPostings = _
  private var bm25Dir: String = _
  private var bm25Ref: Map[Long, Seq[(Long, Double)]] = Map.empty
  private var bm25All: Map[Long, Map[Long, Double]] = Map.empty
  private var annRef: Map[Long, Seq[Long]] = Map.empty
  private var passes = 0L
  private val recalls, annRecalls, ingestMs, batchMs = new ConcurrentLinkedQueue[Double]()

  def setup(rep: Int): Unit = {
    c = Gen.corpus(ctx.seed, size)
    val dir = ctx.work.resolve(s"corpus-$rep").toString
    docs = Workloads.stored(spark, Workloads.docsFrame(spark, c.docs), s"$dir/docs")
    bmQ = Workloads.docsFrame(spark, c.bm25Queries)
    ingestQ = bmQ.orderBy(col("id")).limit(ingestQueries)
    val emb = Workloads.vecFrame(spark, c.vectors)
    annQ = Workloads.vecFrame(spark, c.annQueries)
    codebook = sp("Ann.pqTrainedCodebook")(
      Ann.pqTrainedCodebook(emb, "vec_id", "embedding", m = pqM, ksub = pqK, iters = 1))
    // lazy staging calls are timed with the write that runs them
    sp("Ann.ivfCentroids")(Ann.ivfCentroids(emb, "vec_id", "embedding", cells)
      .write.mode("overwrite").parquet(s"$dir/centroids"))
    Ann.withPqCodes(
        Ann.withIvfQuantizedLayout(emb, "vec_id", "embedding", nCentroids = cells),
        "embedding", codebook, m = pqM, ksub = pqK)
      .repartition(col("cluster_id")) // one file per cell
      .write.mode("overwrite").partitionBy("cluster_id").parquet(s"$dir/layout")
    cent = spark.read.parquet(s"$dir/centroids")
    layout = spark.read.parquet(s"$dir/layout")
    // the staged corpus the ingest drains fold against
    sp("Dedup.stageJaccardPostings")(Dedup.stageJaccardPostings(docs, "id", "text").write(s"$dir/postings"))
    staged = Dedup.StagedPostings.read(spark, s"$dir/postings")
    bm25Dir = s"$dir/bm25"
    sp("Retrieval.stageBm25Index")(Retrieval.stageBm25Index(docs, "id", "text").write(bm25Dir))
  }

  override def references(): Unit = {
    val bm = new Ref.Bm25(c.docs)
    val qs = c.bm25Queries.take(checkQueries)
    bm25All = qs.map { case (q, t) => q -> bm.scores(t) }.toMap
    bm25Ref = qs.map { case (q, t) => q -> bm.topK(t, 10) }.toMap
    annRef = c.annQueries.take(checkQueries * 2).map { case (q, v) => q -> Ref.exactTopK(c.vectors.toSeq, v, 10) }.toMap
  }

  def planted: Seq[(String, Any)] = Seq(
    "docs" -> s"${size.docs} x ${size.tokens} tokens, zipf(s=1.0) vocabulary of ${size.vocab}",
    "near_duplicates" -> f"${c.nearDups.size} (share ${size.nearDupShare}, jaccard ${c.nearDups.map(_.jaccard).min}%.2f-${c.nearDups.map(_.jaccard).max}%.2f)",
    "exact_duplicates" -> s"${c.exactGroups.map(_._2.size).sum} copies in ${c.exactGroups.size} groups (share ${size.exactDupShare})",
    "embeddings" -> s"${size.vectors} x ${size.dim}, ${size.clusters} gaussian clusters, near-copy share ${size.vecNearCopyShare}",
    "queries" -> s"bm25=${size.bm25Queries} ann=${size.annQueries}, checked on $checkQueries and ${checkQueries * 2}",
    "ivf_pq" -> s"cells=$cells nProbe=$nProbe m=$pqM ksub=$pqK",
    "batch" -> s"$batchDocs docs per pass ($batchNearDupShare near-duplicates of the corpus) over $files input files, jaccard threshold $threshold")

  private def pairSet(rows: Array[Row]): Set[(Long, Long)] =
    rows.map(r => (math.min(r.getLong(0), r.getLong(1)), math.max(r.getLong(0), r.getLong(1)))).toSet

  /** The batch operators over the corpus, checked. */
  private def batchOps(): Boolean = {
    val exact = sp("Dedup.exact")(
      Dedup.exact(docs, "id", Seq("text")).where(col("n_copies") > 1).select(col("n_copies")).collect())
    val mh = sp("Dedup.minhashPairs")(
      Dedup.minhashPairs(docs, "id", "text", threshold = 0.5).select(col("doc_a"), col("doc_b")).collect())
    val pairsDf = spark.createDataFrame(mh.toSeq.asJava,
      StructType(Seq(StructField("doc_a", LongType), StructField("doc_b", LongType))))
    val clusters = sp("Dedup.clusters")(Dedup.clusters(pairsDf).select(col("cluster_id")).distinct().count())
    val sim = sp("Dedup.simhashPairs")(
      Dedup.simhashPairs(docs, "id", "text", maxHamming = 3).select(col("doc_a"), col("doc_b")).collect())
    val cdcFull = sp("Dedup.cdcDedup")(
      Dedup.cdcDedup(docs, "id", "text").where(col("dup_token_ratio") >= 0.9999).select(col("id")).collect())
      .map(_.getLong(0)).toSet
    val bm = sp("Retrieval.bm25TopK")(Retrieval.bm25TopK(docs, bmQ, "id", "text", k = 10).collect())
    val ann = sp("Ann.ivfPqTopK")(
      Ann.ivfPqTopK(layout, cent, annQ, "vec_id", "embedding", "pq_codes", codebook, k = 10,
        m = pqM, ksub = pqK, nProbe = nProbe, nCandidates = 50, nCells = cells)
        .select(col("query_id"), col("corpus_id")).collect())

    val mhSet = pairSet(mh)
    val exactPairs = c.exactGroups.flatMap { case (s, cs) => cs.map(x => (s, x)) }
    val planted = c.nearDups.map(n => (math.min(n.doc, n.source), math.max(n.doc, n.source)))
    val recall = planted.count(mhSet).toDouble / planted.size
    recalls.add(recall)
    val refClusters = Ref.clusterCount(mhSet)
    val simSet = pairSet(sim)
    val bmGot = bm.groupBy(_.getAs[Long]("query_id")).view
      .mapValues(_.sortBy(_.getAs[Int]("rank")).map(r => (r.getAs[Long]("corpus_id"), r.getAs[Double]("score"))).toSeq).toMap
    val annGot = ann.groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val annRecall = annRef.map { case (q, ids) => ids.count(annGot.getOrElse(q, Set.empty)).toDouble / ids.size }.sum / annRef.size
    annRecalls.add(annRecall)
    Seq(
      check("exact dedup groups equal planted",
        exact.length == c.exactGroups.size && exact.map(_.getLong(0)).sum == c.exactGroups.map(_._2.size + 1).sum,
        s"${exact.length} groups"),
      check(s"minhash planted-pair recall >= $minRecall and every exact pair found",
        recall >= minRecall && exactPairs.forall(mhSet), f"recall=$recall%.3f"),
      check("clusters equal union-find over the pairs", clusters == refClusters, s"$clusters vs $refClusters"),
      check("simhash finds every exact pair", exactPairs.forall(simSet), ""),
      check("cdcDedup marks every exact copy fully duplicate", exactPairs.forall(p => cdcFull(p._2)), ""),
      check("bm25TopK equals reference BM25 on sampled queries", bm25Ref.forall { case (q, refTop) =>
        Ref.sameTopK(bmGot.getOrElse(q, Nil), refTop, id => bm25All(q).get(id)) }, ""),
      check(s"ivfPqTopK recall@10 >= $minAnnRecall against exact cosine", annRecall >= minAnnRecall,
        f"recall=$annRecall%.3f")
    ).forall(identity)
  }

  /** Drain batch `i` through jaccardIngest and bm25Ingest; the BM25 result
    * is compared with a reference BM25 over corpus + batch after timing.
    */
  private def drain(i: Long): (Boolean, () => Boolean) = {
    val bc = Gen.corpus(ctx.seed * 7919 + i,
      size.copy(docs = batchDocs, nearDupShare = batchNearDupShare, exactDupShare = 0,
        vectors = 0, bm25Queries = 0, annQueries = 0),
      firstId = 1000000L * (i + 1), dupSources = Some(c.docs.toIndexedSeq))
    val dups = bc.nearDups.map(_.doc).toSet
    val batch = Workloads.docsFrame(spark, bc.docs)
    val verdicts = sp("Streams.jaccardIngest")(
      Streams.jaccardIngest(spark, staged, batch, "id", "text", threshold, nInputFiles = files)
        .select(col("doc_id"), col("is_dup")).collect())
    val top = sp("Streams.bm25Ingest")(
      Streams.bm25Ingest(spark, bm25Dir, batch, ingestQ, "id", "text", k = 10, nInputFiles = files).collect())
    val ok = Seq(
      check("jaccard verdict per batch doc", verdicts.length == batchDocs, s"${verdicts.length}"),
      check("jaccard duplicates equal planted near-duplicates",
        verdicts.filter(_.getBoolean(1)).map(_.getLong(0)).toSet == dups, ""),
      check("bm25Ingest returns top-10 per query", top.length == ingestQueries * 10, s"${top.length}")
    ).forall(identity)
    val spot = () => {
      val bm = new Ref.Bm25(c.docs ++ bc.docs)
      val ok = c.bm25Queries.sortBy(_._1).take(2).forall { case (q, t) =>
        val got = top.filter(_.getAs[Long]("query_id") == q).sortBy(_.getAs[Int]("rank"))
          .map(r => (r.getAs[Long]("corpus_id"), r.getAs[Double]("score"))).toSeq
        val all = bm.scores(t)
        Ref.sameTopK(got, bm.topK(t, 10), id => all.get(id))
      }
      check("bm25Ingest equals reference BM25 over corpus + batch", ok)
    }
    (ok, spot)
  }

  private def pass(traced: Boolean): Sample = {
    val i = passes; passes += 1
    var spot: () => Boolean = () => true
    val s = timed("pass", traced, size.docs) {
      val t0 = System.nanoTime()
      val batchOk = batchOps()
      val t1 = System.nanoTime()
      val (ingestOk, sc) = drain(i)
      spot = sc
      batchMs.add((t1 - t0) / 1e6); ingestMs.add((System.nanoTime() - t1) / 1e6)
      batchOk && ingestOk
    }
    if (s.ok) s.copy(ok = spot()) else s
  }

  /** One projection-only job per custom expression (traced runs only). */
  private def probeFunctions(): Unit = {
    import graft.functions.TextFunctions.tokens
    def run(name: String, df: DataFrame): Unit =
      ctx.tracer.request("probe")(sp(s"functions.$name")(df.write.format("noop").mode("overwrite").save()))
    val subDim = codebook.length / (pqM * pqK)
    run("minhashSig", docs.select(graft.functions.MinHashSignature.minhashSig(tokens(col("text")), 64, 3)))
    run("simhash64", docs.select(graft.functions.VectorFunctions.simhash64(tokens(col("text")))))
    run("cdcChunks", docs.select(graft.functions.CdcChunks.cdcChunks(tokens(col("text")), 20)))
    run("pqEncode", layout.select(graft.functions.PqExpressions.pqEncode(col("embedding"), codebook, pqM, pqK, subDim)))
    run("signBucket", layout.select(Ann.signBucket(col("embedding"), 12, 7L, size.dim)))
  }

  def warmup(): Unit = ()
  def window(seconds: Double, trace: Boolean): Seq[Sample] = {
    val s = passLoop(seconds, trace)(pass)
    if (trace) { ctx.tracer.setEnabled(true); probeFunctions(); ctx.tracer.setEnabled(false) }
    s
  }
  def workPerSecond(samples: Seq[Sample]): Double = size.docs / (Main.median(samples.map(_.ms)) / 1e3)
  def named(samples: Seq[Sample]): Seq[(String, Double, String)] = {
    val batch = Main.median(batchMs.asScala.toSeq) / 1e3
    val ingest = Main.median(ingestMs.asScala.toSeq) / 1e3
    Seq(
      ("corpus.docs_per_s", size.docs / batch, "1/s"),
      ("corpus.pass_p50_s", batch, "s"),
      ("ingest.rows_per_s", 2.0 * batchDocs / ingest, "1/s"),
      ("ingest.drain_p50_s", ingest, "s"),
      ("corpus.passes", samples.size.toDouble, "count"))
  }
  override def layerExtras: Map[String, Double] = Map(
    "Dedup.recall" -> Main.median(recalls.asScala.toSeq),
    "Ann.recall_at_10" -> Main.median(annRecalls.asScala.toSeq))
}
