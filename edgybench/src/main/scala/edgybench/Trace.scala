package edgybench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spans around the benchmark's calls into each layer, plus listeners that
  * attribute Spark jobs, tasks and micro-batch phases to those spans. Off by
  * default; when off, `span` only runs its body.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc: SparkContext = spark.sparkContext
  @volatile var enabled = false
  private val nextId = new AtomicLong(1)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }
  private val reqOf = new ThreadLocal[Long] { override def initialValue(): Long = 0L }
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageRec]()
  val ticks = new ConcurrentLinkedQueue[Tick]()
  private val terminated = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val started = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Run `body` as a root span of a new request. */
  def request[A](name: String)(body: => A): A = {
    if (!enabled) return body
    reqOf.set(nextId.getAndIncrement())
    try span(name)(body) finally reqOf.set(0L)
  }

  def span[A](name: String)(body: => A): A = {
    if (!enabled) return body
    val id = nextId.getAndIncrement()
    val parent = stack.get().headOption.getOrElse(0L)
    val prevGroup = sc.getLocalProperty(JobGroupKey)
    stack.set(id :: stack.get())
    sc.setJobGroup(s"$GroupPrefix$id", name)
    val (w0, t0) = (System.currentTimeMillis(), System.nanoTime())
    try body
    finally {
      val t1 = System.nanoTime()
      stack.set(stack.get().tail)
      if (prevGroup == null) sc.clearJobGroup() else sc.setJobGroup(prevGroup, "")
      spans.add(Span(id, parent, name, reqOf.get(), t0, t1, w0, System.currentTimeMillis()))
    }
  }

  private object jobListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = e.properties
      def prop(k: String) = Option(if (p == null) null else p.getProperty(k))
      val rec = JobRec(e.jobId, prop(JobGroupKey),
        prop("sql.streaming.queryId"), e.time)
      jobs.put(e.jobId, rec)
      e.stageIds.foreach(s => stages.computeIfAbsent(s, _ => new StageRec(e.jobId)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val st = stages.computeIfAbsent(e.stageId, _ => new StageRec(-1))
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m != null && info != null) st.synchronized {
        st.tasks += 1
        st.durations += info.duration
        st.taskMs += info.duration
        st.gcMs += m.jvmGCTime
        st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        st.schedDelay += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
      }
    }
  }

  private object tickListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      started.add(e.id.toString)
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap
      ticks.add(Tick(p.id.toString, p.batchId, p.numInputRows, d,
        java.time.Instant.parse(p.timestamp).toEpochMilli))
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      terminated.add(e.id.toString)
  }

  private var attached = false

  /** Turn tracing on or off; listeners are attached only while on. */
  def setEnabled(on: Boolean): Unit = synchronized {
    if (on && !attached) {
      sc.addSparkListener(jobListener); spark.streams.addListener(tickListener); attached = true
    } else if (!on && attached) {
      awaitEvents(); sc.removeSparkListener(jobListener); spark.streams.removeListener(tickListener)
      attached = false
    }
    enabled = on
  }

  /** Wait until every started streaming query's termination event arrived
    * and the Spark listener bus caught up with the jobs run so far.
    */
  def awaitEvents(): Unit = {
    val deadline = System.nanoTime() + 5_000_000_000L
    while (System.nanoTime() < deadline &&
        !started.asScala.forall(terminated.contains)) Thread.sleep(5)
    // a marker job: once its end shows up, earlier events have been handled
    val before = jobs.size()
    sc.parallelize(Seq(1), 1).count()
    while (System.nanoTime() < deadline && jobs.size() <= before) Thread.sleep(5)
    Thread.sleep(20)
  }

  // ----------------------------------------------------------- reports

  private lazy val byId: Map[Long, Span] = spans.asScala.map(s => s.id -> s).toMap

  def selfMs(s: Span): Double = {
    val kids = children.getOrElse(s.id, Nil)
    (s.durNs - kids.map(_.durNs).sum) / 1e6
  }
  private lazy val children: Map[Long, Seq[Span]] = spans.asScala.toSeq.groupBy(_.parent)

  /** The root (request, pass or set-up) a span belongs to. */
  def root(s: Span): Span = { var r = s; while (r.parent != 0L) r = byId(r.parent); r }

  def spanOfGroup(g: String): Option[Span] =
    if (g.startsWith(GroupPrefix)) byId.get(g.stripPrefix(GroupPrefix).toLong) else None

  /** Each job's span: by job group, except that streaming jobs go to the
    * Streams span whose time window holds the job (pool threads that write
    * ticks keep a stale job group).
    */
  lazy val jobSpan: Map[Int, Span] = {
    val streamSpans = spans.asScala.filter(_.name.startsWith("Streams.")).toSeq
    jobs.asScala.toSeq.flatMap { case (id, j) =>
      val s =
        if (j.queryId.isDefined) streamSpans.find(_.holds(j.startMs))
        else j.group.flatMap(spanOfGroup)
      s.map(id -> _)
    }.toMap
  }

  def stagesOf(jobIds: Iterable[Int]): Seq[StageRec] = {
    val js = jobIds.toSet
    stages.asScala.values.filter(st => js(st.jobId)).toSeq
  }

  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = spans.asScala.toSeq.sortBy(_.t0).map { s =>
      f"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","request":${s.request},""" +
        f""""start_ns":${s.t0},"end_ns":${s.t1},"self_ms":${selfMs(s)}%.4f}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  val GroupPrefix = "edgybench-span-"
  val JobGroupKey = "spark.jobGroup.id"

  /** `t0`/`t1` time the span (nanoTime); `w0`/`w1` place it on the wall
    * clock, which Spark's own events carry.
    */
  final case class Span(id: Long, parent: Long, name: String, request: Long,
      t0: Long, t1: Long, w0: Long, w1: Long) {
    def durNs: Long = t1 - t0
    def holds(epochMs: Long): Boolean = epochMs >= w0 && epochMs <= w1
  }
  final case class JobRec(id: Int, group: Option[String], queryId: Option[String], startMs: Long)
  final class StageRec(val jobId: Int) {
    var tasks = 0L
    val durations: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty
    var taskMs, gcMs, shuffleWrite, spill, schedDelay = 0L
  }
  final case class Tick(queryId: String, batchId: Long, rows: Long, durMs: Map[String, Long], atMs: Long)
}
