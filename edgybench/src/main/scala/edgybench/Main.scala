package edgybench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one seed, one timed window.
  *
  * {{{
  * python3 edgybench/run.py --workload graph_oltp --seed 1 --seconds 10 --trace 0
  * }}}
  *
  * With `--trace 0` the last stdout line carries the end-to-end metrics; with
  * `--trace 1` it carries the per-layer metrics. Lines before it name every
  * workload-specific metric, the planted input properties and each check.
  */
object Main {

  final case class Ctx(spark: SparkSession, tracer: Tracer, seed: Long, work: Path, cpus: Int)

  /** One timed operation: a request or a pass. */
  final case class Sample(kind: String, ns: Long, ok: Boolean, traced: Boolean, work: Double) {
    def ms: Double = ns / 1e6
  }

  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts.getOrElse("workload", usage("--workload is required"))
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts.getOrElse("work", ".bench_build/edgybench/work")).toAbsolutePath
    val training = workload == "archive-training"
    if (!training && !Workloads.names.contains(workload)) usage(s"unknown workload '$workload'")

    val cpus = math.min(4, Runtime.getRuntime.availableProcessors())
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"edgybench-$workload")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val code =
      try {
        if (training) train(Ctx(spark, new Tracer(spark), seed, work.resolve("training"), cpus))
        else run(Ctx(spark, new Tracer(spark), seed, work.resolve(s"$workload-$seed"), cpus),
          workload, seconds, trace)
      } finally spark.stop()
    sys.exit(code)
  }

  private def usage(msg: String): Nothing = {
    System.err.println(s"edgybench: $msg\nusage: --workload <${Workloads.names.mkString("|")}> " +
      "--seed <n> --seconds <s> --trace <0|1>")
    sys.exit(2)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val (lo, hi) = (pos.floor.toInt, pos.ceil.toInt)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  private def run(ctx: Ctx, name: String, seconds: Double, trace: Boolean): Int = {
    deleteTree(ctx.work)
    Files.createDirectories(ctx.work)
    val w = Workloads(name, ctx)
    // set up several times and report the median; in a traced run the
    // last set-up is traced, so training and staging calls get layer times
    val setupS = (0 until SetupReps).map { rep =>
      val traced = trace && rep == SetupReps - 1
      ctx.tracer.setEnabled(traced)
      val t0 = System.nanoTime()
      ctx.tracer.request("setup")(w.setup(rep))
      val s = (System.nanoTime() - t0) / 1e9
      ctx.tracer.setEnabled(false)
      s
    }
    val phases = new StringBuilder
    def phase[A](name: String)(body: => A): A = {
      val t0 = System.nanoTime(); val a = body
      phases ++= f" $name=${(System.nanoTime() - t0) / 1e9}%.1fs"; a
    }
    phase("references")(w.references())
    phase("warmup")(w.warmup())
    val samples = phase("window")(w.window(seconds, trace))
    ctx.tracer.setEnabled(false)
    val retainedMb = phase("gc")(retained(ctx.spark))
    System.err.println(s"[edgybench] phases setup=${setupS.map(s => f"$s%.1f").mkString("/")}s$phases")

    val attempted = samples.size
    val failed = samples.count(!_.ok)
    val checks = w.checks
    val correct = failed == 0 && checks.forall(_._2)
    val out = System.out
    out.println(s"[edgybench] workload=$name seed=${ctx.seed} seconds=$seconds trace=${if (trace) 1 else 0} " +
      s"cpus=${ctx.cpus} ops=$attempted")
    w.planted.foreach { case (k, v) => out.println(s"[edgybench] planted $k=$v") }
    checks.foreach { case (k, ok) => out.println(s"[edgybench] check $k: ${if (ok) "ok" else "FAILED"}") }
    w.failures.asScala.take(10).foreach(f => out.println(s"[edgybench] failure: $f"))
    out.println(s"[edgybench] failed_frac=${failed.toDouble / math.max(1, attempted)} ($failed/$attempted)")
    out.println(f"[edgybench] setup_s reps=${setupS.map(s => f"$s%.3f").mkString(",")}")

    val metrics: Seq[(String, Double, String)] =
      if (!trace) {
        val untraced = samples.filterNot(_.traced)
        val named = w.named(untraced) :+ ("retained_mb", retainedMb, "MB")
        named.foreach { case (k, v, u) => out.println(f"[edgybench] $k=$v%.4f $u") }
        Seq(
          ("setup_s", median(setupS), "s"),
          ("op_p50_ms", median(untraced.map(_.ms)), "ms"),
          ("work_per_s", w.workPerSecond(untraced), "1/s"),
          ("retained_mb", retainedMb, "MB"))
      } else {
        ctx.tracer.writeSpans(ctx.work.getParent.resolve(s"spans-$name-${ctx.seed}.jsonl"))
        Layers.report(ctx, w, samples)
      }
    val m = metrics.map { case (k, v, u) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
    out.println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${m.mkString(", ")}}}""")
    out.flush()
    deleteTree(ctx.work)
    0
  }

  /** One set-up and one operation of every workload, untimed: the run the
    * build uses to record the JVM's class-data-sharing archive.
    */
  private def train(ctx: Ctx): Int = {
    Workloads.names.foreach { name =>
      deleteTree(ctx.work)
      Files.createDirectories(ctx.work)
      val w = Workloads(name, ctx)
      w.setup(0); w.references(); w.warmup(); w.window(0, trace = false)
    }
    deleteTree(ctx.work)
    0
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0.0" else java.lang.Double.toString(v)

  /** Heap after a full collection plus block-manager bytes held on disk
    * (blocks held in memory are already part of the heap).
    */
  private def retained(spark: SparkSession): Double = {
    // the context cleaner frees blocks of collected RDDs only after a GC
    // found them, so collect, let it run, and collect again
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(100) }
    val rt = Runtime.getRuntime
    val heap = rt.totalMemory() - rt.freeMemory()
    val disk = spark.sparkContext.getRDDStorageInfo.map(_.diskSize).sum
    (heap + disk) / (1024.0 * 1024.0)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p).iterator().asScala.toSeq.sortBy(-_.getNameCount)
      all.foreach(f => Files.deleteIfExists(f))
    }
}
