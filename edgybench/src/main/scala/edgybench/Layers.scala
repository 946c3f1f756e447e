package edgybench

import scala.jdk.CollectionConverters._

import Main.{Ctx, Sample, median}

/** Per-layer figures of a traced run. Every name is reported on every
  * workload; a layer the workload bypasses reads 0.
  *
  * `<Layer>.<call>.ms` is the mean self time of one call (span minus its
  * child spans). Counts are per top-level operation (request or pass)
  * unless the name says otherwise.
  */
object Layers {

  val callSpans: Seq[String] = Seq(
    "PropertyGraph.lookupBy", "PropertyGraph.traverse", "PropertyGraph.exec",
    "PropertyGraph.getAttribute", "PropertyGraph.isRelated", "PropertyGraph.mutate",
    "PropertyGraph.saveRelation", "PropertyGraph.load", "PropertyGraph.bulkTraverse",
    "PropertyGraph.cardinalityViolations",
    "GraphAlgos.connectedComponents", "GraphAlgos.pageRank", "GraphAlgos.triangleCount",
    "GraphAlgos.weightedDistance",
    "functions.minhashSig", "functions.simhash64", "functions.cdcChunks", "functions.pqEncode",
    "functions.signBucket",
    "Dedup.exact", "Dedup.minhashPairs", "Dedup.simhashPairs", "Dedup.cdcDedup", "Dedup.clusters",
    "Dedup.stageJaccardPostings",
    "Retrieval.bm25TopK", "Retrieval.stageBm25Index",
    "Ann.ivfCentroids", "Ann.pqTrainedCodebook", "Ann.ivfPqTopK",
    "Streams.graphIngest", "Streams.jaccardIngest", "Streams.bm25Ingest")

  val counters: Seq[(String, String)] = Seq(
    "PropertyGraph.read.jobs" -> "count", "PropertyGraph.read.planning_ms" -> "ms",
    "PropertyGraph.write_amp" -> "ratio", "PropertyGraph.lock_wait_ms" -> "ms",
    "GraphAlgos.jobs" -> "count", "GraphAlgos.shuffle_bytes" -> "bytes", "GraphAlgos.task_skew" -> "ratio",
    "Dedup.recall" -> "ratio", "Ann.recall_at_10" -> "ratio",
    "Streams.tick.count" -> "count", "Streams.tick.rows" -> "count",
    "Streams.tick.addBatch_ms" -> "ms", "Streams.tick.queryPlanning_ms" -> "ms",
    "Streams.tick.walCommit_ms" -> "ms", "Streams.tick.commitOffsets_ms" -> "ms",
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.task_ms" -> "ms",
    "spark.scheduler_delay_ms" -> "ms", "spark.gc_ms" -> "ms", "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.pinned_after" -> "count", "spark.pinned_after_mb" -> "MB",
    "trace.overhead_frac" -> "ratio")

  /** Every per-layer metric name with its unit, in report order. */
  val all: Seq[(String, String)] = callSpans.map(s => s"$s.ms" -> "ms") ++ counters

  def report(ctx: Ctx, w: Workload, samples: Seq[Sample]): Seq[(String, Double, String)] = {
    val t = ctx.tracer
    val spans = t.spans.asScala.toSeq
    def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def perOp(total: Double, ops: Int): Double = if (ops == 0) 0.0 else total / ops

    val v = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    callSpans.foreach(s => v(s"$s.ms") = mean(spans.filter(_.name == s).map(t.selfMs)))

    // jobs grouped by the root of the span they ran under
    val jobsBySpan = t.jobSpan.toSeq
    val opRoots = spans.filter(s => s.parent == 0L && Set("read", "write", "pass")(s.name))
    val nOps = opRoots.size
    def jobsUnder(p: Tracer.Span => Boolean): Seq[Int] = jobsBySpan.collect { case (j, s) if p(s) => j }

    val reads = opRoots.count(_.name == "read")
    val readJobs = jobsUnder(s => t.root(s).name == "read")
    v("PropertyGraph.read.jobs") = perOp(readJobs.size, reads)
    v("PropertyGraph.lock_wait_ms") =
      perOp(spans.filter(_.name == "PropertyGraph.lock_wait").map(t.selfMs).sum,
        opRoots.count(s => s.name == "read" || s.name == "write"))

    val passes = opRoots.count(_.name == "pass")
    val algoJobs = jobsUnder(_.name.startsWith("GraphAlgos."))
    val algoStages = t.stagesOf(algoJobs)
    v("GraphAlgos.jobs") = perOp(algoJobs.size, passes)
    v("GraphAlgos.shuffle_bytes") = perOp(algoStages.map(_.shuffleWrite.toDouble).sum, passes)
    val skews = algoStages.filter(_.durations.size >= 2).map { st =>
      st.durations.max.toDouble / math.max(1.0, median(st.durations.map(_.toDouble).toSeq))
    }
    v("GraphAlgos.task_skew") = if (skews.isEmpty) 0.0 else median(skews)

    w.layerExtras.foreach { case (k, x) => v(k) = if (x.isNaN) 0.0 else x }

    // micro-batches whose trigger started inside a traced Streams call
    val streamCalls = spans.filter(_.name.startsWith("Streams."))
    val ticks = t.ticks.asScala.toSeq.filter(k => streamCalls.exists(_.holds(k.atMs)))
    v("Streams.tick.count") = perOp(ticks.size, passes)
    v("Streams.tick.rows") = mean(ticks.map(_.rows.toDouble))
    Seq("addBatch", "queryPlanning", "walCommit", "commitOffsets").foreach { ph =>
      v(s"Streams.tick.${ph}_ms") = mean(ticks.map(_.durMs.getOrElse(ph, 0L).toDouble))
    }

    // whole-engine figures per top-level operation; benchmark checks excluded
    val opJobs = jobsUnder(s => !s.name.startsWith("bench.") && opRoots.contains(t.root(s)))
    val st = t.stagesOf(opJobs)
    v("spark.jobs") = perOp(opJobs.size, nOps)
    v("spark.tasks") = perOp(st.map(_.tasks.toDouble).sum, nOps)
    v("spark.task_ms") = perOp(st.map(_.taskMs.toDouble).sum, nOps)
    v("spark.scheduler_delay_ms") = perOp(st.map(_.schedDelay.toDouble).sum, nOps)
    v("spark.gc_ms") = perOp(st.map(_.gcMs.toDouble).sum, nOps)
    v("spark.shuffle_write_bytes") = perOp(st.map(_.shuffleWrite.toDouble).sum, nOps)
    v("spark.spill_bytes") = perOp(st.map(_.spill.toDouble).sum, nOps)
    val pins = w.pinnedAfter.asScala.toSeq
    v("spark.pinned_after") = mean(pins.map(_._1.toDouble))
    v("spark.pinned_after_mb") = mean(pins.map(_._2 / (1024.0 * 1024.0)))

    val (tr, un) = samples.partition(_.traced)
    v("trace.overhead_frac") =
      if (tr.isEmpty || un.isEmpty) 0.0 else median(tr.map(_.ms)) / median(un.map(_.ms)) - 1.0

    all.map { case (k, unit) => (k, v.getOrElse(k, 0.0), unit) }
  }
}
