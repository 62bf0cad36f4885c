package perfbench

/** The per-layer metrics of a traced run. Every workload reports the full
  * list; a span or count a workload never produces reads 0 there (the
  * "should stay flat" side of each layer). */
object Layers {
  val Spans: Seq[String] = Seq(
    "zarr.read_sparse", "array.prep", "array.pca_fit", "array.pca_transform", "zarr.write",
    "zarr.rechunk", "zarr.read", "zarr.band_read",
    "ops.filter", "ops.exact_dedup", "cache.shingle_index", "ops.near_dedup", "ops.write")
  private val SpanMetrics = Seq("wall_s" -> "s", "self_s" -> "s", "jobs" -> "count",
    "task_cpu_s" -> "s", "shuffle_mb" -> "MB")
  /** Per-step counts a workload reports in [[Step.counts]]. */
  val StepCounts: Seq[(String, String)] = Seq("zarr.disk_mb" -> "MB", "zarr.chunk_files" -> "count",
    "ops.docs_kept" -> "count", "ops.near_dup_docs" -> "count",
    "cache.artifacts" -> "count", "cache.mb" -> "MB")
  private val SparkMetrics = Seq("spark.jobs" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "spark.plan_ms" -> "ms", "spark.sched_delay_s" -> "s",
    "spark.fetch_wait_s" -> "s", "spark.task_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.shuffle_mb" -> "MB", "spark.spill_mb" -> "MB")
  val Codecs: Seq[String] = Seq("blosc", "zstd", "zlib")

  /** Every per-layer metric name with its unit, in report order. */
  val all: Seq[(String, String)] =
    Spans.flatMap(s => SpanMetrics.map { case (m, u) => (s"$s.$m", u) }) ++
      StepCounts.take(2) ++ Seq("zarr.band_tasks_per_chunk" -> "ratio") ++ StepCounts.drop(2) ++
      SparkMetrics ++ Seq("spark.slot_busy_share" -> "ratio") ++
      Codecs.flatMap(c => Seq(s"codec.$c.encode_mb_s" -> "MB/s", s"codec.$c.decode_mb_s" -> "MB/s")) ++
      Seq("trace.overhead_share" -> "ratio")

  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  def metrics(wl: Workload, tr: Tracer, steps: Seq[Step], cpus: Int,
              codec: Seq[Codec.Result]): Seq[(String, Double, String)] = {
    val calls = tr.spans.filter(_.group.nonEmpty).toSeq
    val v = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    Spans.foreach { name =>
      val occ = calls.filter(_.name == name)
      val jobs = occ.map(tr.jobsOf)
      v(s"$name.wall_s") = med(occ.map(s => (s.t1Ns - s.t0Ns) / 1e9))
      v(s"$name.self_s") = med(occ.map(tr.selfS))
      v(s"$name.jobs") = med(jobs.map(_.size.toDouble))
      v(s"$name.task_cpu_s") = med(jobs.map(_.map(_.cpuNs).sum / 1e9))
      v(s"$name.shuffle_mb") = med(jobs.map(_.map(_.shuffleBytes).sum / 1e6))
    }
    StepCounts.foreach { case (n, _) => v(n) = med(steps.map(_.counts.getOrElse(n, 0.0))) }
    v("zarr.band_tasks_per_chunk") = med(calls.filter(_.name == "zarr.band_read")
      .map(s => tr.jobsOf(s).map(_.tasks).sum.toDouble / wl.bandChunks))
    val perStep = calls.groupBy(_.step).toSeq.sortBy(_._1).map { case (_, ss) =>
      val js = ss.flatMap(tr.jobsOf)
      Map(
        "spark.jobs" -> js.size.toDouble,
        "spark.stages" -> js.map(_.stages).sum.toDouble,
        "spark.tasks" -> js.map(_.tasks).sum.toDouble,
        "spark.plan_ms" -> ss.map(tr.planMs).sum,
        "spark.sched_delay_s" -> js.map(_.schedDelayMs).sum / 1e3,
        "spark.fetch_wait_s" -> js.map(_.fetchWaitMs).sum / 1e3,
        "spark.task_cpu_s" -> js.map(_.cpuNs).sum / 1e9,
        "spark.gc_s" -> js.map(_.gcMs).sum / 1e3,
        "spark.shuffle_mb" -> js.map(_.shuffleBytes).sum / 1e6,
        "spark.spill_mb" -> js.map(_.spillBytes).sum / 1e6)
    }
    // counts come from the first traced step, whose input is fixed by the
    // seed: corpus_curate's job count varies by shard, and how many steps a
    // run makes varies with the host
    SparkMetrics.foreach { case (n, u) =>
      v(n) = if (u == "count") perStep.headOption.map(_(n)).getOrElse(0.0) else med(perStep.map(_(n)))
    }
    val runMs = calls.flatMap(tr.jobsOf).map(_.runMs).sum
    v("spark.slot_busy_share") = runMs / 1e3 / (cpus * steps.map(_.ns).sum / 1e9)
    Codecs.foreach { c =>
      val r = codec.find(_.codec == c)
      v(s"codec.$c.encode_mb_s") = r.map(_.encodeMBs).getOrElse(0.0)
      v(s"codec.$c.decode_mb_s") = r.map(_.decodeMBs).getOrElse(0.0)
    }
    val units = all.toMap
    v.toSeq.map { case (n, x) => (n, x, units(n)) }
  }
}
