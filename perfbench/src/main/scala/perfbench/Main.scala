package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

/** Shared by the workloads: the session, the seed, and the run's scratch
  * root (fresh per run, removed by the launcher). */
final case class Ctx(spark: SparkSession, seed: Long, runDir: String, cpus: Int, probeHeap: Boolean) {
  def scratch(name: String): String = s"$runDir/scratch/$name"
  var peakHeapMb = 0.0
  /** Called once per step, right after its timed calls while everything the
    * step built is still reachable: heap in use after a full GC, max over
    * steps. Untimed; skipped in traced runs. */
  def heapAfterCalls(): Unit = if (probeHeap) {
    System.gc()
    peakHeapMb = math.max(peakHeapMb,
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6)
  }
}

/** One closed-loop step's outcome. `ns` is the timed wall time of the step's
  * calls; `phases` splits it where a workload reports phases; `counts` are
  * the per-step layer counts (disk MB, docs kept, ...). */
final case class Step(ns: Long, calls: Int, failed: Int,
                      phases: Map[String, Long] = Map.empty,
                      counts: Map[String, Double] = Map.empty)

trait Workload {
  def name: String
  /** Input size, one line. */
  def inputSize: String
  /** Generate and stage the inputs, once per run. */
  def stage(): Unit
  /** Steps run untimed before measuring. */
  def warmupSteps: Int
  def step(k: Int, tr: Tracer): Step
  /** Chunk buffers for the Spark-free codec pass. */
  def codecBuffers: Seq[Array[Double]]
  /** Chunks one band read intersects (zarr_store's pruning ratio). */
  def bandChunks: Int = 1
  /** Human-readable end-to-end lines for the timed steps. */
  def report(steps: Seq[Step]): Seq[String]
}

object Main {
  private def arg(args: Array[String], key: String): Option[String] =
    args.sliding(2).collectFirst { case Array(k, v) if k == key => v }

  def main(args: Array[String]): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val workload = arg(args, "--workload").getOrElse(sys.error("--workload is required"))
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(args, "--seconds").map(_.toDouble).getOrElse(10.0)
    val trace = arg(args, "--trace").contains("1")
    val runDir = arg(args, "--run-dir").getOrElse(sys.error("--run-dir is required"))
    val traceOut = arg(args, "--trace-out")
    val cpus = Runtime.getRuntime.availableProcessors
    val os = ManagementFactory.getOperatingSystemMXBean
    val heapMax = Runtime.getRuntime.maxMemory / (1 << 20)
    val loadStart = os.getSystemLoadAverage

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.log.level", "ERROR")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.graft.models.dir", s"$runDir/models")
      .getOrCreate()
    val bootS = (System.currentTimeMillis() - jvmStart) / 1e3

    val ctx = Ctx(spark, seed, runDir, cpus, probeHeap = !trace)
    val wl: Workload = workload match {
      case "scanpy_recipe" => new ScanpyRecipe(ctx)
      case "zarr_store" => new ZarrStore(ctx)
      case "corpus_curate" => new CorpusCurate(ctx)
      case other => sys.error(s"unknown workload $other")
    }
    val tr = new Tracer(spark)

    // set-up: session boot, input staging, then the warm-up steps; setup_s
    // is the wall from JVM start to the first timed call
    val stageT0 = System.nanoTime()
    wl.stage()
    val stageS = (System.nanoTime() - stageT0) / 1e9
    var attempted = 0
    var failed = 0
    val warmMs = (0 until wl.warmupSteps).map { k =>
      val t0 = System.nanoTime()
      val s = wl.step(-1 - k, tr)
      attempted += s.calls; failed += s.failed
      val ms = (System.nanoTime() - t0) / 1e6
      if (!trace) RefJob.run(spark, cpus)
      ms
    }
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3

    // timed closed loop; an untraced run times the ref job before the first
    // step and after each one (outside the steps' timed calls); a traced run
    // alternates untraced steps (the overhead baseline) with traced ones
    val steps = ArrayBuffer.empty[Step]
    val order = ArrayBuffer.empty[(Boolean, Step)] // (traced, step), run order
    val refNs = ArrayBuffer.empty[Long]
    if (!trace) refNs += RefJob.run(spark, cpus)
    def loop(budgetS: Double): Unit = {
      val end = System.nanoTime() + (budgetS * 1e9).toLong
      var k = 0
      while (System.nanoTime() < end || steps.size < 2) {
        val traced = trace && k % 2 == 1
        tr.active(traced)
        val s = wl.step(k, tr)
        tr.active(false)
        if (traced || !trace) steps += s
        if (!trace) refNs += RefJob.run(spark, cpus)
        order += ((traced, s))
        attempted += s.calls; failed += s.failed
        k += 1
      }
    }
    var codec = Seq.empty[Codec.Result]
    if (trace) tr.enable()
    loop(seconds)
    if (trace) {
      codec = try Codec.measure(wl.codecBuffers, 150)
        catch { case NonFatal(e) => System.err.println(s"codec pass failed: $e"); failed += 1; Seq.empty }
    }
    val loadEnd = os.getSystemLoadAverage
    spark.stop() // drains the listener bus: every job event is in

    val stepMs = steps.map(_.ns / 1e6).toSeq
    val out = new ArrayBuffer[String]
    out += f"# perfbench workload=$workload seed=$seed seconds=$seconds%.0f trace=${if (trace) 1 else 0} " +
      f"nproc=$cpus heap_mb=$heapMax loadavg_start=$loadStart%.2f loadavg_end=$loadEnd%.2f"
    out += s"# input: ${wl.inputSize}"
    out += f"setup_s = $setupS%.3f s (JVM start to first timed call: session boot $bootS%.3f, staging $stageS%.3f, " +
      s"warm-up steps ${warmMs.map(t => f"$t%.0f").mkString(" ")} ms incl. checks)"
    val metrics: Seq[(String, Double, String)] =
      if (!trace) {
        out ++= wl.report(steps.toSeq)
        // host interference only ever adds time, so the fastest pass and the
        // fastest ref job of the same window are the best estimates of each
        val refMs = refNs.map(_ / 1e6).toSeq
        val perRef = stepMs.min / refMs.min
        out += f"pass_ms_p50 = ${Stats.median(stepMs)}%.3f ms (n=${stepMs.size}, min ${stepMs.min}%.3f, max ${stepMs.max}%.3f)"
        out += f"ref_ms_p50 = ${Stats.median(refMs)}%.3f ms (n=${refMs.size}, min ${refMs.min}%.3f, max ${refMs.max}%.3f)"
        out += f"pass_per_ref = $perRef%.4f ratio (fastest pass / fastest ref job)"
        if (stepMs.size <= 40) {
          out += s"# pass_ms in order: ${stepMs.map(t => f"$t%.0f").mkString(" ")}"
          out += s"# ref_ms in order: ${refMs.map(t => f"$t%.0f").mkString(" ")}"
        }
        out += f"peak_heap_mb = ${ctx.peakHeapMb}%.1f MB (heap in use after a full GC at the end of each pass's calls, max)"
        out += f"fail_ratio = ${failed.toDouble / math.max(1, attempted)}%.4f ratio ($failed of $attempted calls)"
        Seq(("setup_s", setupS, "s"), ("pass_per_ref", perRef, "ratio"),
          ("peak_heap_mb", ctx.peakHeapMb, "MB"))
      } else {
        val layer = Layers.metrics(wl, tr, steps.toSeq, cpus, codec)
        // each traced step against the mean of its untraced neighbours, so
        // the warm-up drift across the run cancels
        val overhead = Stats.median(order.indices.collect { case i if order(i)._1 =>
          val nb = Seq(i - 1, i + 1).filter(j => j >= 0 && j < order.size).map(order(_)._2.ns.toDouble)
          order(i)._2.ns / (nb.sum / nb.size)
        }.toSeq) - 1
        codec.foreach(c => out += f"codec ${c.codec}: ${c.logicalMB}%.2f MB logical, ${c.encodedMB}%.2f MB encoded per pass")
        out += f"fail_ratio = ${failed.toDouble / math.max(1, attempted)}%.4f ratio ($failed of $attempted calls)"
        traceOut.foreach(p => tr.dump(p, s"""{"workload": "$workload", "seed": $seed, "steps": ${steps.size}}"""))
        layer :+ (("trace.overhead_share", overhead, "ratio"))
      }
    metrics.foreach { case (n, v, u) => if (!out.exists(_.startsWith(s"$n ="))) out += s"$n = $v $u" }
    out.foreach(println)
    val body = metrics.map { case (n, v, u) =>
      val num = if (v.isNaN || v.isInfinite) "0" else v.toString
      s""""$n": {"value": $num, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": ${math.max(1, attempted)}, "failed": $failed, "metrics": {$body}}""")
    System.out.flush()
    sys.exit(if (failed == 0) 0 else 1)
  }
}
