package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into graft's layers, plus what
  * Spark's public listener APIs report about the jobs those calls launch.
  *
  * A span is one call: name `<layer>.<call>`, wall interval, parent (the
  * closed-loop step it belongs to). While tracing, each call runs under its
  * own job group, which is how a Spark job is attached to the call that
  * launched it. Everything stays in memory; [[dump]] writes it once. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  @volatile private var on = false
  private var nextId = 0
  private var step = -1
  private var stepSpan = -1
  val spans = ArrayBuffer.empty[Span]

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val plans = new java.util.concurrent.ConcurrentLinkedQueue[Plan]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobs.put(e.jobId, new JobRec(e.jobId, group, e.time))
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      rec(e.stageInfo.stageId).foreach(_.stages += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = rec(e.stageId).foreach { j =>
      j.synchronized {
        j.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          val info = e.taskInfo
          j.cpuNs += m.executorCpuTime
          j.runMs += m.executorRunTime
          j.gcMs += m.jvmGCTime
          j.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          j.spillBytes += m.diskBytesSpilled
          j.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
        }
      }
    }
  }
  private def rec(stage: Int): Option[JobRec] =
    Option(stageJob.get(stage)).flatMap(j => Option(jobs.get(j)))

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = plan(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = plan(qe)
    private def plan(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      val used = Seq("analysis", "optimization", "planning").flatMap(ph.get)
      if (used.nonEmpty)
        plans.add(Plan(used.map(_.endTimeMs).max, used.map(p => p.endTimeMs - p.startTimeMs).sum))
    }
  }

  /** Register the listeners. Calls get spans and job groups only while
    * [[active]] is set, so traced and untraced steps can alternate. */
  def enable(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }
  def active(b: Boolean): Unit = on = b

  /** Open closed-loop step `k`: the parent of the calls that follow. */
  def beginStep(k: Int): Unit = {
    step = k
    if (on) {
      stepSpan = nextId; nextId += 1
      spans += Span(stepSpan, -1, "step", "", k, System.nanoTime(), System.currentTimeMillis())
    }
  }
  def endStep(): Unit = if (on) spans.find(_.id == stepSpan).foreach(_.close())

  /** Run one call into a layer, as span `name`. The wall time is returned
    * with the result whether tracing is on or not. */
  def call[T](name: String)(body: => T): (T, Long) = {
    val t0 = System.nanoTime()
    if (!on) { val r = body; (r, System.nanoTime() - t0) }
    else {
      val id = nextId; nextId += 1
      val group = s"pb-$id"
      val s = Span(id, stepSpan, name, group, step, t0, System.currentTimeMillis())
      spans += s
      val sc = spark.sparkContext
      sc.setJobGroup(group, name, interruptOnCancel = false)
      try { val r = body; s.close(); (r, s.t1Ns - s.t0Ns) }
      finally { if (s.t1Ns == 0L) s.close(); sc.clearJobGroup() }
    }
  }

  /** Untimed work between calls (checks, staging): its jobs stay outside
    * every span and every per-layer metric. */
  def aside[T](body: => T): T =
    if (!on) body
    else {
      val sc = spark.sparkContext
      sc.setJobGroup("pb-aside", "aside", interruptOnCancel = false)
      try body finally sc.clearJobGroup()
    }

  // ---- attribution (after the session stopped: every event delivered) --

  def jobsOf(s: Span): Seq[JobRec] = jobs.values.asScala.filter(_.group == s.group).toSeq

  /** Planning ms of the queries whose planning ended inside span `s`. */
  def planMs(s: Span): Double =
    plans.asScala.filter(p => p.endMs >= s.t0Ms && p.endMs <= s.t1Ms).map(_.ms.toDouble).sum

  /** Wall time minus the part of it the span's own jobs cover. */
  def selfS(s: Span): Double = {
    val iv = jobsOf(s).filter(_.endMs > 0)
      .map(j => (math.max(j.startMs, s.t0Ms), math.min(j.endMs, s.t1Ms)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var curA = -1L; var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    math.max(0.0, (s.t1Ns - s.t0Ns) / 1e9 - covered / 1e3)
  }

  /** The whole trace as one JSON document: spans with their parent links,
    * Spark jobs as child spans of the call whose job group launched them. */
  def dump(path: String, header: String): Unit = {
    val sb = new StringBuilder
    sb ++= s"""{"run": $header,\n "spans": [\n"""
    val calls = spans.filter(_.group.nonEmpty)
    val lines = spans.map { s =>
      s"""  {"id": ${s.id}, "parent": ${s.parent}, "name": "${s.name}", "step": ${s.step}, """ +
        s""""start_ms": ${s.t0Ms}, "end_ms": ${s.t1Ms}, "wall_s": ${(s.t1Ns - s.t0Ns) / 1e9}, """ +
        s""""job_group": "${s.group}"}"""
    } ++ calls.flatMap(s => jobsOf(s).map { j =>
      s"""  {"id": "job-${j.id}", "parent": ${s.id}, "name": "spark.job", "job_group": "${j.group}", """ +
        s""""start_ms": ${j.startMs}, "end_ms": ${j.endMs}, "stages": ${j.stages}, "tasks": ${j.tasks}, """ +
        s""""task_cpu_s": ${j.cpuNs / 1e9}, "shuffle_mb": ${j.shuffleBytes / 1e6}}"""
    })
    sb ++= lines.mkString(",\n")
    sb ++= "\n ],\n \"job_groups\": {"
    sb ++= calls.map(s => s""""${s.group}": [${jobsOf(s).map(_.id).sorted.mkString(", ")}]""").mkString(", ")
    sb ++= "}}\n"
    StoreIO.writeFile(path, sb.toString.getBytes("UTF-8"))
  }
}

object Tracer {
  final case class Span(id: Int, parent: Int, name: String, group: String, step: Int,
                        t0Ns: Long, t0Ms: Long) {
    var t1Ns = 0L
    var t1Ms = 0L
    def close(): Unit = { t1Ns = System.nanoTime(); t1Ms = System.currentTimeMillis() }
  }
  final class JobRec(val id: Int, val group: String, val startMs: Long) {
    @volatile var endMs = 0L
    var stages = 0
    var tasks = 0
    var cpuNs, runMs, gcMs, fetchWaitMs, shuffleBytes, spillBytes, schedDelayMs = 0L
  }
  final case class Plan(endMs: Long, ms: Long)
}
