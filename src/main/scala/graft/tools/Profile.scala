package graft.tools

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Optimization-round measurement harness (guide §1): for every bench query
  * it separates *where the wall-clock goes* —
  *
  *   - `plan`  : analysis + optimization + physical planning (Catalyst,
  *               from `queryExecution.tracker.phases`, driver-side)
  *   - `exec`  : the bench-methodology action (`toRdd.foreach`), which
  *               includes codegen compilation, scheduling and task time
  *   - `jobs` / `stages` / `tasks`: scheduler footprint of the action
  *   - `taskTime`: summed executor task time (compute parallelism ⇒
  *               taskTime may exceed exec)
  *
  * Output: one TSV line per query to stdout AND target/profile.tsv, sorted
  * by total descending, plus a footer with column sums. Same session config
  * as Bench so numbers are comparable.
  *
  *   sbt "runMain graft.tools.Profile [sfDir] [substring,substring,...]"
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val only = args.drop(1).headOption.toSeq.flatMap(_.split(',')).filter(_.nonEmpty)
    val spark = graft.LocalSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.range(1000000).selectExpr("sum(id)", "count(distinct id % 7)").collect()

    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val taskTimeMs = new AtomicLong(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        Option(te.taskMetrics).foreach(m => taskTimeMs.addAndGet(m.executorRunTime))
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
      }
      override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        jobs.incrementAndGet()
      }
    })

    case class Rec(name: String, total: Double, plan: Double, exec: Double,
                   jobs: Int, stages: Int, tasks: Int, taskSec: Double)
    val recs = scala.collection.mutable.ArrayBuffer.empty[Rec]

    val names = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only.exists(n.contains) }
    names.foreach { case (name, fn) =>
      jobs.set(0); stages.set(0); tasks.set(0); taskTimeMs.set(0)
      val t0 = System.nanoTime()
      try {
        val df = fn(spark, sfDir)
        val qe = df.queryExecution
        qe.executedPlan // force analysis→planning so tracker phases populate
        val tPlanned = System.nanoTime()
        qe.toRdd.foreach(_ => ())
        val tDone = System.nanoTime()
        // tracker covers THIS query's catalyst phases; building the df
        // (fn itself, incl. any session-cache work) is total-plan-exec
        val phases = qe.tracker.phases.map { case (k, v) =>
          k -> (v.endTimeMs - v.startTimeMs) / 1e3 }
        val plan = (System.nanoTime(), phases.values.sum) match { case (_, p) => p }
        val build = (tPlanned - t0) / 1e9 // fn() + catalyst, driver-side
        val exec = (tDone - tPlanned) / 1e9
        val total = (tDone - t0) / 1e9
        // small settle so straggler listener events land
        Thread.sleep(20)
        recs += Rec(name, total, math.max(plan, build), exec,
          jobs.get(), stages.get(), tasks.get(), taskTimeMs.get() / 1e3)
      } catch {
        case e: Throwable =>
          System.err.println(s"[profile] $name FAILED: ${e.getMessage}")
          recs += Rec(name, (System.nanoTime() - t0) / 1e9, -1, -1, 0, 0, 0, 0)
      }
    }

    val sb = new StringBuilder
    sb.append("query\ttotal_s\tplan_s\texec_s\tjobs\tstages\ttasks\ttask_s\n")
    recs.sortBy(-_.total).foreach { r =>
      sb.append(f"${r.name}\t${r.total}%.3f\t${r.plan}%.3f\t${r.exec}%.3f\t${r.jobs}\t${r.stages}\t${r.tasks}\t${r.taskSec}%.2f\n")
    }
    sb.append(f"TOTAL\t${recs.map(_.total).sum}%.3f\t${recs.map(_.plan).filter(_ > 0).sum}%.3f\t${recs.map(_.exec).filter(_ > 0).sum}%.3f\t${recs.map(_.jobs).sum}\t${recs.map(_.stages).sum}\t${recs.map(_.tasks).sum}\t${recs.map(_.taskSec).sum}%.2f\n")
    print(sb.result())
    val p = java.nio.file.Paths.get("target", "profile.tsv")
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p, sb.result().getBytes("UTF-8"))
    spark.stop()
  }
}
