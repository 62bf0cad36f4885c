package graft.tools

/** Plan/audit tool: `runMain graft.tools.Explain <sfDir> [query...]`
  * prints the formatted physical plan for each named query (all if none
  * given) — used to audit pushdown / broadcast / codegen spans.
  * `runMain graft.tools.Explain <sfDir> --time q1 q2` times each query
  * twice (cold + warm); add `--jobs` to also print every Spark job's
  * duration + callsite (where a multi-job query's wall-clock goes). */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val rest = args.drop(1)
    val (modes, names0) = rest.partition(a => a == "--time" || a == "--jobs")
    val timeMode = modes.contains("--time") || modes.contains("--jobs")
    val jobsMode = modes.contains("--jobs")
    val names = if (names0.isEmpty) graft.SparkEntry.queries.keys.toSeq.sorted else names0.toSeq

    val spark = graft.LocalSession(32)

    if (jobsMode) {
      import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
      spark.sparkContext.addSparkListener(new SparkListener {
        private val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
        override def onJobStart(js: SparkListenerJobStart): Unit = {
          val site = Option(js.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("?")
          starts.put(js.jobId, (System.nanoTime(), site))
        }
        override def onJobEnd(je: SparkListenerJobEnd): Unit = {
          Option(starts.remove(je.jobId)).foreach { case (t0, site) =>
            println(f"  JOB ${je.jobId}%3d ${(System.nanoTime() - t0) / 1e9}%6.2f s  $site")
          }
        }
      })
    }

    names.foreach { n =>
      val fn = graft.SparkEntry.queries(n)
      if (timeMode) {
        (1 to 2).foreach { i =>
          val t0 = System.nanoTime()
          fn(spark, sfDir).count()
          println(f"TIME $n run$i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
        }
      } else {
        println(s"\n========== $n ==========")
        println(fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      }
    }
    spark.stop()
  }
}
