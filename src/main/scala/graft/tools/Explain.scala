package graft.tools

/** Plan audit tool: `runMain graft.tools.Explain <sfDir> [query...]`
  * prints the formatted physical plan for each named query (all if none
  * given) — used to audit pushdown / broadcast / codegen spans. Per-query
  * wall time and Spark counters come from `graft.Bench`. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq else graft.SparkEntry.queries.keys.toSeq.sorted
    val spark = graft.LocalSession(32)
    names.foreach { n =>
      println(s"\n========== $n ==========")
      println(graft.SparkEntry.queries(n)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
