package perfbench

import org.apache.spark.sql.SparkSession

/** A fixed plain-Spark job, with no graft code in it, timed beside every
  * pass of an untraced run. On a shared host the machine's speed drifts by
  * 20-50% over minutes, and every layer of a pass slows together; the ref
  * job (planning, a codegen'd aggregate, a shuffle join and the scheduling
  * of their stages) slows with them. A pass expressed in ref-job units,
  * `pass_per_ref`, cancels much of that drift, and a change to graft moves
  * the pass but not the ref job. */
object RefJob {
  /** Wall nanoseconds of two rounds of: 2M rows aggregated into 50k keys,
    * joined to a 50k-row table, summed and collected. */
  def run(spark: SparkSession, cpus: Int): Long = {
    val t0 = System.nanoTime()
    var i = 0
    while (i < 2) {
      val agg = spark.range(0, 2000000, 1, cpus)
        .selectExpr("id % 50000 as k", "cast(id * 7 % 1000 as double) as v")
        .groupBy("k").sum("v")
      val dim = spark.range(0, 50000, 1, cpus).selectExpr("id as k", "id * 3 as w")
      val r = agg.join(dim, "k").selectExpr("sum(w)", "count(*)").head()
      require(r.getLong(0) == 3L * 49999 * 50000 / 2 && r.getLong(1) == 50000, s"ref job result $r")
      i += 1
    }
    System.nanoTime() - t0
  }
}
