package graft.tools

import org.apache.spark.sql.functions._

/** Measures [[graft.ops.Sampling.stratifiedSplit]] under DELIBERATE
  * stratum skew — the shape the r15 verdict flagged: a real pretraining
  * corpus routinely has one crawl source owning ~90% of rows, which a
  * per-stratum global window would sort in ONE task. The probe remaps
  * `source` so 90% of documents land in a single stratum, runs the split
  * twice (cold/warm), and prints the timings — the r16 two-level slab
  * rank must stay in the same band as the unskewed run.
  *
  *   sbt "runMain graft.tools.SkewProbe /root/repo/target/sf10"
  */
object SkewProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.LocalSession(32)
    // 90% of docs collapse into one hot stratum; the rest keep their source
    val docs = graft.Tables.documents(spark, sfDir)
      .withColumn("source",
        when(pmod(col("doc_id"), lit(10)) =!= 0, lit("hot_crawl"))
          .otherwise(col("source")))
    for (run <- 1 to 2) {
      val t0 = System.nanoTime()
      val n = graft.ops.Sampling.stratifiedSplit(docs, "source", "doc_id")
        .groupBy(col("split")).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"SKEWPROBE run$run: $dt%.2f s  splits=$n")
    }
    spark.stop()
  }
}
