package graft

import org.apache.spark.sql.SparkSession

/** Sizing of the explicit-count shuffles graft plans itself. */
object Shuffle {
  /** Partition count for a `repartition(n, key)` that must keep its width:
    * every core of the session, and never fewer than its shuffle setting.
    * Spark marks such a shuffle `REPARTITION_BY_NUM`, which AQE does not
    * coalesce — an `ENSURE_REQUIREMENTS` shuffle of a few MB would be
    * coalesced into one task and run its CPU-bound consumer on one core. */
  private[graft] def width(spark: SparkSession): Int =
    math.max(spark.sparkContext.defaultParallelism,
      spark.conf.get("spark.sql.shuffle.partitions").toInt)
}
