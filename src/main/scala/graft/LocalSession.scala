package graft

import org.apache.spark.sql.SparkSession

/** The local session the command-line entry points run on: `slots` task
  * slots and as many shuffle partitions, AQE on, UTC, no UI, and
  * nanosecond parquet timestamps read as longs (`Tables.events`
  * normalizes them). `conf` adds entries on top. */
object LocalSession {
  def apply(slots: Int, logLevel: String = "ERROR",
            conf: Map[String, String] = Map.empty): SparkSession = {
    val spark = conf.foldLeft(SparkSession.builder()
        .master(s"local[$slots]")
        .config("spark.sql.shuffle.partitions", slots.toString)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
