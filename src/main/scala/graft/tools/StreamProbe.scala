package graft.tools

import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** r20 measurement aid: runs the named streaming bench queries with a
  * StreamingQueryListener attached and prints every micro-batch's
  * durationMs breakdown (addBatch / getBatch / walCommit / commitOffsets /
  * stateOperators), so the per-query seconds can be attributed to batch
  * count × phase instead of guessed at.
  *
  *   sbt "runMain graft.tools.StreamProbe /root/testdata/sf0.1 stream_join"
  */
object StreamProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1).toSeq
    val spark = graft.LocalSession(32)
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        println(s"STREAM START ${e.name} @${System.nanoTime() / 1000000}")
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val p = e.progress
        println(s"BATCH ${p.name} #${p.batchId} rows=${p.numInputRows} " +
          s"durations=${p.durationMs} state=${p.stateOperators.map(s =>
            s"(rows=${s.numRowsTotal},updated=${s.numRowsUpdated},mem=${s.memoryUsedBytes}," +
            s"commitMs=${s.commitTimeMs})").mkString(";")}")
      }
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        println(s"STREAM END @${System.nanoTime() / 1000000}")
    })
    names.foreach { n =>
      val fn = graft.SparkEntry.queries(n)
      (1 to 2).foreach { i =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).queryExecution.toRdd.foreach(_ => ())
        println(f"TIME $n run$i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
    }
    spark.stop()
  }
}
