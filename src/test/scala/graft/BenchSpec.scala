package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.GraftSparkBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd}
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {
  test("floors re-run only at the scale factor they were measured at") {
    assert(Bench.rerunPast(s"/data/${Bench.FloorsSf}", 2.0).contains(6.0))
    assert(Bench.rerunPast(s"/data/${Bench.FloorsSf}/", 0.5).contains(3.0))
    assert(Bench.rerunPast(Bench.FloorsSf, 0.0).contains(3.0))
    for (sf <- Seq("/data/sf1", "/data/sf0.01", "/data/sf0.1x", "/data/sf0.1/sub", "/"))
      assert(Bench.rerunPast(sf, 2.0).isEmpty, sf)
  }

  test("runner: each query's counters are its own, streaming jobs included") {
    val spark = TestSpark.spark
    val sc = spark.sparkContext
    val names = Seq("q1_pricing_summary", "stream_window_agg")
    val sessionJobs = new AtomicLong
    val all = new SparkListener {
      override def onJobEnd(e: SparkListenerJobEnd): Unit = sessionJobs.incrementAndGet()
    }
    GraftSparkBridge.drainListenerBus(sc)
    sc.addSparkListener(all)
    val results =
      try Bench.run(spark, TestSpark.sf, names.map(n => n -> SparkEntry.queries(n)), 1, Map.empty)
      finally { GraftSparkBridge.drainListenerBus(sc); sc.removeSparkListener(all) }
    assert(results.map(_.name) == names)
    results.foreach { r =>
      assert(r.ok, r.name)
      assert(r.reruns == 0, r.name)
      assert(r.counters.jobs >= 1 && r.counters.stages >= 1 && r.counters.tasks >= 1, r)
    }
    assert(results(0).counters.streamBatches == 0)
    assert(results(1).counters.streamBatches >= 1)
    // attribution by job group would lose the stream's jobs: it runs its
    // batches under its own run id's group
    assert(results.map(_.counters.jobs).sum == sessionJobs.get)
  }
}
