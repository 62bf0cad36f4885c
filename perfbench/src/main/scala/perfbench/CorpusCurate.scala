package perfbench

import java.io.File

import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Sampling, TextOps}

/** corpus_curate: one newly generated document shard per step, so every
  * step pays its own shingle-index fit — quality/repetition/language
  * signals + the source-mix filter, exact dedup, the durable shingle index,
  * Jaccard near-dup components, and a parquet write of the keepers. */
final class CorpusCurate(ctx: Ctx) extends Workload {
  import CorpusCurate._
  import ctx.spark

  val name = "corpus_curate"
  private val lay = Gen.layout(Docs)
  def inputSize: String =
    s"$Docs docs per shard (80-129 words), ${lay.exact.length} exact-duplicate and " +
      s"${lay.near.length} near-duplicate planted clusters, a new shard per pass"
  val warmupSteps = 1

  // ---- the reference, from the layout alone -----------------------------
  private val passes: Array[Boolean] =
    Array.tabulate(Docs)(id => lay.bad(id) == 0 && Gen.mixKeep(id.toLong, lay.group(id.toLong)))
  private def survivors(c: Array[Long]): Array[Long] = c.filter(id => passes(id.toInt))
  /** planted exact groups that still have a duplicate after the filter:
    * keeper (min id) -> size */
  private val refExact: Map[Long, Long] =
    lay.exact.map(survivors).filter(_.length > 1).map(s => s.min -> s.length.toLong).toMap
  private val refNear: Seq[Array[Long]] = lay.near.map(survivors).filter(_.length > 1).toSeq
  private val refKeepers: Set[Long] = {
    val dropped = (lay.exact.map(survivors) ++ lay.near.map(survivors)).flatMap(_.sorted.drop(1)).toSet
    (0 until Docs).filter(passes).map(_.toLong).filterNot(dropped).toSet
  }

  private var nextShard = 0
  private var shardDir: String = _

  /** Write shard `n` as `documents.parquet` in its own directory. */
  private def writeShard(n: Int): String = {
    val dir = ctx.scratch(s"shard-$n")
    val docs = Gen.shard(ctx.seed, n, lay)
    spark.createDataFrame(docs.toSeq.map(d => (d.id, d.group, d.text))).toDF("doc_id", "group", "text")
      .repartition(ctx.cpus).write.parquet(s"$dir/documents.parquet")
    dir
  }

  /** Stages the shard the warm-up pass curates. */
  def stage(): Unit = {
    nextShard += 1
    shardDir = writeShard(nextShard)
  }

  def codecBuffers: Seq[Array[Double]] =
    // no chunk buffers of its own: the shard's word counts, as f8 chunks
    Gen.shard(ctx.seed, 0, lay).map(_.text.count(_ == ' ') + 1.0).grouped(4096).toSeq

  private def artifacts(): Map[String, Long] = {
    val root = new File(s"${ctx.runDir}/models")
    Option(root.listFiles()).toSeq.flatten.filterNot(_.getName.startsWith("."))
      .map(f => f.getName -> StoreIO.du(f.getPath)).toMap
  }

  def step(k: Int, tr: Tracer): Step = {
    val dir =
      if (k == -1 && shardDir != null) { val d = shardDir; shardDir = null; d } // the staged shard
      else { nextShard += 1; tr.aside(writeShard(nextShard)) }
    val before = artifacts()
    tr.beginStep(k)
    var ns = 0L
    var calls = 0
    def call[T](span: String)(body: => T): T = {
      calls += 1
      val (r, t) = tr.call(span)(body)
      ns += t
      r
    }
    val result = try {
      val kept = call("ops.filter") {
        val t = col("text")
        spark.read.parquet(s"$dir/documents.parquet")
          .filter(TextOps.qualityCol(t) >= MinQuality && TextOps.repetitionKeepCol(t) &&
            TextOps.langIdCol(t) === "en" && Sampling.mixPredicate(col("doc_id"), col("group"), Gen.MixRates))
          .select("doc_id", "text").localCheckpoint()
      }
      val (groups, uniq) = call("ops.exact_dedup") {
        val g = Dedup.exact(kept, "doc_id", "text").localCheckpoint()
        (g, kept.join(g.select(col("keep_id").as("doc_id")), Seq("doc_id"), "left_semi").localCheckpoint())
      }
      val shingles = call("cache.shingle_index") { Dedup.corpusShingles(spark, dir) }
      val (comps, keepers) = call("ops.near_dedup") {
        val toks = shingles.join(uniq.select("doc_id"), Seq("doc_id"), "left_semi")
        val comps = Dedup.jaccardDedup(toks, MinJaccardPct).collect()
          .map(r => r.getLong(0) -> r.getLong(1))
        val dropped = comps.collect { case (id, c) if id != c => id }.toSeq
        (comps, uniq.filter(!col("doc_id").isin(dropped: _*)))
      }
      call("ops.write") { keepers.write.parquet(s"$dir/keepers.parquet") }
      Right((groups, comps))
    } catch { case NonFatal(e) => Left(e) }
    tr.endStep()
    ctx.heapAfterCalls()
    val (failed, counts) = result match {
      case Left(e) => System.err.println(s"corpus_curate step $k failed: $e"); (1, Map.empty[String, Double])
      case Right((groups, comps)) =>
        try tr.aside(check(k, groups, comps, dir))
        catch { case NonFatal(e) => System.err.println(s"corpus_curate step $k check failed: $e"); (1, Map.empty[String, Double]) }
    }
    val added = artifacts() -- before.keys
    StoreIO.rmrf(dir)
    Step(ns, calls, failed, Map.empty, counts ++ Map(
      "cache.artifacts" -> added.size.toDouble, "cache.mb" -> added.values.sum / 1e6))
  }

  private def check(k: Int, groups: DataFrame, comps: Array[(Long, Long)], dir: String): (Int, Map[String, Double]) = {
    val errs = scala.collection.mutable.ArrayBuffer.empty[String]
    // exact groups equal the planted ones (keeper and size)
    val exact = groups.filter(col("n") > 1).select("keep_id", "n").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    if (exact != refExact) errs += s"exact groups: ${exact.size} found, ${refExact.size} planted, equal=false"
    // each planted near-dup cluster is one component labelled by its min id;
    // no component holds anything else, so no two clusters merged
    val comp = comps.toMap
    refNear.foreach { c =>
      if (!c.forall(id => comp.get(id).contains(c.min)))
        errs += s"near-dup cluster ${c.mkString(",")} split or mislabelled"
    }
    if (comp.size != refNear.map(_.length).sum) errs += s"${comp.size} docs in components, planted ${refNear.map(_.length).sum}"
    // the written keepers, read back
    val written = spark.read.parquet(s"$dir/keepers.parquet").select("doc_id").collect().map(_.getLong(0))
    if (written.length != refKeepers.size || written.toSet != refKeepers)
      errs += s"${written.length} keepers written, reference ${refKeepers.size}"
    errs.take(3).foreach(e => System.err.println(s"corpus_curate step $k: $e"))
    (if (errs.isEmpty) 0 else 1, Map(
      "ops.docs_kept" -> written.length.toDouble,
      "ops.near_dup_docs" -> comps.count { case (id, c) => id != c }.toDouble))
  }

  def report(steps: Seq[Step]): Seq[String] = {
    val t = steps.map(_.ns / 1e9)
    Seq(f"docs_per_s = ${Docs / Stats.median(t)}%.1f docs/s (n=${t.size} passes, " +
      f"pass min ${t.min}%.3f s, max ${t.max}%.3f s, input $Docs docs per shard)")
  }
}

object CorpusCurate {
  val Docs = 2000
  val MinQuality = 0.3
  val MinJaccardPct = 50
}
