package perfbench

import scala.math.BigDecimal.RoundingMode

import scala.util.control.NonFatal

import org.apache.spark.sql.functions._

import graft.array.{Pca, ZMatrix}
import graft.zarr.Zarr

/** scanpy_recipe: the full preprocessing recipe on an anndata CSR store,
  * once per step — read, both filters, normalize, log1p, highly-variable
  * genes + scale, PCA fit and transform, and a v3/zstd write of the scores. */
final class ScanpyRecipe(ctx: Ctx) extends Workload {
  import ScanpyRecipe._
  import ctx.spark

  val name = "scanpy_recipe"
  def inputSize: String =
    f"$Cells cells x $Genes genes, ${m.nnz} stored counts (${100.0 * m.nnz / Cells / Genes}%.1f%% dense), " +
      s"CSR blosc chunks of $Chunk; PCA fitted on $Hvg highly-variable genes (width $Hvg), $Pcs components"
  val warmupSteps = 3

  private var m: Gen.Csr = _
  private var store: String = _
  private var bufs: Seq[Array[Double]] = Nil
  private lazy val ref = Reference(m)

  def stage(): Unit = {
    m = Gen.counts(ctx.seed, Cells, Genes, Density)
    store = ctx.scratch("counts.zarr")
    bufs = StoreIO.writeCsr(store, m, Chunk)
  }
  def codecBuffers: Seq[Array[Double]] = bufs

  def step(k: Int, tr: Tracer): Step = {
    val out = ctx.scratch(s"scores-$k.zarr")
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
      val x = call("zarr.read_sparse") {
        ZMatrix(Zarr.readSparse(spark, store).cells.localCheckpoint())
      }
      val (prepped, nrows, hvg, lg) = call("array.prep") {
        val f = x.filterRowsBySum(_ >= MinCounts).filterColsByMean(_ > MinMean)
        val lg = ZMatrix(f.rowNormalize.mapValues(c => log1p(c * 10000)).cells.localCheckpoint())
        val nrows = lg.cells.select("i").distinct().count()
        val scaled = ZMatrix(lg.hvgScale(Hvg, nrows).cells.localCheckpoint())
        val hvg = scaled.cells.select("j").distinct().collect().map(_.getLong(0)).sorted
        // subset to the highly-variable genes: columns renumber to positions
        (ZMatrix(scaled.selectCols(hvg.toSeq).cells.localCheckpoint()), nrows, hvg, lg)
      }
      val model = call("array.pca_fit") { Pca.fit(prepped, nrows, hvg.length, Pcs) }
      val scores = call("array.pca_transform") {
        ZMatrix(Pca.transform(prepped, model).cells.localCheckpoint())
      }
      call("zarr.write") {
        Zarr.write(scores, out, Cells.toLong, Pcs.toLong, 1024, Pcs, format = 3, comp = "zstd")
      }
      Right((prepped, nrows, hvg, lg, model))
    } catch { case NonFatal(e) => Left(e) }
    tr.endStep()
    ctx.heapAfterCalls()
    val failed = result match {
      case Left(e) => System.err.println(s"scanpy_recipe step $k failed: $e"); 1
      case Right((prepped, nrows, hvg, lg, model)) =>
        try tr.aside(check(k, prepped, nrows, hvg, lg, model, out))
        catch { case NonFatal(e) => System.err.println(s"scanpy_recipe step $k check failed: $e"); 1 }
    }
    val counts = Map("zarr.disk_mb" -> StoreIO.du(out) / 1e6,
      "zarr.chunk_files" -> StoreIO.chunkFiles(out).toDouble)
    StoreIO.rmrf(out)
    Step(ns, calls, failed, counts = counts)
  }

  /** 1 when the step's outputs disagree with the plain-Scala reference. */
  private def check(k: Int, prepped: ZMatrix, nrows: Long, hvg: Array[Long], lg: ZMatrix,
                    model: Pca.Model, out: String): Int = {
    val errs = scala.collection.mutable.ArrayBuffer.empty[String]
    // post-filter shape
    val colsKept = lg.cells.select("j").distinct().count()
    if (nrows != ref.rowsKept || colsKept != ref.colsKept)
      errs += s"post-filter shape ${nrows}x$colsKept, reference ${ref.rowsKept}x${ref.colsKept}"
    // highly-variable genes: equal up to genes whose variance ties the cut
    val diff = (hvg.toSet -- ref.hvg) ++ (ref.hvg.toSet -- hvg)
    if (diff.exists(j => math.abs(ref.geneVar(j.toInt) - ref.cutVar) > 2e-6))
      errs += s"highly-variable genes differ: ${diff.toSeq.sorted.take(5).mkString(",")}"
    // scaled per-gene moments (n, sum v, sum v^2), genes mapped back to ids
    val moments = prepped.cells.groupBy("j").agg(count(lit(1)), sum("v"), sum(col("v") * col("v")))
      .collect().map(r => hvg(r.getLong(0).toInt) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    ref.moments.foreach { case (j, (n, s, ss)) =>
      moments.get(j).foreach { case (pn, ps, pss) =>
        if (pn != n || math.abs(ps - s) > 1e-4 * n + 1e-9 || math.abs(pss - ss) > 1e-4 * n + 1e-9 * ss)
          errs += s"gene $j moments ($pn, $ps, $pss), reference ($n, $s, $ss)"
      }
    }
    // written scores, read back from the store: the variance of PC c over
    // the kept cells equals eigenvalue c; filtered-out cells hold the fill
    val sc = StoreIO.readDense(out)
    (0 until Pcs).foreach { c =>
      val xs = ref.keptRows.map { i =>
        // a kept cell with no stored value in the highly-variable genes
        // projects to -offset and is absent (fill) in the store
        if (sc(i).forall(_ == 0.0)) -model.offsets(c) else sc(i)(c)
      }
      val mean = xs.sum / xs.length
      val v = xs.map(x => (x - mean) * (x - mean)).sum / xs.length
      val lam = model.eigenvalues(c)
      if (math.abs(v - lam) > 1e-3 * lam + 1e-4) errs += f"PC $c score variance $v%.6f, eigenvalue $lam%.6f"
    }
    if ((0 until Cells).exists(i => !ref.isKept(i) && sc(i).exists(_ != 0.0)))
      errs += "a filtered-out cell has stored scores"
    errs.take(3).foreach(e => System.err.println(s"scanpy_recipe step $k: $e"))
    if (errs.isEmpty) 0 else 1
  }

  def report(steps: Seq[Step]): Seq[String] = {
    val t = steps.map(_.ns / 1e9)
    Seq(f"cells_per_s = ${Cells / Stats.median(t)}%.1f cells/s (n=${t.size} passes, " +
      f"pass min ${t.min}%.3f s, max ${t.max}%.3f s, input $Cells cells)")
  }
}

object ScanpyRecipe {
  val Cells = 2000
  val Genes = 500
  val Density = 0.10
  val Chunk = 16384
  val Hvg = 100
  val Pcs = 10
  val MinCounts = 20.0
  val MinMean = 1.05

  private def r6(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else BigDecimal(x).setScale(6, RoundingMode.HALF_UP).toDouble

  /** The recipe recomputed in plain Scala from the generated counts,
    * following graft's documented semantics (stored-cell moments, dense
    * variance over the kept cells, 6-dp rounding where graft rounds). */
  final case class Reference(m: Gen.Csr) {
    private def cellsOf(i: Int) = m.indptr(i).toInt until m.indptr(i + 1).toInt
    private val rowOk = Array.tabulate(m.rows)(i => cellsOf(i).map(m.data(_)).sum >= MinCounts)
    private val colN = new Array[Long](m.cols)
    private val colS = new Array[Double](m.cols)
    (0 until m.rows).filter(rowOk).foreach { i =>
      cellsOf(i).foreach { e => colN(m.indices(e)) += 1; colS(m.indices(e)) += m.data(e) }
    }
    private val colOk = Array.tabulate(m.cols)(j => colN(j) > 0 && colS(j) / colN(j) > MinMean)
    val colsKept: Long = colOk.count(identity).toLong
    /** kept cell -> its (gene, log1p-normalized value) cells */
    private val lg: Map[Int, Array[(Int, Double)]] = (0 until m.rows).filter(rowOk).flatMap { i =>
      val cells = cellsOf(i).filter(e => colOk(m.indices(e))).map(e => (m.indices(e), m.data(e)))
      val rs = cells.map(_._2).sum
      if (cells.isEmpty) None
      else Some(i -> cells.map { case (j, v) => (j, StrictMath.log1p(r6(v / rs) * 10000)) }.toArray)
    }.toMap
    val keptRows: Array[Int] = lg.keys.toArray.sorted
    val rowsKept: Long = keptRows.length.toLong
    def isKept(i: Int): Boolean = lg.contains(i)
    private val gN = new Array[Long](m.cols)
    private val gS = new Array[Double](m.cols)
    private val gSS = new Array[Double](m.cols)
    lg.values.foreach(_.foreach { case (j, v) => gN(j) += 1; gS(j) += v; gSS(j) += v * v })
    private val n = rowsKept.toDouble
    val geneVar: Array[Double] = Array.tabulate(m.cols)(j =>
      if (gN(j) == 0) Double.NegativeInfinity else r6((gSS(j) - gS(j) * gS(j) / n) / n) + 0.0)
    val hvg: Array[Long] = (0 until m.cols).filter(gN(_) > 0)
      .sortBy(j => (-geneVar(j), j)).take(Hvg).map(_.toLong).toArray.sorted
    val cutVar: Double = hvg.map(j => geneVar(j.toInt)).min
    /** gene -> (n, sum v, sum v^2) of the scaled values */
    val moments: Map[Long, (Long, Double, Double)] = {
      val pos = hvg.zipWithIndex.map { case (j, p) => j.toInt -> p }.toMap
      val stat = hvg.map { j =>
        val jj = j.toInt
        (gS(jj) / gN(jj), math.sqrt(math.max((gSS(jj) - gS(jj) * gS(jj) / gN(jj)) / gN(jj), 0.0)))
      }
      val s1 = new Array[Double](hvg.length)
      val s2 = new Array[Double](hvg.length)
      lg.values.foreach(_.foreach { case (j, v) =>
        pos.get(j).foreach { p =>
          val (mu, sd) = stat(p)
          val x = if (sd == 0.0) 0.0 else r6((v - mu) / sd) + 0.0
          s1(p) += x; s2(p) += x * x
        }
      })
      hvg.indices.map(p => hvg(p) -> ((gN(hvg(p).toInt), s1(p), s2(p)))).toMap
    }
  }
}
