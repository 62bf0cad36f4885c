package perfbench

import java.util.SplittableRandom

import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.array.ZMatrix
import graft.zarr.Zarr

/** zarr_store: one store cycle per step over a dense f8 matrix — a v2/blosc
  * write, a rechunk to v3/zstd on another grid, a full read, and DSv2
  * pushdown band reads. */
final class ZarrStore(ctx: Ctx) extends Workload {
  import ZarrStore._
  import ctx.spark
  import spark.implicits._

  val name = "zarr_store"
  def inputSize: String =
    f"$Rows x $Cols f8 (${Rows * Cols * 8 / 1e6}%.1f MB logical); write v2/blosc $WRows x $WCols chunks, " +
      s"rechunk v3/zstd $RRows x $RCols chunks, $Bands band reads of $BandRows rows"
  val warmupSteps = 2
  override val bandChunks: Int = 2 * (Cols / RCols)

  private var input: DataFrame = _
  /** per-row checksum (Σ over the row's cells), computed on the driver */
  private var rowSums: Array[Long] = _

  def stage(): Unit = {
    val seed = ctx.seed
    val cols = Cols
    input = spark.sparkContext.parallelize(0 until Rows, ctx.cpus * 2).flatMap { i =>
      val row = Gen.denseRow(seed, i, cols)
      row.indices.map(j => (i.toLong, j.toLong, row(j)))
    }.toDF("i", "j", "v").persist(StorageLevel.MEMORY_ONLY)
    input.count()
    rowSums = Array.tabulate(Rows) { i =>
      val row = Gen.denseRow(seed, i, cols)
      row.indices.map(j => StoreIO.cellHash(i, j, row(j))).sum
    }
  }

  def codecBuffers: Seq[Array[Double]] = (0 until Rows / WRows).map { ci =>
    // the write grid's first chunk column, chunk by chunk
    val rows = (ci * WRows until (ci + 1) * WRows).map(i => Gen.denseRow(ctx.seed, i, Cols))
    Array.tabulate(WRows * WCols)(e => rows(e / WCols)(e % WCols))
  }

  /** (cells, Σ pmod(xxhash64(i, j, v), 2^40)) in one single-stage job:
    * one task per partition the scan produced. */
  private def checksum(df: DataFrame): (Long, Long) =
    df.select(pmod(xxhash64(col("i"), col("j"), col("v")), lit(1L << 40)))
      .as[Long].mapPartitions { it =>
        var n = 0L; var s = 0L
        it.foreach { h => n += 1; s += h }
        Iterator((n, s))
      }.collect().foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }

  private def refBand(a: Int, b: Int): (Long, Long) =
    ((b - a).toLong * Cols, (a until b).map(rowSums(_)).sum)

  def step(k: Int, tr: Tracer): Step = {
    val w = ctx.scratch(s"zs-$k-v2.zarr")
    val r = ctx.scratch(s"zs-$k-v3.zarr")
    val rng = new SplittableRandom(Gen.mix(ctx.seed, 5000L + k))
    // band b starts 150 rows into a read chunk, so it always spans two
    // chunk rows: every band intersects the same number of chunks
    val bands = Seq.fill(Bands) {
      val a = rng.nextInt(Rows / RRows - 1) * RRows + 150
      (a, a + BandRows)
    }
    tr.beginStep(k)
    var calls = 0
    val t = scala.collection.mutable.LinkedHashMap("write" -> 0L, "read" -> 0L)
    def call[T](span: String, phase: String)(body: => T): T = {
      calls += 1
      val (res, ns) = tr.call(span)(body)
      t(phase) += ns
      res
    }
    val result = try {
      call("zarr.write", "write") {
        Zarr.write(ZMatrix(input), w, Rows, Cols, WRows, WCols, comp = "blosc")
      }
      call("zarr.rechunk", "write") {
        Zarr.rechunkStore(spark, w, r, RRows, RCols, format = 3, comp = "zstd")
      }
      val full = call("zarr.read", "read") { checksum(Zarr.read(spark, r).cells) }
      val got = bands.map { case (a, b) =>
        call("zarr.band_read", "read") {
          checksum(spark.read.format("zarr").load(r).filter(col("i") >= a.toLong && col("i") < b.toLong))
        }
      }
      Right((full, got))
    } catch { case NonFatal(e) => Left(e) }
    tr.endStep()
    ctx.heapAfterCalls()
    val whole = refBand(0, Rows)
    val failed = result match {
      case Left(e) => System.err.println(s"zarr_store step $k failed: $e"); 1
      case Right((full, got)) =>
        val errs = Seq(
          "write" -> (StoreIO.storeChecksum(w) == whole),
          "rechunk" -> (StoreIO.storeChecksum(r) == whole),
          "read" -> (full == whole)) ++
          bands.zip(got).map { case ((a, b), g) => s"band $a-$b" -> (g == refBand(a, b)) }
        errs.filterNot(_._2).foreach(e => System.err.println(s"zarr_store step $k: ${e._1} checksum mismatch"))
        errs.count(!_._2)
    }
    val files = StoreIO.chunkFiles(w) + StoreIO.chunkFiles(r)
    val bytes = StoreIO.du(w) + StoreIO.du(r)
    StoreIO.rmrf(w); StoreIO.rmrf(r)
    Step(t.values.sum, calls, failed, t.toMap,
      Map("zarr.disk_mb" -> bytes / 1e6, "zarr.chunk_files" -> files.toDouble))
  }

  def report(steps: Seq[Step]): Seq[String] = {
    val logical = Rows.toDouble * Cols * 8 / 1e6
    val wMB = 2 * logical
    val rMB = logical + Bands * BandRows.toDouble * Cols * 8 / 1e6
    def line(metric: String, phase: String, mb: Double): String = {
      val ts = steps.map(_.phases(phase) / 1e9)
      f"$metric = ${mb / Stats.median(ts)}%.2f MB/s (n=${ts.size} cycles, phase min ${ts.min}%.3f s, " +
        f"max ${ts.max}%.3f s, $mb%.1f MB logical per cycle)"
    }
    Seq(line("write_mb_s", "write", wMB), line("read_mb_s", "read", rMB))
  }
}

object ZarrStore {
  val Rows = 4096
  val Cols = 128
  val WRows = 256
  val WCols = 64
  val RRows = 512
  val RCols = 32
  val Bands = 4
  val BandRows = 500
}
