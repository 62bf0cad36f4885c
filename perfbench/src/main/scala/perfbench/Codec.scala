package perfbench

import graft.zarr.Zarr

/** The Spark-free bottom layer: single-thread encode/decode throughput of
  * graft's chunk codecs on a workload's own chunk buffers. */
object Codec {
  final case class Result(codec: String, encodeMBs: Double, decodeMBs: Double,
                          logicalMB: Double, encodedMB: Double)

  private val codecs = Seq(
    // (name, zlib flag, format, comp)
    ("blosc", false, 2, "blosc"),
    ("zstd", false, 3, "zstd"),
    ("zlib", true, 2, ""))

  /** Each codec gets about `budgetMs` per direction: whole passes over the
    * buffers, repeated until the budget is spent; MB/s is logical bytes
    * over the median pass time. */
  def measure(bufs: Seq[Array[Double]], budgetMs: Long): Seq[Result] = codecs.map {
    case (name, zlib, fmt, comp) =>
      val logical = bufs.map(_.length * 8L).sum
      def passes[T](f: => T): (Double, T) = {
        val times = scala.collection.mutable.ArrayBuffer.empty[Long]
        var last: T = f // warm the kernel once
        val end = System.nanoTime() + budgetMs * 1000000L
        while (times.size < 3 || System.nanoTime() < end) {
          val t0 = System.nanoTime()
          last = f
          times += System.nanoTime() - t0
        }
        (Stats.median(times.map(_.toDouble).toSeq), last)
      }
      val (encNs, frames) = passes(bufs.map(b => Zarr.encodeChunk(b, "<f8", zlib, fmt, comp)))
      val (decNs, decoded) = passes(frames.zip(bufs).map { case (f, b) =>
        Zarr.decodeChunk(f, b.length, zlib, "<f8", fmt, comp) })
      require(decoded.zip(bufs).forall { case (a, b) => java.util.Arrays.equals(a, b) },
        s"$name round trip changed the chunk values")
      Result(name, logical / 1e6 / (encNs / 1e9), logical / 1e6 / (decNs / 1e9),
        logical / 1e6, frames.map(_.length.toLong).sum / 1e6)
  }
}
