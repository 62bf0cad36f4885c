package graft.zarr

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Rank-N (N ≥ 1, aimed at N ≥ 3) dense Zarr arrays, v2 and v3 — the
  * tensor face zappy/zarr-python expose for image stacks, (time, lat, lon)
  * cubes and other ndarray-shaped stores. Rank-1/2 keep their specialized
  * engines in [[Zarr]] (pushdown DSv2, sharding, F-order, append/resize,
  * sparse groups); this module supplies READ/WRITE at any rank in the same
  * coordinate form, so `from_zarr` on a foreign rank-3 store works and a
  * rank-3 store written here opens in stock zarr-python. Metadata is the
  * shared [[ZarrMeta]] model — the same parser and emitter as the 2-D
  * engines, every write committing through [[Zarr.writeMetaFile]].
  *
  * Data model: a coordinate DataFrame (i0 … i{N−1}, v) — the N-D
  * generalization of ZMatrix's (i, j, v). Chunks are the unit of work
  * both ways, through the same chunk writer and per-chunk read as the
  * rank-1 arrays ([[Zarr.writeChunks]], [[Zarr.readValueChunk]]), so
  * nothing ever materializes more than one chunk at a time per task.
  *
  * Spec notes (zarr.dev/zarr-specs — the contract the 2-D engine pins by
  * interop test): every stored chunk is the FULL chunk shape — edge chunks
  * are fill-padded, so all chunk objects have identical decoded length;
  * C-order within the chunk; missing chunk reads as fill; keys follow the
  * store's key encoding (v2 "2.0.1" / "2/0/1", v3 "c/2/0/1" / "c.2.0.1").
  * Compressors: the shared chunk frame (none/zlib/gzip/blosc-lz4/zstd),
  * chosen only in [[Zarr.frame]]/[[Zarr.unframe]]; numeric dtypes only.
  */
object ZarrNd {

  /** Parse rank-N metadata (v2 `.zarray` or v3 `zarr.json`, consolidated
    * fallback included) through the shared [[ZarrMeta]] parser, and check
    * it fits this engine: numeric elements, C-order, unsharded, and a
    * chunk small enough for one JVM buffer. */
  def readMetaN(path: String): Zarr.Meta = {
    val m = Zarr.readArrayMeta(path)
    Zarr.requireNumeric(m, path)
    require(!m.fOrder && !m.sharded, s"$path: F-order and sharded N-D stores are not supported")
    // a FOREIGN store's chunk-element product must fit one JVM buffer —
    // a silent Int overflow would decode garbage, not error
    require(m.chunkElems.toLong == m.chunks.map(_.toLong).product,
      s"$path: chunk of ${m.chunks.mkString("x")} elements exceeds one " +
        "Int-addressable buffer")
    m
  }

  /** Write (i0 … i{N−1}, v) as a fresh rank-N store (v2 default; `format
    * = 3` emits the stock zarr-python v3 layout) through the one chunk
    * writer, [[Zarr.writeChunks]]: one shuffle keyed by chunk id, each task
    * assembling and encoding only its own chunks (one fill-initialized
    * buffer at a time), so executor memory is bounded by ONE chunk
    * regardless of array or task size. Cells the frame omits inside the
    * shape stay fill; out-of-shape coordinates error (fail-fast — a
    * silently dropped cell is data loss). DUPLICATE coordinates are the
    * caller's contract to prevent (aggregate first, as every gate query
    * does): with duplicates present, which value lands is partition-order
    * dependent — the same rule the 2-D writer and numpy fancy-assignment
    * share. */
  def write(df: DataFrame, path: String, shape: Seq[Long], chunks: Seq[Int],
            dtype: String = "<f8", zlib: Boolean = true, comp: String = "",
            fill: Double = 0.0, nested: Boolean = false,
            format: Int = 2): Unit = {
    require(shape.nonEmpty && chunks.length == shape.length, "shape/chunks rank mismatch")
    require(format == 2 || format == 3, s"zarr format $format")
    // `nested` picks the key separator in both formats (true = "/");
    // zarr-python's v3 default is "/" — pass nested = true for v3 stores
    // meant to open there with zero configuration
    writeCells(df, path, metaOf(shape, chunks, dtype, zlib, comp, fill, nested, format), None)
  }

  private def metaOf(shape: Seq[Long], chunks: Seq[Int], dtype: String,
                     zlib: Boolean, comp: String, fill: Double, nested: Boolean,
                     format: Int): Zarr.Meta =
    Zarr.Meta(shape.toList, chunks.toList, dtype, zlib, comp, fill, 0L, format,
      fOrder = false, inner = Nil,
      keyEnc = if (format == 3) { if (nested) "c/" else "c." }
               else if (nested) "nested" else "flat")

  /** (i0 … i{N−1}, v) into the store at `path` under metadata `m`: a fresh
    * store, or with `band` the axis-0 band [lo, hi) of an existing one. */
  private def writeCells(df: DataFrame, path: String, m: Zarr.Meta,
                         band: Option[(Long, Long)]): Unit = {
    import df.sparkSession.implicits._
    Zarr.writeChunks(df, (0 until m.rank).map(d => col(s"i$d")), col("v").cast("double"),
      Seq(path -> m),
      m.fill, "tensor", band) { buf =>
      Seq(Zarr.encodeChunk(buf, m.dtype, m.zlib, m.format, m.comp))
    }
  }

  /** Publish an axis-0 BAND into an existing (or fresh) rank-N store —
    * the streaming/incremental ingest face (the S7 pattern at tensor
    * rank): the band's rows [bandStart, bandEnd) must start on an axis-0
    * chunk boundary, so the band writes only ITS OWN chunk rows and can
    * never clobber another band's chunks; every stored chunk is full
    * chunk shape (v2/v3 padding rule), so even a ragged band needs no
    * read-modify-write if a later band extends the array. Shape grows to
    * max(existing, bandEnd) and the metadata document commits LAST, so a
    * concurrent reader never addresses chunks that aren't fully
    * published. Bands may arrive in ANY order (disjointness at chunk
    * granularity is the invariant, not monotonicity). Geometry/codec of
    * an existing store are validated, not trusted. */
  def appendBand(df: DataFrame, path: String, bandStart: Long, bandEnd: Long,
                 shapeTail: Seq[Long], chunks: Seq[Int],
                 dtype: String = "<f8", zlib: Boolean = true,
                 comp: String = "", fill: Double = 0.0,
                 nested: Boolean = false, format: Int = 2): Unit = {
    require(bandStart >= 0 && bandEnd > bandStart, s"band [$bandStart, $bandEnd)")
    require(chunks.nonEmpty && bandStart % chunks.head == 0,
      s"band start $bandStart must align to the axis-0 chunk ${chunks.head}")
    require(shapeTail.length + 1 == chunks.length, "shapeTail/chunks rank mismatch")
    val want = metaOf(bandEnd +: shapeTail, chunks, dtype, zlib, comp, fill,
      nested, format)
    val exists = Zarr.exists(s"$path/zarr.json") || Zarr.exists(s"$path/.zarray")
    val shape0 =
      if (!exists) bandEnd
      else {
        val m0 = readMetaN(path)
        // everything but the axis-0 extent must match. Fill is
        // load-bearing: the rewrite below re-emits metadata, so a divergent
        // fill would silently change how every MISSING chunk reads
        // (NaN-safe comparison — NaN fill is legal for floats)
        require(m0.shape.tail == want.shape.tail &&
          m0.copy(shape = want.shape, fill = 0.0) == want.copy(fill = 0.0) &&
          (m0.fill == fill || (m0.fill.isNaN && fill.isNaN)),
          s"$path: band geometry/codec/fill differs from the existing store")
        math.max(m0.shape.head, bandEnd)
      }
    // the metadata rewrite keeps a v3 store's attributes and foreign fields
    writeCells(df, path, want.copy(shape = shape0 +: want.shape.tail),
      Some((bandStart, bandEnd)))
  }

  /** Read a rank-N store back as (i0 … i{N−1}, v): each task decodes the
    * chunks it is given; a missing chunk emits fill for its in-bounds
    * cells (the spec's missing-chunk rule). Ragged edges clip to shape. */
  def read(spark: SparkSession, path: String): DataFrame =
    readRange(spark, path, Seq.empty)

  /** Range-PRUNED tensor read — numpy `X[l0:h0, l1:h1, …]` as a chunk-grid
    * intersection AT PLANNING: only chunks overlapping every per-dim
    * [lo, hi) window are read, the rest are never listed, opened, or
    * decoded — the Z4/q26 pushdown contract at tensor rank, which at
    * 100 TB is the difference between "read the probe band" and "read the
    * store". `ranges` pads with full extents past its length (empty =
    * full read); cells outside a window are dropped at the source (the
    * window is exact, not just chunk-granular). Coordinates stay GLOBAL
    * (zarr slicing re-bases; a relational engine keys joins on the global
    * coordinate — callers re-base with a select when numpy semantics are
    * wanted).
    *
    * The selection is its chunk-grid WINDOW, never a materialized chunk
    * list: a typed `spark.range` over the selection ordinals, each task
    * decoding its ordinals to chunk coordinates with mixed-radix
    * arithmetic and reading each chunk through [[Zarr.readValueChunk]] —
    * O(1) driver state at any selection size, and the range's default
    * partitioning gives each task many chunks. Tasks emit (chunk id,
    * in-chunk offset, v); the coordinates come from [[Zarr.cellCoords]]. */
  def readRange(spark: SparkSession, path: String,
                ranges: Seq[(Long, Long)]): DataFrame = {
    val m = readMetaN(path)
    val rank = m.rank
    require(ranges.length <= rank, s"$path: ${ranges.length} ranges for rank $rank")
    val win: Array[(Long, Long)] = (0 until rank).map { d =>
      val (lo, hi) = if (d < ranges.length) ranges(d) else (0L, m.shape(d))
      require(lo >= 0 && lo < hi && hi <= m.shape(d),
        s"$path: range [$lo, $hi) outside dim $d extent ${m.shape(d)}")
      (lo, hi)
    }.toArray
    // per-cell loops index arrays, not the model's Seqs
    val chunks = m.chunks.toArray
    val grid = m.grid
    val cLo = (0 until rank).map(d => win(d)._1 / chunks(d)).toArray
    val ext = (0 until rank).map(d => (win(d)._2 - 1) / chunks(d) - cLo(d) + 1).toArray
    val nSel = ext.foldLeft(1L)((a, b) => Math.multiplyExact(a, b))
    import spark.implicits._
    spark.range(nSel).as[Long].flatMap { ord =>
      val c = new Array[Long](rank)
      var rem = ord
      for (d <- rank - 1 to 0 by -1) { c(d) = cLo(d) + rem % ext(d); rem /= ext(d) }
      // the window inside this chunk, per dim (it lies inside the shape,
      // so it also clips the fill padding of edge chunks)
      val lo = Array.tabulate(rank)(d => math.max(0L, win(d)._1 - c(d) * chunks(d)))
      val hi = Array.tabulate(rank)(d => math.min(chunks(d).toLong, win(d)._2 - c(d) * chunks(d)))
      val cid = c.indices.foldLeft(0L)((a, d) => a * grid(d) + c(d))
      val buf = Zarr.readValueChunk(path, m, c)
      (0 until buf.length).iterator.filter { off =>
        var r = off
        var d = rank - 1
        var in = true
        while (in && d >= 0) {
          val l = r % chunks(d)
          in = l >= lo(d) && l < hi(d)
          r /= chunks(d)
          d -= 1
        }
        in
      }.map(off => (cid, off, buf(off)))
    }.select(Zarr.cellCoords(col("_1"), col("_2"), m) :+ col("_3").as("v"): _*)
  }
}
