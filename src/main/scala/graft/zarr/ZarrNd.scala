package graft.zarr

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

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
  * generalization of ZMatrix's (i, j, v). Chunks are the unit of
  * parallelism both ways (partition-per-chunk read; chunk-grouped shuffle
  * write), so the layout scales exactly like the 2-D paths: nothing ever
  * materializes more than one chunk per task.
  *
  * Spec notes (zarr.dev/zarr-specs — the contract the 2-D engine pins by
  * interop test): every stored chunk is the FULL chunk shape — edge chunks
  * are fill-padded, so all chunk objects have identical decoded length;
  * C-order within the chunk; missing chunk reads as fill; keys follow the
  * store's key encoding (v2 "2.0.1" / "2/0/1", v3 "c/2/0/1" / "c.2.0.1").
  * Compressors: the shared chunk frame (none/zlib/gzip/blosc-lz4/zstd),
  * chosen only in [[Zarr.frame]]/[[Zarr.unframe]] and reached through
  * [[Zarr.encodeChunk]]/[[Zarr.decodeChunk]]; numeric dtypes only.
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

  private def coordCols(rank: Int): Seq[String] = (0 until rank).map(d => s"i$d")

  private def outSchema(rank: Int): StructType = StructType(
    coordCols(rank).map(StructField(_, LongType, nullable = false)) :+
      StructField("v", DoubleType, nullable = false))

  /** Write (i0 … i{N−1}, v) as a fresh rank-N store (v2 default; `format
    * = 3` emits the stock zarr-python v3 layout). One shuffle, keyed by
    * linearized chunk id; each task assembles and encodes only its own
    * chunks (one fill-initialized buffer at a time — the writeVector slab
    * idiom), so executor memory is bounded by ONE chunk regardless of
    * array or task size. Cells the frame omits inside the shape stay
    * fill; out-of-shape coordinates error (fail-fast — a silently
    * dropped cell is data loss). DUPLICATE coordinates are the caller's
    * contract to prevent (aggregate first, as every gate query does):
    * with duplicates present, which value lands is partition-order
    * dependent — the same rule the 2-D writer and numpy fancy-assignment
    * share. */
  def write(df: DataFrame, path: String, shape: Seq[Long], chunks: Seq[Int],
            dtype: String = "<f8", zlib: Boolean = true, comp: String = "",
            fill: Double = 0.0, nested: Boolean = false,
            format: Int = 2): Unit = {
    val rank = shape.length
    require(rank >= 1 && chunks.length == rank, "shape/chunks rank mismatch")
    require(shape.forall(_ > 0) && chunks.forall(_ > 0), "empty dimension")
    require(format == 2 || format == 3, s"zarr format $format")
    // `nested` picks the key separator in both formats (true = "/");
    // zarr-python's v3 default is "/" — pass nested = true for v3 stores
    // meant to open there with zero configuration
    val m = metaOf(shape, chunks, dtype, zlib, comp, fill, nested, format)
    require(m.chunkElems.toLong == chunks.map(_.toLong).product,
      "chunk too large: elements must fit one Int-addressable buffer")
    Zarr.delete(path, recursive = true)
    writeChunks(df, path, m, 0L, shape.head)
    Zarr.writeMetaFile(path, m)
  }

  private def metaOf(shape: Seq[Long], chunks: Seq[Int], dtype: String,
                     zlib: Boolean, comp: String, fill: Double, nested: Boolean,
                     format: Int): Zarr.Meta =
    Zarr.Meta(shape.toList, chunks.toList, dtype, zlib, comp, fill, 0L, format,
      fOrder = false, inner = Nil,
      keyEnc = if (format == 3) { if (nested) "c/" else "c." }
               else if (nested) "nested" else "flat")

  /** The shared chunk-assembly core: shuffle by linearized chunk id, one
    * fill-initialized buffer per chunk per task, encode + publish. Cells
    * must sit inside `m.shape` AND inside [axis0Lo, axis0Hi) on axis 0 —
    * the band contract appendBand enforces. */
  private def writeChunks(df: DataFrame, path: String, m: Zarr.Meta,
                          axis0Lo: Long, axis0Hi: Long): Unit = {
    val rank = m.rank
    val chunks = m.chunks
    val spark = df.sparkSession
    // grid strides for the linearized chunk id (row-major over the grid)
    val grid = m.grid
    val strides = new Array[Long](rank)
    strides(rank - 1) = 1L
    for (d <- rank - 2 to 0 by -1) strides(d) = strides(d + 1) * grid(d + 1)
    // `div` (integer division), NOT `/` + cast: double division rounds
    // past 2^53, so a high coordinate could land its row in one task while
    // the task-side exact Long arithmetic assigns it another chunk — two
    // tasks writing the same chunk object, one silently overwriting the
    // other (r18 ADVICE fix: partitioner and task must be bit-identical)
    val cid = (0 until rank)
      .map(d => expr(s"i$d div ${chunks(d)}") * strides(d))
      .reduce(_ + _)
    val shapeB = m.shape.toArray; val chunksB = m.chunks.toArray; val gridB = grid
    val dtypeB = m.dtype; val zlibB = m.zlib; val compB = m.comp
    val fillB = m.fill; val keyEncB = m.keyEnc; val elemsB = m.chunkElems
    val formatB = m.format; val loB = axis0Lo; val hiB = axis0Hi
    val parts = math.max(spark.sessionState.conf.numShufflePartitions,
      math.min((m.nChunks + 7) / 8, 65536L).toInt)
    df.select((coordCols(rank).map(col) :+ col("v").cast("double").as("v")): _*)
      .repartition(parts, cid)
      .sortWithinPartitions(cid)
      .rdd.foreachPartition { it =>
      val r = shapeB.length
      var curCid = -1L
      var buf: Array[Double] = null
      val coord = new Array[Long](r)
      def flush(): Unit = if (buf != null) {
        Zarr.writeBytes(Zarr.chunkKey(path, coord, keyEncB),
          Zarr.encodeChunk(buf, dtypeB, zlibB, formatB, compB))
        buf = null
      }
      it.foreach { row =>
        var cidHere = 0L
        var inChunkOff = 0
        var d = 0
        while (d < r) {
          val i = row.getLong(d)
          require(i >= 0 && i < shapeB(d),
            s"coordinate i$d=$i outside shape ${shapeB.mkString("x")}")
          require(d != 0 || (i >= loB && i < hiB),
            s"coordinate i0=$i outside the written band [$loB, $hiB)")
          val c = i / chunksB(d)
          var cs = c; var dd = d + 1
          while (dd < r) { cs *= gridB(dd); dd += 1 }
          cidHere += cs
          inChunkOff = inChunkOff * chunksB(d) + (i - c * chunksB(d)).toInt
          d += 1
        }
        if (cidHere != curCid) {
          flush()
          curCid = cidHere
          // decode cid -> chunk coordinates for the key
          var rem = cidHere
          var k = 0
          while (k < r) {
            val g = { var p = 1L; var dd = k + 1; while (dd < r) { p *= gridB(dd); dd += 1 }; p }
            coord(k) = rem / g; rem = rem % g
            k += 1
          }
          buf = Array.fill(elemsB)(fillB)
        }
        buf(inChunkOff) = row.getDouble(r)
      }
      flush()
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
    val m = want.copy(shape = shape0 +: want.shape.tail)
    writeChunks(df, path, m, bandStart, bandEnd)
    // writeMetaFile keeps a v3 store's attributes and foreign fields
    Zarr.writeMetaFile(path, m)
  }

  /** Read a rank-N store back as (i0 … i{N−1}, v) — partition-per-chunk
    * (the DSv2 contract rank-1/2 reads honor), each task decoding only
    * its own chunk object; a missing chunk emits fill for its in-bounds
    * cells (the spec's missing-chunk rule). Ragged edges clip to shape. */
  def read(spark: SparkSession, path: String): DataFrame =
    readRange(spark, path, Seq.empty)

  /** Range-PRUNED tensor read — numpy `X[l0:h0, l1:h1, …]` as a chunk-grid
    * intersection AT PLANNING: only chunks overlapping every per-dim
    * [lo, hi) window become tasks, the rest are never listed, opened, or
    * decoded — the Z4/q26 pushdown contract at tensor rank, which at
    * 100 TB is the difference between "read the probe band" and "read the
    * store". `ranges` pads with full extents past its length (empty =
    * full read); cells outside a window are dropped at the source (the
    * window is exact, not just chunk-granular). Coordinates stay GLOBAL
    * (zarr slicing re-bases; a relational engine keys joins on the global
    * coordinate — callers re-base with a select when numpy semantics are
    * wanted). */
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
    // The selection is described by its chunk-grid WINDOW, never by a
    // materialized coordinate list (r18 ADVICE fix: the driver used to
    // build one Seq entry and one scheduler task PER chunk — millions of
    // driver-side coord objects and tasks at large selections, and a hard
    // cap that made very large full reads fail outright). Tasks receive a
    // range of linearized selection ordinals and decode each ordinal to
    // its chunk coordinate with mixed-radix arithmetic — lazy, exact, and
    // O(1) driver memory at ANY selection size; task count is capped so a
    // million-chunk read is a few thousand tasks iterating chunks, not a
    // million tasks.
    val cLo = (0 until rank).map(d => win(d)._1 / m.chunks(d)).toArray
    val cHi = (0 until rank).map(d => (win(d)._2 - 1) / m.chunks(d)).toArray
    val ext = (0 until rank).map(d => cHi(d) - cLo(d) + 1).toArray
    val nSel = ext.foldLeft(1L)((a, b) => Math.multiplyExact(a, b))
    // spark.graft.zarrnd.maxSlices: task-count ceiling for huge chunk
    // grids (a million-chunk read becomes a few thousand tasks iterating
    // chunks, not a million tasks); also the test seam for the
    // multi-chunk-per-task path
    val maxSlices = spark.conf.getOption("spark.graft.zarrnd.maxSlices")
      .flatMap(_.toLongOption)
      .getOrElse(math.max(spark.sparkContext.defaultParallelism.toLong * 4, 4096L))
    val numSlices = math.max(1L, math.min(nSel, maxSlices)).toInt
    val mB = m
    // per-cell loops index arrays, not the model's Seqs
    val shapeB = m.shape.toArray; val chunksB = m.chunks.toArray
    val winB = win
    val rdd = spark.sparkContext
      .range(0L, nSel, 1L, math.max(1, numSlices))
      .flatMap { ord =>
        // mixed-radix decode: selection ordinal -> chunk coordinate
        val r = shapeB.length
        val c = new Array[Long](r)
        var rem = ord
        var dd = r - 1
        while (dd >= 0) { c(dd) = cLo(dd) + rem % ext(dd); rem /= ext(dd); dd -= 1 }
        val elems = mB.chunkElems
        val key = Zarr.chunkKey(path, c, mB.keyEnc)
        val buf =
          if (Zarr.exists(key))
            Zarr.decodeChunk(Zarr.readBytes(key), elems, mB.zlib, mB.dtype,
              mB.format, mB.comp)
          else Array.fill(elems)(mB.fill)
        // emit in-bounds cells only (edge chunks are fill-padded on disk)
        val base = new Array[Long](r)
        var d = 0
        while (d < r) { base(d) = c(d) * chunksB(d); d += 1 }
        (0 until elems).iterator.flatMap { off =>
          val idx = new Array[Long](r)
          var rem = off
          var inBounds = true
          var k = r - 1
          while (k >= 0) {
            val local = rem % chunksB(k)
            rem /= chunksB(k)
            val g = base(k) + local
            if (g >= shapeB(k) || g < winB(k)._1 || g >= winB(k)._2)
              inBounds = false
            idx(k) = g
            k -= 1
          }
          if (!inBounds) Iterator.empty
          else Iterator.single(Row.fromSeq(idx.toSeq :+ buf(off)))
        }
      }
    spark.createDataFrame(rdd, outSchema(rank))
  }
}
