package perfbench

import java.io.File
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import org.apache.spark.sql.catalyst.expressions.XXH64

/** Zarr stores written and read by the benchmark itself, from the public
  * v2/v3 specs: the staged inputs, and the read-back of every store the
  * program writes. Codec bytes go through zstd-jni directly; blosc frames
  * through graft's codec kernel, the one piece shared with the program. */
object StoreIO {
  private val json = new ObjectMapper()

  def writeFile(path: String, bytes: Array[Byte]): Unit = {
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    Files.write(p, bytes)
  }
  private def writeText(path: String, s: String): Unit = writeFile(path, s.getBytes("UTF-8"))

  private def v2Array(path: String, shape: Seq[Long], chunks: Seq[Int], dtype: String,
                      compressor: String): Unit =
    writeText(s"$path/.zarray",
      s"""{"chunks": [${chunks.mkString(", ")}], "compressor": $compressor, "dtype": "$dtype",
         | "fill_value": 0, "filters": null, "order": "C",
         | "shape": [${shape.mkString(", ")}], "zarr_format": 2}""".stripMargin)

  private val BloscMeta =
    """{"id": "blosc", "cname": "lz4", "clevel": 1, "shuffle": 1, "blocksize": 0}"""

  /** An anndata CSR group (zarr v2, blosc chunks): `data` f8, `indices`
    * and `indptr` i8. Returns the chunk buffers of `data` (the codec pass
    * runs on them). */
  def writeCsr(root: String, m: Gen.Csr, chunk: Int): Seq[Array[Double]] = {
    writeText(s"$root/.zgroup", """{"zarr_format": 2}""")
    writeText(s"$root/.zattrs",
      s"""{"encoding-type": "csr_matrix", "encoding-version": "0.1.0", "shape": [${m.rows}, ${m.cols}]}""")
    def vector(name: String, vals: Int => Double, n: Int, dtype: String): Seq[Array[Double]] = {
      v2Array(s"$root/$name", Seq(n.toLong), Seq(chunk), dtype, BloscMeta)
      (0 until (n + chunk - 1) / chunk).map { c =>
        // zarr stores edge chunks at full size, padded with the fill value
        val buf = Array.tabulate(chunk)(e => if (c * chunk + e < n) vals(c * chunk + e) else 0.0)
        writeFile(s"$root/$name/$c", graft.zarr.Zarr.encodeChunk(buf, dtype, zlib = false, comp = "blosc"))
        buf
      }
    }
    val bufs = vector("data", m.data(_), m.nnz, "<f8")
    vector("indices", m.indices(_).toDouble, m.nnz, "<i8")
    vector("indptr", m.indptr(_).toDouble, m.rows + 1, "<i8")
    bufs
  }

  // ---- order-independent cell checksums ----------------------------------

  /** Spark's `xxhash64(i, j, v)` (seed 42), recomputed with Spark's public
    * XXH64 kernel: the benchmark's checksum is Σ pmod(h, 2^40). Inputs
    * never hold -0.0 or NaN, so no normalization question arises. */
  def cellHash(i: Long, j: Long, v: Double): Long = {
    var h = XXH64.hashLong(i, 42L)
    h = XXH64.hashLong(j, h)
    h = XXH64.hashLong(java.lang.Double.doubleToLongBits(v), h)
    java.lang.Math.floorMod(h, 1L << 40)
  }

  /** (cell count, checksum) of a 2-D store's logical cells, read from its
    * chunk files. Handles the two layouts the program writes here: v2
    * flat keys and v3 `c/` keys; codecs blosc (v2) and zstd (v3). */
  def storeChecksum(path: String): (Long, Long) = {
    val (rows, cols, cr, cc, fmt, comp) = meta(path)
    var n = 0L; var sum = 0L
    for (ci <- 0L until (rows + cr - 1) / cr; cj <- 0L until (cols + cc - 1) / cc) {
      val f = if (fmt == 3) s"$path/c/$ci/$cj" else s"$path/$ci.$cj"
      val vals =
        if (!new File(f).exists()) Array.fill(cr * cc)(0.0)
        else decode(Files.readAllBytes(Paths.get(f)), cr * cc, comp)
      var e = 0
      while (e < vals.length) {
        val i = ci * cr + e / cc; val j = cj * cc + e % cc
        if (i < rows && j < cols) { n += 1; sum += cellHash(i, j, vals(e)) }
        e += 1
      }
    }
    (n, sum)
  }

  /** (rows, cols, chunkRows, chunkCols, format, codec) of a 2-D store. */
  def meta(path: String): (Long, Long, Int, Int, Int, String) = {
    val v3 = new File(s"$path/zarr.json")
    if (v3.exists()) {
      val m = json.readTree(v3)
      val codecs = m.path("codecs")
      val comp = (0 until codecs.size()).map(k => codecs.get(k).path("name").asText())
        .find(_ != "bytes").getOrElse("")
      val chunk = m.path("chunk_grid").path("configuration").path("chunk_shape")
      (m.path("shape").get(0).asLong(), m.path("shape").get(1).asLong(),
        chunk.get(0).asInt(), chunk.get(1).asInt(), 3, comp)
    } else {
      val m: JsonNode = json.readTree(new File(s"$path/.zarray"))
      val c = m.path("compressor")
      (m.path("shape").get(0).asLong(), m.path("shape").get(1).asLong(),
        m.path("chunks").get(0).asInt(), m.path("chunks").get(1).asInt(), 2,
        if (c.isNull) "" else c.path("id").asText())
    }
  }

  def decode(bytes: Array[Byte], n: Int, comp: String): Array[Double] = {
    val raw = comp match {
      case "zstd" =>
        val out = new Array[Byte](n * 8)
        val got = com.github.luben.zstd.Zstd.decompressByteArray(out, 0, out.length, bytes, 0, bytes.length)
        require(got == out.length, s"zstd chunk decoded $got of ${out.length} bytes")
        out
      case "blosc" => return graft.zarr.Zarr.decodeChunk(bytes, n, zlib = false, comp = "blosc")
      case "" => bytes
      case other => throw new IllegalArgumentException(s"unexpected codec $other")
    }
    val bb = ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN)
    Array.fill(n)(bb.getDouble)
  }

  /** Dense read of a 2-D store into a row-major local array. */
  def readDense(path: String): Array[Array[Double]] = {
    val (rows, cols, cr, cc, fmt, comp) = meta(path)
    val out = Array.ofDim[Double](rows.toInt, cols.toInt)
    for (ci <- 0L until (rows + cr - 1) / cr; cj <- 0L until (cols + cc - 1) / cc) {
      val f = if (fmt == 3) s"$path/c/$ci/$cj" else s"$path/$ci.$cj"
      if (new File(f).exists()) {
        val vals = decode(Files.readAllBytes(Paths.get(f)), cr * cc, comp)
        var e = 0
        while (e < vals.length) {
          val i = ci * cr + e / cc; val j = cj * cc + e % cc
          if (i < rows && j < cols) out(i.toInt)(j.toInt) = vals(e)
          e += 1
        }
      }
    }
    out
  }

  /** Bytes under a directory tree. */
  def du(path: String): Long = {
    val f = new File(path)
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(c => du(c.getPath)).sum).getOrElse(0L)
  }

  /** Chunk files of a store (metadata documents excluded). */
  def chunkFiles(path: String): Long = {
    def walk(f: File): Long =
      if (f.isFile) (if (f.getName.startsWith(".") || f.getName == "zarr.json") 0L else 1L)
      else Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
    walk(new File(path))
  }

  def rmrf(path: String): Unit = {
    def del(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(del))
      f.delete()
    }
    del(new File(path))
  }
}
