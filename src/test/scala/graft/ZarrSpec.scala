package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.array.{ZLocal, ZMatrix}
import graft.zarr.Zarr

class ZarrSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  val dense: Array[Array[Double]] = Array.tabulate(10, 5)((i, j) => i * 10.0 + j)

  test("zarr v2 roundtrip, raw chunks, chunk grid partitioning") {
    val path = "/root/repo/target/tmp/zarr_test_raw"
    Zarr.write(ZMatrix.fromDense(spark, dense), path, 10, 5, chunkRows = 4, chunkCols = 3)
    val meta = Zarr.readMeta(path)
    assert(meta.rows == 10 && meta.cols == 5 && meta.chunkRows == 4 && !meta.zlib)
    // edge chunks exist: ceil(10/4) x ceil(5/3) = 3 x 2 chunk files
    val files = new java.io.File(path).list().filterNot(_ == ".zarray")
    assert(files.toSet == Set("0.0", "0.1", "1.0", "1.1", "2.0", "2.1"))
    val back = ZLocal.toDense(Zarr.read(spark, path), 10, 5)
    assert(back.map(_.toSeq).toSeq == dense.map(_.toSeq).toSeq)
  }

  test("appendRows: ragged-boundary read-modify-write grows both formats; attrs survive") {
    val full: Array[Array[Double]] = Array.tabulate(11, 5)((i, j) => i * 100.0 + j + 1)
    for ((fmt, name) <- Seq((2, "v2"), (3, "v3"))) {
      val path = s"/root/repo/target/tmp/zarr_test_append_$name"
      Zarr.delete(path, recursive = true)
      // 5 rows at chunkRows=4: the last chunk is RAGGED (1 of 4 rows)
      Zarr.write(ZMatrix.fromDense(spark, full.take(5)), path, 5, 5,
        chunkRows = 4, chunkCols = 3, format = fmt)
      Zarr.writeAttrs(path, """{"who": "append-test"}""")
      // block-local coordinates for the 6 appended rows
      Zarr.appendRows(ZMatrix.fromDense(spark, full.drop(5)), path, 6)
      val meta = Zarr.readMeta(path)
      assert(meta.rows == 11 && meta.cols == 5, s"$name shape must grow to 11x5")
      val back = ZLocal.toDense(Zarr.read(spark, path), 11, 5)
      assert(back.map(_.toSeq).toSeq == full.map(_.toSeq).toSeq,
        s"$name appended store must read back as the full matrix")
      // the in-place shape edit must not clobber user attributes
      assert(Zarr.readAttrs(path).path("who").asText() == "append-test",
        s"$name attrs lost by the shape edit")
      // chunks strictly below the boundary chunk were never rewritten:
      // grid is ceil(11/4)=3 chunk rows; boundary chunk row is ci=1
      val c00 = new java.io.File(Zarr.chunkPath(path, 0, 0, meta.keyEnc))
      assert(c00.exists, s"$name chunk (0,0) must exist")
    }
    // chunk-ALIGNED old row count: no read-modify-write, pure new chunks
    val path = "/root/repo/target/tmp/zarr_test_append_aligned"
    Zarr.delete(path, recursive = true)
    Zarr.write(ZMatrix.fromDense(spark, full.take(8)), path, 8, 5,
      chunkRows = 4, chunkCols = 3)
    Zarr.appendRows(ZMatrix.fromDense(spark, full.drop(8)), path, 3)
    val back = ZLocal.toDense(Zarr.read(spark, path), 11, 5)
    assert(back.map(_.toSeq).toSeq == full.map(_.toSeq).toSeq)
  }

  test("resizeRows: shrink clips reads, deletes out-of-bounds chunks, append re-grows clean") {
    val full: Array[Array[Double]] = Array.tabulate(11, 5)((i, j) => i * 100.0 + j + 1)
    val path = "/root/repo/target/tmp/zarr_test_resize"
    Zarr.delete(path, recursive = true)
    Zarr.write(ZMatrix.fromDense(spark, full), path, 11, 5, chunkRows = 4, chunkCols = 3)
    Zarr.resizeRows(path, 6) // boundary chunk ci=1 partially survives
    assert(Zarr.readMeta(path).rows == 6)
    val back = ZLocal.toDense(Zarr.read(spark, path), 6, 5)
    assert(back.map(_.toSeq).toSeq == full.take(6).map(_.toSeq).toSeq)
    // chunk row ci=2 (rows 8..10) fell fully outside -> files deleted
    val meta = Zarr.readMeta(path)
    assert(!new java.io.File(Zarr.chunkPath(path, 2, 0, meta.keyEnc)).exists)
    assert(new java.io.File(Zarr.chunkPath(path, 1, 0, meta.keyEnc)).exists)
    // re-grow through appendRows: the boundary chunk re-encodes WHOLE, so
    // the pre-shrink rows 6..7 must NOT resurface (zarr-python's quirk)
    val fresh = Array.tabulate(3, 5)((i, j) => 9000.0 + i * 10 + j)
    Zarr.appendRows(ZMatrix.fromDense(spark, fresh), path, 3)
    val regrown = ZLocal.toDense(Zarr.read(spark, path), 9, 5)
    assert(regrown.take(6).map(_.toSeq).toSeq == full.take(6).map(_.toSeq).toSeq)
    assert(regrown.drop(6).map(_.toSeq).toSeq == fresh.map(_.toSeq).toSeq,
      "stale pre-shrink rows resurfaced through the re-grow")
  }

  test("appendVector: rank-1 ragged-boundary append, both formats") {
    import spark.implicits._
    val full = (0L until 11L).map(i => (i, i * 7.0 + 1))
    for (fmt <- Seq(2, 3)) {
      val path = s"/root/repo/target/tmp/zarr_test_vappend_v$fmt"
      Zarr.delete(path, recursive = true)
      Zarr.writeVector(full.take(5).toDF("i", "v"), path, 5, chunk = 4, format = fmt)
      Zarr.appendVector(
        full.drop(5).map { case (i, v) => (i - 5, v) }.toDF("i", "v"), path, 6)
      assert(Zarr.readMeta(path).rows == 11)
      val back = Zarr.readVector(spark, path).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(back == full.toMap, s"v$fmt vector append mismatch")
    }
  }

  test("v3 append preserves foreign top-level metadata and honors stored keyEnc") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    // a foreign (zarr-python/xarray-shaped) 1-D v3 store: non-default
    // chunk-key layout + a dimension_names field we never generate
    val path = "/root/repo/target/tmp/zarr_test_vappend_foreign"
    Zarr.delete(path, recursive = true)
    (0L until 5L).map(i => (i, i * 3.0)).toDF("i", "v")
      .select((col("i") / 4).cast("long").as("ci"), lit(0L).as("cj"),
        col("i").as("i"), lit(0L).as("j"), col("v").as("v"))
      .write.format("zarr")
      .option("chunkRows", "4").option("chunkCols", "1")
      .option("rows", "5").option("cols", "1")
      .option("dtype", "<f8").option("zarrFormat", "3")
      .option("rank1", "true").option("keyEnc", "flat")
      .mode("overwrite").save(path)
    val f = java.nio.file.Paths.get(s"$path/zarr.json")
    val doc = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
    java.nio.file.Files.write(f, doc
      .replaceFirst("\\{", """{"dimension_names": ["obs"],""")
      .replace("\"attributes\": {}", """"attributes": {"units": "counts"}""")
      .getBytes("UTF-8"))
    // append THROUGH the DSv2 commit rewrite: keyEnc must come from the
    // store's own metadata, and the rewrite must carry the foreign fields
    Zarr.appendVector((0L until 3L).map(i => (i, 100.0 + i)).toDF("i", "v"), path, 3)
    val meta2 = Zarr.readMeta(path)
    assert(meta2.rows == 8 && meta2.keyEnc == "flat")
    val after = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
    assert(after.contains("dimension_names") && after.contains("\"obs\""),
      "append commit dropped the store's dimension_names")
    assert(after.contains("\"units\""), "append commit dropped attributes")
    val back = Zarr.readVector(spark, path).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val exp = (0L until 5L).map(i => i -> i * 3.0).toMap ++
      (0L until 3L).map(i => (i + 5) -> (100.0 + i)).toMap
    assert(back == exp, "foreign-keyEnc append corrupted cell data")
  }

  test("zarr v2 roundtrip with zlib compressor") {
    val path = "/root/repo/target/tmp/zarr_test_zlib"
    Zarr.write(ZMatrix.fromDense(spark, dense), path, 10, 5, 4, 3, zlib = true)
    assert(Zarr.readMeta(path).zlib)
    val back = ZLocal.toDense(Zarr.read(spark, path), 10, 5)
    assert(back.map(_.toSeq).toSeq == dense.map(_.toSeq).toSeq)
  }

  test("blosc codec: shuffle round-trip, frame round-trip, raw fallback") {
    import graft.zarr.Blosc
    val raw = Array.tabulate(48 * 8)(i => (i * 37 % 251).toByte)
    assert(Blosc.unshuffle(Blosc.shuffle(raw, 8), 8).toSeq == raw.toSeq)
    // compressible payload
    val rep = Array.fill(4096)(7.toByte)
    val frame = Blosc.compress(rep, 8)
    assert(frame.length < rep.length, "repetitive payload did not compress")
    assert(Blosc.decompress(frame, rep.length).toSeq == rep.toSeq)
    // incompressible payload exercises the raw-split fallback
    val rnd = new scala.util.Random(42)
    val noise = Array.fill(1024)(rnd.nextInt().toByte)
    assert(Blosc.decompress(Blosc.compress(noise, 4), noise.length).toSeq == noise.toSeq)
  }

  test("fused blosc f8/i8 encode is byte-identical to the image+shuffle path") {
    import java.nio.{ByteBuffer, ByteOrder}
    import graft.zarr.Blosc
    // compressible, incompressible (raw-split fallback), NaN/±0.0 bit
    // patterns, and integral values for the i8 lane
    val rnd = new scala.util.Random(7)
    val cases = Seq(
      Array.fill(4096)(1.5),
      Array.fill(1024)(rnd.nextDouble() * 1e300 - 5e299),
      Array(Double.NaN, -0.0, 0.0, Double.PositiveInfinity, -1.75, 1e-310),
      Array.tabulate(517)(i => (i * 37 % 251).toDouble))
    for (buf <- cases) {
      val f8Image = ByteBuffer.allocate(buf.length * 8).order(ByteOrder.LITTLE_ENDIAN)
      buf.foreach(f8Image.putDouble)
      assert(Blosc.compress8(buf, java.lang.Double.doubleToRawLongBits).toSeq ==
        Blosc.compress(f8Image.array(), 8).toSeq, "f8 frame diverged")
      val i8Image = ByteBuffer.allocate(buf.length * 8).order(ByteOrder.LITTLE_ENDIAN)
      buf.foreach(v => i8Image.putLong(v.toLong))
      assert(Blosc.compress8(buf, _.toLong).toSeq ==
        Blosc.compress(i8Image.array(), 8).toSeq, "i8 frame diverged")
    }
  }

  test("blosc v2 roundtrip: zarr-python's default compressor reads and writes") {
    val path = "/root/repo/target/tmp/zarr_test_blosc"
    Zarr.write(ZMatrix.fromDense(spark, dense), path, 10, 5, 4, 3, comp = "blosc")
    val meta = Zarr.readMeta(path)
    assert(meta.comp == "blosc" && !meta.zlib)
    // .zarray declares the blosc compressor (what zarr-python expects back)
    val zarray = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$path/.zarray")), "UTF-8")
    assert(zarray.contains("\"id\": \"blosc\""))
    val back = ZLocal.toDense(Zarr.read(spark, path), 10, 5)
    assert(back.map(_.toSeq).toSeq == dense.map(_.toSeq).toSeq)
  }

  test("blosc v3 codec chain roundtrip (incl. sharded inner chunks)") {
    val p3 = "/root/repo/target/tmp/zarr_test_blosc_v3"
    Zarr.write(ZMatrix.fromDense(spark, dense), p3, 10, 5, 4, 3,
      format = 3, comp = "blosc")
    assert(Zarr.readMeta(p3).comp == "blosc")
    assert(ZLocal.toDense(Zarr.read(spark, p3), 10, 5)
      .map(_.toSeq).toSeq == dense.map(_.toSeq).toSeq)
    val ps = "/root/repo/target/tmp/zarr_test_blosc_shard"
    Zarr.write(ZMatrix.fromDense(spark, dense), ps, 10, 5, 4, 4,
      format = 3, innerRows = 2, innerCols = 4, comp = "blosc")
    assert(ZLocal.toDense(Zarr.read(spark, ps), 10, 5)
      .map(_.toSeq).toSeq == dense.map(_.toSeq).toSeq)
  }

  test("configurable chunk-key encodings write + roundtrip in both formats") {
    import java.io.File
    for ((format, keyEnc, probe) <- Seq(
        (2, "nested", (p: String) => new File(s"$p/0/0").isFile),
        (2, "flat", (p: String) => new File(s"$p/0.0").isFile),
        (3, "c.", (p: String) => new File(s"$p/c.0.0").isFile),
        (3, "nested", (p: String) => new File(s"$p/0/0").isFile),
        (3, "flat", (p: String) => new File(s"$p/0.0").isFile),
        (3, "c/", (p: String) => new File(s"$p/c/0/0").isFile))) {
      val path = s"/root/repo/target/tmp/zarr_test_keyenc_${format}_" +
        keyEnc.replaceAll("[^A-Za-z0-9]", "_")
      Zarr.write(ZMatrix.fromDense(spark, dense), path, 10, 5, 4, 3,
        format = format, keyEnc = keyEnc)
      assert(probe(path), s"format=$format keyEnc=$keyEnc: chunk layout wrong")
      val meta = Zarr.readMeta(path)
      assert(meta.keyEnc == keyEnc, s"meta declares ${meta.keyEnc}, wrote $keyEnc")
      assert(ZLocal.toDense(Zarr.read(spark, path), 10, 5)
        .map(_.toSeq).toSeq == dense.map(_.toSeq).toSeq,
        s"format=$format keyEnc=$keyEnc roundtrip")
    }
    // invalid combos fail at option validation, not at commit
    val bad = intercept[IllegalArgumentException] {
      Zarr.write(ZMatrix.fromDense(spark, dense),
        "/root/repo/target/tmp/zarr_test_keyenc_bad", 10, 5, 4, 3,
        format = 2, keyEnc = "c/")
    }
    assert(bad.getMessage.contains("keyEnc"))
  }

  test("metadata-light reads: array meta resolves from consolidated map alone") {
    // the cloud layout: one consolidated object instead of per-array
    // metadata GETs — and here the per-array docs are DELETED entirely,
    // so only the consolidated map can describe the array
    for (format <- Seq(2, 3)) {
      val g = s"/root/repo/target/tmp/zarr_test_consol_only_v$format"
      Zarr.delete(g, recursive = true)
      Zarr.write(ZMatrix.fromDense(spark, dense), s"$g#X", 10, 5, 4, 3,
        format = format)
      if (format == 2) Zarr.consolidateMetadata(g)
      else Zarr.consolidateMetadataV3(g)
      val metaFile = if (format == 3) s"$g/X/zarr.json" else s"$g/X/.zarray"
      assert(new java.io.File(metaFile).exists())
      Zarr.delete(metaFile)
      val meta = Zarr.readMeta(s"$g/X")
      assert(meta.rows == 10 && meta.cols == 5 && meta.format == format)
      assert(ZLocal.toDense(Zarr.read(spark, g, "X"), 10, 5)
        .map(_.toSeq).toSeq == dense.map(_.toSeq).toSeq,
        s"v$format consolidated-only read")
    }
    // no consolidated ancestor → the error still names every option
    val lone = "/root/repo/target/tmp/zarr_test_consol_missing"
    Zarr.delete(lone, recursive = true)
    new java.io.File(lone).mkdirs()
    val e = intercept[IllegalArgumentException](Zarr.readMeta(lone))
    assert(e.getMessage.contains("consolidated"))
  }

  test("zstd v2 roundtrip: numcodecs Zstd compressor reads and writes") {
    val path = "/root/repo/target/tmp/zarr_test_zstd"
    Zarr.write(ZMatrix.fromDense(spark, dense), path, 10, 5, 4, 3, comp = "zstd")
    val meta = Zarr.readMeta(path)
    assert(meta.comp == "zstd" && !meta.zlib)
    val zarray = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$path/.zarray")), "UTF-8")
    assert(zarray.contains("\"id\": \"zstd\""))
    val back = ZLocal.toDense(Zarr.read(spark, path), 10, 5)
    assert(back.map(_.toSeq).toSeq == dense.map(_.toSeq).toSeq)
  }

  test("zstd v3 roundtrip: zarr-python's v3 DEFAULT codec, incl. sharded") {
    val p3 = "/root/repo/target/tmp/zarr_test_zstd_v3"
    Zarr.write(ZMatrix.fromDense(spark, dense), p3, 10, 5, 4, 3,
      format = 3, comp = "zstd")
    assert(Zarr.readMeta(p3).comp == "zstd")
    val zj = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$p3/zarr.json")), "UTF-8")
    assert(zj.contains("\"name\": \"zstd\""))
    assert(ZLocal.toDense(Zarr.read(spark, p3), 10, 5)
      .map(_.toSeq).toSeq == dense.map(_.toSeq).toSeq)
    val ps = "/root/repo/target/tmp/zarr_test_zstd_shard"
    Zarr.write(ZMatrix.fromDense(spark, dense), ps, 10, 5, 4, 4,
      format = 3, innerRows = 2, innerCols = 4, comp = "zstd")
    assert(ZLocal.toDense(Zarr.read(spark, ps), 10, 5)
      .map(_.toSeq).toSeq == dense.map(_.toSeq).toSeq)
  }

  test("zstd foreign fixture: hand-built v3 store with library zstd frames") {
    // simulate a zarr-python v3 writer: metadata JSON written by hand (not
    // by our writer) and chunk bytes compressed directly with zstd-jni at
    // a level we never use (3), so nothing round-trips through our encoder
    val path = "/root/repo/target/tmp/zarr_test_zstd_foreign"
    Zarr.delete(path, recursive = true)
    Zarr.writeBytes(s"$path/zarr.json",
      """{"zarr_format": 3, "node_type": "array", "shape": [4, 3],
        |"data_type": "float64",
        |"chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [2, 3]}},
        |"chunk_key_encoding": {"name": "default", "configuration": {"separator": "/"}},
        |"fill_value": 0.0,
        |"codecs": [{"name": "bytes", "configuration": {"endian": "little"}},
        |  {"name": "zstd", "configuration": {"level": 3, "checksum": false}}]}"""
        .stripMargin.getBytes("UTF-8"))
    val vals = Array.tabulate(4, 3)((i, j) => i * 10.0 + j)
    for (ci <- 0 until 2) {
      val bb = java.nio.ByteBuffer.allocate(2 * 3 * 8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      for (li <- 0 until 2; j <- 0 until 3) bb.putDouble(vals(ci * 2 + li)(j))
      Zarr.writeBytes(s"$path/c/$ci/0",
        com.github.luben.zstd.Zstd.compress(bb.array(), 3))
    }
    assert(ZLocal.toDense(Zarr.read(spark, path), 4, 3)
      .map(_.toSeq).toSeq == vals.map(_.toSeq).toSeq)
  }

  test("blosc foreign-store interop: c-blosc typesize-split multi-block frames") {
    // construct what c-blosc 1.x actually emits for lz4 + byte-shuffle:
    // MULTI-block frames whose blocks hold TYPESIZE splits (one lz4 stream
    // per shuffled byte lane) — zarr-python's default wire shape, which our
    // single-split writer never produces, read through a hand-written store
    import java.nio.{ByteBuffer, ByteOrder}
    val lz4 = net.jpountz.lz4.LZ4Factory.fastestInstance().fastCompressor()
    def cblosc(raw: Array[Byte], typesize: Int, blocksize: Int): Array[Byte] = {
      val nblocks = (raw.length + blocksize - 1) / blocksize
      require(raw.length % blocksize == 0, "test fixture keeps whole blocks")
      val blocks = (0 until nblocks).map { b =>
        // c-blosc shuffles PER BLOCK: rebuild each block's shuffle from the
        // block's own bytes (not a slice of the whole-buffer shuffle)
        val blockRaw = java.util.Arrays.copyOfRange(raw, b * blocksize, (b + 1) * blocksize)
        val blockShuf = graft.zarr.Blosc.shuffle(blockRaw, typesize)
        val neblock = blocksize / typesize
        val out = new java.io.ByteArrayOutputStream()
        (0 until typesize).foreach { s0 =>
          val split = java.util.Arrays.copyOfRange(blockShuf, s0 * neblock, (s0 + 1) * neblock)
          val max = lz4.maxCompressedLength(neblock)
          val tmp = new Array[Byte](max)
          val n = lz4.compress(split, 0, neblock, tmp, 0, max)
          val (payload, len) = if (n < neblock) (tmp, n) else (split, neblock)
          val hdr = ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN).putInt(len).array()
          out.write(hdr); out.write(payload, 0, len)
        }
        out.toByteArray
      }
      val bstart0 = 16 + 4 * nblocks
      val bstarts = blocks.scanLeft(bstart0)(_ + _.length).init
      val cbytes = bstart0 + blocks.map(_.length).sum
      val frame = ByteBuffer.allocate(cbytes).order(ByteOrder.LITTLE_ENDIAN)
      frame.put(2.toByte).put(1.toByte)
        .put((0x1 | (1 << 5)).toByte).put(typesize.toByte) // shuffle + lz4
      frame.putInt(raw.length).putInt(blocksize).putInt(cbytes)
      bstarts.foreach(frame.putInt)
      blocks.foreach(b => frame.put(b))
      frame.array()
    }
    // 16x4 f8 array, chunks 8x4 → two chunk files; 2 blocks of 128 B each
    val d2 = Array.tabulate(16, 4)((i, j) => math.sin(i * 4 + j) * 100)
    val path = "/root/repo/target/tmp/zarr_test_blosc_foreign"
    val dir = new java.io.File(path)
    dir.mkdirs()
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$path/.zarray"),
      """{"chunks": [8, 4], "compressor": {"id": "blosc", "cname": "lz4",
        |"clevel": 5, "shuffle": 1, "blocksize": 0}, "dtype": "<f8",
        |"fill_value": 0.0, "filters": null, "order": "C", "shape": [16, 4],
        |"zarr_format": 2}""".stripMargin.getBytes("UTF-8"))
    (0 until 2).foreach { ci =>
      val buf = ByteBuffer.allocate(8 * 4 * 8).order(ByteOrder.LITTLE_ENDIAN)
      for (i <- 0 until 8; j <- 0 until 4) buf.putDouble(d2(ci * 8 + i)(j))
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$path/$ci.0"),
        cblosc(buf.array(), typesize = 8, blocksize = 128))
    }
    val back = ZLocal.toDense(Zarr.read(spark, path), 16, 4)
    for (i <- 0 until 16; j <- 0 until 4)
      assert(back(i)(j) == d2(i)(j), s"cell ($i,$j)")
    // MULTITHREADED c-blosc appends blocks in thread-completion order, so
    // bstarts need not be monotonic: rebuild chunk 0 with its two blocks'
    // payloads swapped in the file (bstarts still point correctly)
    locally {
      val orig = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$path/0.0"))
      val hdr = ByteBuffer.wrap(orig).order(ByteOrder.LITTLE_ENDIAN)
      val b0 = hdr.getInt(16); val b1 = hdr.getInt(20) // two bstarts
      val blk0 = java.util.Arrays.copyOfRange(orig, b0, b1)
      val blk1 = java.util.Arrays.copyOfRange(orig, b1, orig.length)
      val swapped = ByteBuffer.allocate(orig.length).order(ByteOrder.LITTLE_ENDIAN)
      swapped.put(orig, 0, 16)
      swapped.putInt(24 + blk1.length) // block 0 now AFTER block 1
      swapped.putInt(24)               // block 1 first
      swapped.put(blk1).put(blk0)
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$path/0.0"), swapped.array())
      val back2 = ZLocal.toDense(Zarr.read(spark, path), 16, 4)
      for (i <- 0 until 16; j <- 0 until 4)
        assert(back2(i)(j) == d2(i)(j), s"out-of-order blocks: cell ($i,$j)")
    }
    // frames carrying a TRULY unknown codec id still fail loudly
    val blPath = "/root/repo/target/tmp/zarr_test_badcodec"
    new java.io.File(blPath).mkdirs()
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$path/.zarray"),
      java.nio.file.Paths.get(s"$blPath/.zarray"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val bad = cblosc(new Array[Byte](8 * 4 * 8), 8, 128)
    bad(2) = ((bad(2) & 0x1F) | (6 << 5)).toByte // codec bits → 6 = unassigned
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$blPath/0.0"), bad)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$blPath/1.0"),
      cblosc({ val b = ByteBuffer.allocate(8 * 4 * 8).order(ByteOrder.LITTLE_ENDIAN)
               for (i <- 0 until 32) b.putDouble(i); b.array() }, 8, 128))
    val err = intercept[org.apache.spark.SparkException] {
      // aggregate the VALUE column: a bare count() is answered from the
      // grid alone (column pruning) and would never decode the bad chunk
      Zarr.read(spark, blPath).cells
        .agg(org.apache.spark.sql.functions.sum("v")).head()
    }
    assert(err.getMessage.contains("codec id 6") ||
      Option(err.getCause).exists(_.getMessage.contains("codec id 6")))
  }

  test("blosc foreign-store interop: blosclz codec + bit-shuffle frames") {
    import java.nio.{ByteBuffer, ByteOrder}
    import graft.zarr.Blosc
    // a c-blosc frame with cname=blosclz (c-blosc's own default) and the
    // bit-shuffle filter — the two read-side shapes our writer never emits
    def frame(raw: Array[Byte], typesize: Int, blocksize: Int,
              bitShuffle: Boolean): Array[Byte] = {
      val nblocks = (raw.length + blocksize - 1) / blocksize
      require(raw.length % blocksize == 0, "test fixture keeps whole blocks")
      val blocks = (0 until nblocks).map { b =>
        val blockRaw = java.util.Arrays.copyOfRange(raw, b * blocksize, (b + 1) * blocksize)
        val shuf = if (bitShuffle) Blosc.bitshuffle(blockRaw, typesize)
                   else Blosc.shuffle(blockRaw, typesize)
        val neblock = blocksize / typesize
        val out = new java.io.ByteArrayOutputStream()
        (0 until typesize).foreach { s0 =>
          val split = java.util.Arrays.copyOfRange(shuf, s0 * neblock, (s0 + 1) * neblock)
          val enc = ZarrSpec.blosclzEncode(split)
          val (payload, len) = if (enc.length < neblock) (enc, enc.length)
                               else (split, neblock)
          val hdr = ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN).putInt(len).array()
          out.write(hdr); out.write(payload, 0, len)
        }
        out.toByteArray
      }
      val bstart0 = 16 + 4 * nblocks
      val bstarts = blocks.scanLeft(bstart0)(_ + _.length).init
      val cbytes = bstart0 + blocks.map(_.length).sum
      val buf = ByteBuffer.allocate(cbytes).order(ByteOrder.LITTLE_ENDIAN)
      val shufFlag = if (bitShuffle) 0x4 else 0x1
      buf.put(2.toByte).put(1.toByte)
        .put((shufFlag | (0 << 5)).toByte).put(typesize.toByte) // codec 0 = blosclz
      buf.putInt(raw.length).putInt(blocksize).putInt(cbytes)
      bstarts.foreach(buf.putInt)
      blocks.foreach(b => buf.put(b))
      buf.array()
    }
    // repetitive doubles → shuffled lanes carry long runs → blosclz shrinks
    val d2 = Array.tabulate(16, 4)((i, j) => ((i * 4 + j) % 5).toDouble)
    for (bitShuffle <- Seq(false, true)) {
      val path = s"/root/repo/target/tmp/zarr_test_blosclz_${if (bitShuffle) "bit" else "byte"}"
      new java.io.File(path).mkdirs()
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$path/.zarray"),
        s"""{"chunks": [8, 4], "compressor": {"id": "blosc", "cname": "blosclz",
           |"clevel": 5, "shuffle": ${if (bitShuffle) 2 else 1}, "blocksize": 0},
           |"dtype": "<f8", "fill_value": 0.0, "filters": null, "order": "C",
           |"shape": [16, 4], "zarr_format": 2}""".stripMargin.getBytes("UTF-8"))
      (0 until 2).foreach { ci =>
        val buf = ByteBuffer.allocate(8 * 4 * 8).order(ByteOrder.LITTLE_ENDIAN)
        for (i <- 0 until 8; j <- 0 until 4) buf.putDouble(d2(ci * 8 + i)(j))
        val f = frame(buf.array(), typesize = 8, blocksize = 128, bitShuffle)
        // the fixture must actually exercise the blosclz decoder, not the
        // raw-split fallback: at least one split must have compressed
        val bb = ByteBuffer.wrap(f).order(ByteOrder.LITTLE_ENDIAN)
        val firstSplitLen = bb.getInt(bb.getInt(16)) // first block's first split
        assert(firstSplitLen != 128 / 8, "fixture degenerated to all-raw splits")
        java.nio.file.Files.write(java.nio.file.Paths.get(s"$path/$ci.0"), f)
      }
      val back = ZLocal.toDense(Zarr.read(spark, path), 16, 4)
      for (i <- 0 until 16; j <- 0 until 4)
        assert(back(i)(j) == d2(i)(j), s"bitShuffle=$bitShuffle cell ($i,$j)")
    }
  }

  test("vlen string vectors: v2 |O+vlen-utf8 / v3 string, fill, compressors, groups") {
    import spark.implicits._
    // i=2 is MISSING → fill "" on read-back; unicode + empties roundtrip
    val names = Seq((0L, "alpha"), (1L, "β-ünïcode✓"), (3L, "delta,with,commas"),
      (4L, ""))
    val df = names.toDF("i", "s")
    val expect = Seq((0L, "alpha"), (1L, "β-ünïcode✓"), (2L, ""),
      (3L, "delta,with,commas"), (4L, ""))
    for ((format, comp, zlib) <- Seq((2, "", false), (2, "blosc", false),
        (2, "", true), (3, "", false), (3, "blosc", false), (3, "", true),
        (2, "zstd", false), (3, "zstd", false))) {
      val path = s"/root/repo/target/tmp/zarr_test_str_${format}_${comp}_$zlib"
      Zarr.writeStringVector(df, path, n = 5, chunk = 2,
        zlib = zlib, format = format, comp = comp)
      val back = Zarr.readStringVector(spark, path).orderBy("i")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(back == expect, s"format=$format comp=$comp zlib=$zlib: $back")
    }
    // v2 metadata declares what zarr-python expects back
    val zarray = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/root/repo/target/tmp/zarr_test_str_2__false/.zarray")), "UTF-8")
    assert(zarray.contains("\"|O\"") && zarray.contains("vlen-utf8"))
    // group addressing: the anndata obs/index shape
    val g = "/root/repo/target/tmp/zarr_test_str_group"
    Zarr.delete(g, recursive = true)
    Zarr.writeStringVector(df, s"$g#obs/index", 5, 3)
    assert(new java.io.File(s"$g/.zgroup").exists(), "group metadata missing")
    assert(Zarr.readStringVector(spark, g, "obs/index").count() == 5)
    // numeric readers reject a string store loudly, pointing at the right API
    val e = intercept[Exception](Zarr.readVector(spark, "/root/repo/target/tmp/zarr_test_str_2__false"))
    assert(e.getMessage.contains("|O"))
  }

  test("vlen string foreign fixture: zarr-python-shaped full-tail chunks read back") {
    // hand-written store in the exact shape zarr-python emits: full-chunk
    // vlen frames (tail padded with the fill), zlib compressor, object dtype
    val path = "/root/repo/target/tmp/zarr_test_str_foreign"
    new java.io.File(path).mkdirs()
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$path/.zarray"),
      """{"chunks": [3], "compressor": {"id": "zlib", "level": 5}, "dtype": "|O",
        |"fill_value": null, "filters": [{"id": "vlen-utf8"}], "order": "C",
        |"shape": [5], "zarr_format": 2}""".stripMargin.getBytes("UTF-8"))
    def chunkBytes(items: Array[String]): Array[Byte] = {
      val raw = Zarr.vlenEncode(items)
      val d = new java.util.zip.Deflater(5); d.setInput(raw); d.finish()
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      d.end(); out.toByteArray
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$path/0"),
      chunkBytes(Array("cell_0", "cell_1", "cell_2")))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$path/1"),
      chunkBytes(Array("cell_3", "cell_4", ""))) // full tail chunk, padded
    val back = Zarr.readStringVector(spark, path).orderBy("i")
      .collect().map(_.getString(1)).toSeq
    assert(back == Seq("cell_0", "cell_1", "cell_2", "cell_3", "cell_4"))
  }

  test("DataSource V2: spark.read.format(\"zarr\") matches Zarr.read") {
    val path = "/root/repo/target/tmp/zarr_test_dsv2"
    Zarr.write(ZMatrix.fromDense(spark, dense), path, 10, 5, 4, 3, zlib = true)
    val viaDs = spark.read.format("zarr").load(path)
    assert(viaDs.rdd.getNumPartitions == 6) // one partition per chunk
    val got = ZLocal.toDense(ZMatrix(viaDs), 10, 5)
    assert(got.map(_.toSeq).toSeq == dense.map(_.toSeq).toSeq)
  }

  test("DSv2 filter pushdown prunes chunks") {
    import org.apache.spark.sql.functions.col
    val path = "/root/repo/target/tmp/zarr_test_prune"
    Zarr.write(ZMatrix.fromDense(spark, dense), path, 10, 5, 4, 3)
    // rows 0-3 = chunk row 0 only; cols 3-4 = chunk col 1 only -> 1 of 6 chunks
    val pruned = spark.read.format("zarr").load(path)
      .filter(col("i") < 4L && col("j") >= 3L)
    assert(pruned.rdd.getNumPartitions == 1)
    val rows = pruned.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.length == 8) // 4 rows x cols {3,4}
    assert(rows.forall { case (i, j, v) => v == dense(i.toInt)(j.toInt) })
  }

  test("absent cells read back as fill value") {
    val path = "/root/repo/target/tmp/zarr_test_fill"
    val sparse = ZMatrix.fromDense(spark, dense).slice(0, 10, 0, 2) // drop cols 2..4
    Zarr.write(sparse, path, 10, 5, 4, 3)
    val back = ZLocal.toDense(Zarr.read(spark, path), 10, 5, fill = -1.0)
    assert(back(3)(4) == 0.0) // fill written into the chunk
    assert(back(3)(1) == dense(3)(1))
  }

  test("missing chunks have no files and read back as the store's fill_value") {
    val path = "/root/repo/target/tmp/zarr_test_missing"
    // write only rows < 4 of a 10-row array (4-row chunks): row-chunks 1
    // and 2 get NO file at all — the zarr absent-chunk contract — and a
    // non-zero fill (-1) distinguishes synthesized cells from data zeros
    import org.apache.spark.sql.functions.col
    val part = ZMatrix(ZMatrix.fromDense(spark, dense).cells.filter(col("i") < 4))
    Zarr.write(part, path, 10, 5, chunkRows = 4, chunkCols = 3, fill = -1.0)
    val files = new java.io.File(path).list().filterNot(_.startsWith(".")).toSet
    assert(files == Set("0.0", "0.1"), s"unexpected chunk files: $files")
    val back = ZLocal.toDense(Zarr.read(spark, path), 10, 5)
    for (i <- 4 until 10; j <- 0 until 5)
      assert(back(i)(j) == -1.0, s"absent-chunk cell ($i,$j) must be fill")
    for (i <- 0 until 4; j <- 0 until 5)
      assert(back(i)(j) == dense(i)(j))
  }

  test("DSv2 writer API: df.write.format(\"zarr\") round-trips, shape inferred") {
    import org.apache.spark.sql.functions.col
    val path = "/root/repo/target/tmp/zarr_test_writer_api"
    ZMatrix.fromDense(spark, dense).cells
      .select((col("i") / 4).cast("long").as("ci"), (col("j") / 3).cast("long").as("cj"),
        col("i"), col("j"), col("v"))
      .write.format("zarr")
      .option("chunkRows", "4").option("chunkCols", "3")
      .mode("overwrite").save(path)
    // rows/cols omitted: inferred from max coordinates at commit
    val meta = Zarr.readMeta(path)
    assert(meta.rows == 10 && meta.cols == 5 && meta.dtype == "<f8")
    val back = ZLocal.toDense(Zarr.read(spark, path), 10, 5)
    assert(back.map(_.toSeq).toSeq == dense.map(_.toSeq).toSeq)
  }

  test("overwrite truncates stale chunks from a previous chunking") {
    val path = "/root/repo/target/tmp/zarr_test_truncate"
    Zarr.write(ZMatrix.fromDense(spark, dense), path, 10, 5, 2, 2) // 5x3 grid
    Zarr.write(ZMatrix.fromDense(spark, dense), path, 10, 5, 4, 3) // 3x2 grid
    val files = new java.io.File(path).list().filterNot(_ == ".zarray")
    assert(files.toSet == Set("0.0", "0.1", "1.0", "1.1", "2.0", "2.1"))
    val back = ZLocal.toDense(Zarr.read(spark, path), 10, 5)
    assert(back.map(_.toSeq).toSeq == dense.map(_.toSeq).toSeq)
  }

  test("region update rewrites only the band's chunks, atomically, in place") {
    val path = "/root/repo/target/tmp/zarr_test_region"
    Zarr.write(ZMatrix.fromDense(spark, dense), path, 10, 5, chunkRows = 4, chunkCols = 3)
    def bytesOf(name: String): Seq[Byte] =
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path, name)).toSeq
    val untouchedBefore = bytesOf("2.0")
    val bandBefore = bytesOf("0.0")
    // assign rows [4, 8) := 1000 + old value (band-local coordinates)
    val band = ZMatrix.fromDense(spark,
      Array.tabulate(4, 5)((i, j) => 1000.0 + dense(i + 4)(j)))
    Zarr.updateRegion(band, path, rowStart = 4, bandRows = 4)
    val exp = Array.tabulate(10, 5)((i, j) =>
      if (i >= 4 && i < 8) 1000.0 + dense(i)(j) else dense(i)(j))
    val back = ZLocal.toDense(Zarr.read(spark, path), 10, 5)
    assert(back.map(_.toSeq).toSeq == exp.map(_.toSeq).toSeq)
    // chunks outside the band are bit-untouched; the band's were replaced
    assert(bytesOf("2.0") == untouchedBefore)
    assert(bytesOf("0.0") == bandBefore)
    assert(Zarr.readMeta(path).rows == 10, "region write must not grow shape")
    // misaligned band rejected before anything is written
    val err = intercept[IllegalArgumentException] {
      Zarr.updateRegion(band, path, rowStart = 2, bandRows = 4)
    }
    assert(err.getMessage.contains("chunk"))
  }

  test("region update: partial-chunk band extents rejected, ragged bottom allowed") {
    val path = "/root/repo/target/tmp/zarr_test_region_align"
    Zarr.write(ZMatrix.fromDense(spark, dense), path, 10, 5, chunkRows = 4, chunkCols = 3)
    // a band whose BOTTOM edge lands mid-chunk would fill-overwrite rows
    // [6, 8) it never addressed - rejected up front, store untouched
    val short = ZMatrix.fromDense(spark, Array.tabulate(2, 5)((_, j) => j.toDouble))
    val err = intercept[IllegalArgumentException] {
      Zarr.updateRegion(short, path, rowStart = 4, bandRows = 2)
    }
    assert(err.getMessage.contains("band end"))
    assert(ZLocal.toDense(Zarr.read(spark, path), 10, 5)
      .map(_.toSeq).toSeq == dense.map(_.toSeq).toSeq)
    // ... but a band ending exactly at the array's ragged last row is the
    // legitimate zarr shape (the store's own last chunk is partial)
    Zarr.updateRegion(short, path, rowStart = 8, bandRows = 2)
    val exp = Array.tabulate(10, 5)((i, j) => if (i >= 8) j.toDouble else dense(i)(j))
    assert(ZLocal.toDense(Zarr.read(spark, path), 10, 5)
      .map(_.toSeq).toSeq == exp.map(_.toSeq).toSeq)
    // cells outside the declared band rectangle rejected (would corrupt
    // a neighbouring chunk the caller never meant to touch)
    val oob = ZMatrix.fromDense(spark, Array.tabulate(3, 5)((i, j) => 1.0))
    val err2 = intercept[IllegalArgumentException] {
      Zarr.updateRegion(oob, path, rowStart = 8, bandRows = 2)
    }
    assert(err2.getMessage.contains("outside"))
  }

  test("region update: assigning fill CLEARS pre-existing data (stale chunk sweep)") {
    val path = "/root/repo/target/tmp/zarr_test_region_fill"
    Zarr.write(ZMatrix.fromDense(spark, dense), path, 10, 5, chunkRows = 4, chunkCols = 3)
    assert(new java.io.File(path, "1.0").exists())
    // z[4:8, :] = 0 ... as a coordinate slab that is ALL fill: no cells in
    // chunk (1,0), a 7.0 in chunk (1,1) only. Chunk (1,0) must be deleted
    // (missing chunk reads as fill), not left with its old contents.
    val cells = spark.createDataFrame(Seq((0L, 4L, 7.0))).toDF("i", "j", "v")
    Zarr.updateRegion(ZMatrix(cells), path, rowStart = 4, bandRows = 4)
    assert(!new java.io.File(path, "1.0").exists(),
      "all-fill band chunk must be deleted so old data reads as fill")
    val exp = Array.tabulate(10, 5)((i, j) =>
      if (i >= 4 && i < 8) { if (i == 4 && j == 4) 7.0 else 0.0 } else dense(i)(j))
    assert(ZLocal.toDense(Zarr.read(spark, path), 10, 5)
      .map(_.toSeq).toSeq == exp.map(_.toSeq).toSeq)
  }

  test("multi-dtype stores round-trip (f4/f2/i8/i4/i2/u2/u1/i1, both byte orders)") {
    // values 0..23: representable exactly in EVERY target dtype, including
    // u1's [0,255] range and f2's 10-bit mantissa
    val ints: Array[Array[Double]] = Array.tabulate(6, 4)((i, j) => (i * 4 + j).toDouble)
    for (dtype <- Seq("<f8", "<f4", "<f2", "<i8", "<i4", "<i2", "<u2",
                      ">f4", ">f2", ">i8", ">i2", ">u2", "|u1", "|i1")) {
      val path = s"/root/repo/target/tmp/zarr_test_dtype_${dtype.replaceAll("[<>|]", "_")}"
      Zarr.write(ZMatrix.fromDense(spark, ints), path, 6, 4, 4, 2, dtype = dtype)
      val meta = Zarr.readMeta(path)
      assert(meta.dtype == dtype)
      // chunk files shrink with narrow dtypes: full 4x2 chunk = 8 elems
      val f00 = new java.io.File(path, "0.0")
      assert(f00.length() == 8L * Zarr.elemSize(dtype))
      val back = ZLocal.toDense(ZMatrix(spark.read.format("zarr").load(path)), 6, 4)
      assert(back.map(_.toSeq).toSeq == ints.map(_.toSeq).toSeq, s"dtype $dtype")
    }
    // the v3 layout names the same dtypes (float16/int16/uint16/uint8)
    for (dtype <- Seq("<f2", "<i2", "<u2", "|u1")) {
      val p3 = s"/root/repo/target/tmp/zarr_test_dtype3_${dtype.replaceAll("[<>|]", "_")}"
      Zarr.write(ZMatrix.fromDense(spark, ints), p3, 6, 4, 4, 2, dtype = dtype, format = 3)
      assert(Zarr.readMeta(p3).dtype == dtype)
      val back = ZLocal.toDense(Zarr.read(spark, p3), 6, 4)
      assert(back.map(_.toSeq).toSeq == ints.map(_.toSeq).toSeq, s"v3 dtype $dtype")
    }
  }

  test("f2 half floats: fractions, specials, round-to-nearest-even, overflow") {
    // exactly representable halves roundtrip bit-perfectly, including
    // subnormals (2^-24) and non-finite values
    val exact: Array[Array[Double]] = Array(
      Array(0.5, -1.25, 65504.0, 5.9604644775390625e-8),
      Array(0.0, -0.0999755859375, Double.PositiveInfinity, Double.NegativeInfinity))
    val path = "/root/repo/target/tmp/zarr_test_f2_exact"
    Zarr.write(ZMatrix.fromDense(spark, exact), path, 2, 4, 2, 4, dtype = "<f2",
      fill = Double.NaN)
    val back = ZLocal.toDense(Zarr.read(spark, path), 2, 4)
    assert(back.map(_.toSeq).toSeq == exact.map(_.toSeq).toSeq)
    // unrepresentable values land on the NEAREST half (ties to even), and
    // past-range magnitudes overflow to infinity — the NumPy cast table.
    // 1 + 2^-11 + 2^-40 guards against DOUBLE ROUNDING: a float-first cast
    // would collapse it onto the tie point and round down to 1.0; the
    // single-step double→half cast sees it strictly above and rounds UP
    val cast: Array[Array[Double]] = Array(
      Array(1.0 + math.pow(2, -11), 1.0 + 3 * math.pow(2, -11),
        1.0 + math.pow(2, -11) + math.pow(2, -40), 1e6, -1e6))
    val p2 = "/root/repo/target/tmp/zarr_test_f2_cast"
    Zarr.write(ZMatrix.fromDense(spark, cast), p2, 1, 5, 1, 5, dtype = "<f2")
    val b2 = ZLocal.toDense(Zarr.read(spark, p2), 1, 5)
    assert(b2(0).toSeq == Seq(1.0, 1.0 + math.pow(2, -10) * 2, // ties → even mantissa
      1.0 + math.pow(2, -10),
      Double.PositiveInfinity, Double.NegativeInfinity), b2(0).toSeq)
  }

  test("integral dtype truncates fractional values like a NumPy C cast") {
    val frac: Array[Array[Double]] = Array(Array(1.9, -2.7), Array(0.4, 3.5))
    val path = "/root/repo/target/tmp/zarr_test_dtype_trunc"
    Zarr.write(ZMatrix.fromDense(spark, frac), path, 2, 2, 2, 2, dtype = "<i4")
    val back = ZLocal.toDense(Zarr.read(spark, path), 2, 2)
    assert(back.map(_.toSeq).toSeq == Seq(Seq(1.0, -2.0), Seq(0.0, 3.0)))
  }

  test("zarr v3 store: zarr.json metadata, c/ci/cj chunk keys, roundtrip") {
    val path = "/root/repo/target/tmp/zarr_test_v3"
    Zarr.write(ZMatrix.fromDense(spark, dense), path, 10, 5, 4, 3, format = 3)
    val json = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path, "zarr.json")), "UTF-8")
    assert(json.contains("\"zarr_format\": 3") && json.contains("\"float64\""))
    assert(json.contains("\"chunk_shape\": [4, 3]"))
    assert(new java.io.File(path, "c/0/0").isFile && new java.io.File(path, "c/2/1").isFile)
    val meta = Zarr.readMeta(path)
    assert(meta.format == 3 && meta.rows == 10 && meta.chunkCols == 3 && meta.dtype == "<f8")
    val back = ZLocal.toDense(Zarr.read(spark, path), 10, 5)
    assert(back.map(_.toSeq).toSeq == dense.map(_.toSeq).toSeq)
    // the DSv2 reader handles v3 stores too (format detection is in readMeta)
    val viaDs = ZLocal.toDense(ZMatrix(spark.read.format("zarr").load(path)), 10, 5)
    assert(viaDs.map(_.toSeq).toSeq == dense.map(_.toSeq).toSeq)
  }

  test("zarr v3 gzip codec roundtrips and differs from v2 zlib framing") {
    val p3 = "/root/repo/target/tmp/zarr_test_v3_gz"
    Zarr.write(ZMatrix.fromDense(spark, dense), p3, 10, 5, 4, 3, zlib = true, format = 3)
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(p3, "zarr.json")), "UTF-8").contains("\"gzip\""))
    // gzip magic bytes 1f 8b (v2 zlib chunks start 0x78)
    val head = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p3, "c/0/0")).take(2)
    assert((head(0) & 0xff) == 0x1f && (head(1) & 0xff) == 0x8b)
    val back = ZLocal.toDense(Zarr.read(spark, p3), 10, 5)
    assert(back.map(_.toSeq).toSeq == dense.map(_.toSeq).toSeq)
  }

  test("sharded v3 store: inner-chunk index, fill sentinels, crc, roundtrip") {
    val path = "/root/repo/target/tmp/zarr_test_v3_shard"
    // shard = 4x4 of 2x2 inner chunks; array 10x5 -> 3x2 shard grid
    Zarr.write(ZMatrix.fromDense(spark, dense), path, 10, 5, 4, 4,
      zlib = true, format = 3, innerRows = 2, innerCols = 2)
    val json = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path, "zarr.json")), "UTF-8")
    assert(json.contains("\"sharding_indexed\"") && json.contains("\"crc32c\""))
    val meta = Zarr.readMeta(path)
    assert(meta.sharded && meta.innerRows == 2 && meta.chunkRows == 4)
    // far fewer store objects than inner chunks: 6 shards vs 3x2x(2x2)=24 inner
    assert(Zarr.listChunks(path, "c/").size <= 6)
    val back = ZLocal.toDense(Zarr.read(spark, path), 10, 5)
    assert(back.map(_.toSeq).toSeq == dense.map(_.toSeq).toSeq)
    val viaDs = ZLocal.toDense(ZMatrix(spark.read.format("zarr").load(path)), 10, 5)
    assert(viaDs.map(_.toSeq).toSeq == dense.map(_.toSeq).toSeq)
  }

  test("sharded store skips all-fill inner chunks via index sentinels") {
    // only the top-left 2x2 of an 8x8 array is nonzero -> in the single
    // 8x8 shard of 4x4 inner chunks, 3 of 4 inner chunks are all-fill
    val sparse = Array.tabulate(8, 8)((i, j) => if (i < 2 && j < 2) 5.0 else 0.0)
    val path = "/root/repo/target/tmp/zarr_test_v3_shard_sparse"
    Zarr.write(ZMatrix.fromDense(spark, sparse).cells match {
      case c => ZMatrix(c.filter(org.apache.spark.sql.functions.col("v") =!= 0.0))
    }, path, 8, 8, 8, 8, format = 3, innerRows = 4, innerCols = 4)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path, "c/0/0"))
    val idx = java.nio.ByteBuffer.wrap(bytes, bytes.length - 4 - 64, 64)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val entries = (0 until 4).map(_ => (idx.getLong(), idx.getLong()))
    assert(entries.count(_._1 == -1L) == 3, s"expected 3 fill sentinels in $entries")
    val back = ZLocal.toDense(Zarr.read(spark, path), 8, 8)
    assert(back.map(_.toSeq).toSeq == sparse.map(_.toSeq).toSeq)
    // corrupting the index must be detected by the crc
    bytes(bytes.length - 10) = (bytes(bytes.length - 10) ^ 0x01).toByte
    intercept[IllegalArgumentException] {
      Zarr.decodeShard(bytes, 8, 8, 4, 4, "<f8", zlib = false, fill = 0.0)
    }
  }

  test("store I/O accepts scheme-qualified URIs (file://) via the Hadoop FS API") {
    val path = "file:///root/repo/target/tmp/zarr_test_uri"
    Zarr.write(ZMatrix.fromDense(spark, dense), path, 10, 5, 4, 3, format = 3)
    assert(Zarr.readMeta(path).rows == 10)
    val back = ZLocal.toDense(Zarr.read(spark, path), 10, 5)
    assert(back.map(_.toSeq).toSeq == dense.map(_.toSeq).toSeq)
    // and through the DSv2 reader
    val viaDs = ZLocal.toDense(ZMatrix(spark.read.format("zarr").load(path)), 10, 5)
    assert(viaDs.map(_.toSeq).toSeq == dense.map(_.toSeq).toSeq)
  }

  test("v3 transpose codec (F-order chunks): bytes differ, values roundtrip") {
    val pC = "/root/repo/target/tmp/zarr_test_v3_corder"
    val pF = "/root/repo/target/tmp/zarr_test_v3_forder"
    Zarr.write(ZMatrix.fromDense(spark, dense), pC, 10, 5, 4, 3, format = 3)
    Zarr.write(ZMatrix.fromDense(spark, dense), pF, 10, 5, 4, 3, format = 3, fOrder = true)
    val json = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(pF, "zarr.json")), "UTF-8")
    assert(json.contains("\"transpose\"") && json.contains("[1, 0]"))
    assert(Zarr.readMeta(pF).fOrder && !Zarr.readMeta(pC).fOrder)
    // stored layouts differ, decoded values agree
    def chunk(p: String) = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(p, "c/0/0")).toSeq
    assert(chunk(pC) != chunk(pF))
    val back = ZLocal.toDense(Zarr.read(spark, pF), 10, 5)
    assert(back.map(_.toSeq).toSeq == dense.map(_.toSeq).toSeq)
    val viaDs = ZLocal.toDense(ZMatrix(spark.read.format("zarr").load(pF)), 10, 5)
    assert(viaDs.map(_.toSeq).toSeq == dense.map(_.toSeq).toSeq)
    // and composed with sharding (transpose inside the shard's codec chain)
    val pS = "/root/repo/target/tmp/zarr_test_v3_forder_shard"
    Zarr.write(ZMatrix.fromDense(spark, dense), pS, 10, 5, 4, 4,
      format = 3, innerRows = 2, innerCols = 2, fOrder = true)
    val backS = ZLocal.toDense(Zarr.read(spark, pS), 10, 5)
    assert(backS.map(_.toSeq).toSeq == dense.map(_.toSeq).toSeq)
  }

  test("v2 interop: zarr-python nested layout (dimension_separator '/', null fill)") {
    val src = "/root/repo/target/tmp/zarr_test_v2_flat_src"
    Zarr.write(ZMatrix.fromDense(spark, dense), src, 10, 5, 4, 3)
    // rebuild the store as zarr-python with NestedDirectoryStore writes it:
    // chunk keys "ci/cj", dimension_separator declared, fill_value null
    val path = "/root/repo/target/tmp/zarr_test_v2_nested"
    Zarr.delete(path, recursive = true)
    for ((ci, cj) <- Zarr.listChunks(src, "flat"))
      Zarr.writeBytes(s"$path/$ci/$cj", Zarr.readBytes(s"$src/$ci.$cj"))
    val zarray =
      """{"chunks": [4, 3], "compressor": null, "dimension_separator": "/",
        | "dtype": "<f8", "fill_value": null, "filters": null, "order": "C",
        | "shape": [10, 5], "zarr_format": 2}""".stripMargin
    Zarr.writeBytes(s"$path/.zarray", zarray.getBytes("UTF-8"))
    val meta = Zarr.readMeta(path)
    assert(meta.keyEnc == "nested" && meta.fill == 0.0 && !meta.zlib)
    val back = ZLocal.toDense(Zarr.read(spark, path), 10, 5)
    assert(back.map(_.toSeq).toSeq == dense.map(_.toSeq).toSeq)
    val viaDs = ZLocal.toDense(ZMatrix(spark.read.format("zarr").load(path)), 10, 5)
    assert(viaDs.map(_.toSeq).toSeq == dense.map(_.toSeq).toSeq)
  }

  test("v2 metadata: unsupported compressor/order/filters are hard errors") {
    val path = "/root/repo/target/tmp/zarr_test_v2_badmeta"
    Zarr.write(ZMatrix.fromDense(spark, dense), path, 10, 5, 4, 3)
    def withMeta(json: String): Zarr.Meta = {
      Zarr.writeBytes(s"$path/.zarray", json.getBytes("UTF-8"))
      Zarr.readMeta(path)
    }
    def base(compressor: String, order: String) =
      s"""{"chunks": [4, 3], "compressor": $compressor, "dtype": "<f8",
         | "fill_value": 0.0, "filters": null, "order": "$order",
         | "shape": [10, 5], "zarr_format": 2}""".stripMargin
    val e1 = intercept[IllegalArgumentException](withMeta(base("""{"id": "lzma"}""", "C")))
    assert(e1.getMessage.contains("lzma"))
    // "F" is VALID (read via the transpose path); only unknown orders error
    assert(withMeta(base("null", "F")).fOrder)
    val e2 = intercept[IllegalArgumentException](withMeta(base("null", "Z")))
    assert(e2.getMessage.contains("order"))
    // restore a valid store for any later test reusing the path
    assert(withMeta(base("null", "C")).fill == 0.0)
  }

  test("v2 F-order store (foreign column-major writer) reads back correctly") {
    import java.nio.{ByteBuffer, ByteOrder}
    val path = "/root/repo/target/tmp/zarr_test_v2_forder"
    new java.io.File(path).mkdirs()
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$path/.zarray"),
      """{"chunks": [4, 3], "compressor": null, "dtype": "<f8",
        |"fill_value": 0.0, "filters": null, "order": "F",
        |"shape": [4, 3], "zarr_format": 2}""".stripMargin.getBytes("UTF-8"))
    val d = Array.tabulate(4, 3)((i, j) => (i * 10 + j).toDouble)
    // column-major (Fortran) byte layout: j outer, i inner
    val buf = ByteBuffer.allocate(4 * 3 * 8).order(ByteOrder.LITTLE_ENDIAN)
    for (j <- 0 until 3; i <- 0 until 4) buf.putDouble(d(i)(j))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$path/0.0"), buf.array())
    val back = ZLocal.toDense(Zarr.read(spark, path), 4, 3)
    assert(back.map(_.toSeq).toSeq == d.map(_.toSeq).toSeq)
    // the WRITE side refuses F-order for v2 BEFORE truncating anything:
    // the pre-existing store must survive the failed attempt intact
    val e = intercept[IllegalArgumentException](
      Zarr.write(ZMatrix.fromDense(spark, dense), path, 10, 5, 4, 3, fOrder = true))
    assert(e.getMessage.contains("v3-only"))
    assert(ZLocal.toDense(Zarr.read(spark, path), 4, 3)
      .map(_.toSeq).toSeq == d.map(_.toSeq).toSeq, "failed write damaged the store")
  }

  test("v3 interop: '.'-separator and v2-style chunk key encodings read back") {
    val src = "/root/repo/target/tmp/zarr_test_v3_keysrc"
    Zarr.write(ZMatrix.fromDense(spark, dense), src, 10, 5, 4, 3, format = 3)
    val srcJson = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(src, "zarr.json")), "UTF-8")
    // (keyEnc json, layout path builder) for the three encodings we don't
    // write — with the two v2-format layouts (flat, nested) this completes
    // all SIX readable chunk-key encodings
    val variants = Seq(
      ("""{"name": "default", "configuration": {"separator": "."}}""",
        (ci: Long, cj: Long) => s"c.$ci.$cj"),
      ("""{"name": "v2", "configuration": {"separator": "/"}}""",
        (ci: Long, cj: Long) => s"$ci/$cj"),
      ("""{"name": "v2", "configuration": {"separator": "."}}""",
        (ci: Long, cj: Long) => s"$ci.$cj"))
    for (((enc, key), n) <- variants.zipWithIndex) {
      val path = s"/root/repo/target/tmp/zarr_test_v3_keyvar$n"
      Zarr.delete(path, recursive = true)
      for ((ci, cj) <- Zarr.listChunks(src, "c/"))
        Zarr.writeBytes(s"$path/${key(ci, cj)}", Zarr.readBytes(s"$src/c/$ci/$cj"))
      Zarr.writeBytes(s"$path/zarr.json", srcJson.replace(
        """{"name": "default", "configuration": {"separator": "/"}}""",
        enc).getBytes("UTF-8"))
      val back = ZLocal.toDense(Zarr.read(spark, path), 10, 5)
      assert(back.map(_.toSeq).toSeq == dense.map(_.toSeq).toSeq, s"variant $enc")
      val viaDs = ZLocal.toDense(ZMatrix(spark.read.format("zarr").load(path)), 10, 5)
      assert(viaDs.map(_.toSeq).toSeq == dense.map(_.toSeq).toSeq, s"variant $enc (DSv2)")
    }
  }

  test("non-finite fill_value round-trips as the spec's strings in both formats") {
    val sparse = ZMatrix.fromDense(spark, dense).slice(0, 10, 0, 2) // cols 2..4 absent
    for (fmt <- Seq(2, 3)) {
      val path = s"/root/repo/target/tmp/zarr_test_nanfill_v$fmt"
      Zarr.write(sparse, path, 10, 5, 4, 3, fill = Double.NaN, format = fmt)
      val metaFile = if (fmt == 3) "zarr.json" else ".zarray"
      val json = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path, metaFile)), "UTF-8")
      assert(json.contains("\"fill_value\": \"NaN\""), s"v$fmt wrote: $json")
      assert(Zarr.readMeta(path).fill.isNaN)
      val back = ZLocal.toDense(Zarr.read(spark, path), 10, 5)
      assert(back(3)(1) == dense(3)(1))
      assert(back(0)(4).isNaN) // chunk col 1 absent -> fill
    }
  }

  test("v3 metadata parse is key-order independent (external-writer interop)") {
    val path = "/root/repo/target/tmp/zarr_test_v3_reorder"
    Zarr.write(ZMatrix.fromDense(spark, dense), path, 10, 5, 4, 3,
      zlib = true, format = 3, dtype = ">i4", fOrder = true)
    val want = Zarr.readMeta(path)
    // rewrite zarr.json as another conforming writer might: keys reordered,
    // codec configuration before name, extra whitespace
    val reordered =
      """{
        |  "attributes": {},
        |  "fill_value": 0,
        |  "codecs": [
        |    {"configuration": {"order": [1, 0]}, "name": "transpose"},
        |    {"configuration": {"endian": "big"}, "name": "bytes"},
        |    {"name": "gzip", "configuration": {"level": 1}}
        |  ],
        |  "chunk_key_encoding": {"configuration": {"separator": "/"}, "name": "default"},
        |  "data_type": "int32",
        |  "chunk_grid": {"configuration": {"chunk_shape": [4, 3]}, "name": "regular"},
        |  "node_type": "array",
        |  "shape": [10, 5],
        |  "zarr_format": 3
        |}""".stripMargin
    java.nio.file.Files.write(java.nio.file.Paths.get(path, "zarr.json"),
      reordered.getBytes("UTF-8"))
    assert(Zarr.readMeta(path) == want)
    val back = ZLocal.toDense(Zarr.read(spark, path), 10, 5)
    assert(back.map(_.toSeq).toSeq == dense.map(_.toSeq).toSeq)
  }

  test("array metadata: parse(emit(m)) == m and emit is a fixed point over the writable grid") {
    import graft.zarr.ZarrMeta
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val numeric = Seq("<f8", "<f4", "<f2", "<i8", "|u1", "|b1", ">f8")
    val kinds = numeric ++ Seq(ZarrMeta.StringDtype, "<M8[ns]", "<m8[ns]")
    // (numeric fill, time fill); NaT and 2^53 + 1 must survive exactly
    def fills(dtype: String): Seq[(Double, Long)] =
      if (ZarrMeta.TimeDtypes.contains(dtype))
        Seq(0L, 7L, Long.MinValue, (1L << 53) + 1).map(t => (0.0, t))
      else if (dtype == ZarrMeta.StringDtype) Seq((0.0, 0L))
      else if (dtype.endsWith("b1")) Seq((0.0, 0L), (1.0, 0L))
      else if (dtype.endsWith("u1")) Seq((0.0, 0L), (7.0, 0L))
      else if (dtype.endsWith("i8")) Seq((0.0, 0L), (-3.0, 0L))
      else Seq(0.0, -1.25, Double.NaN, Double.NegativeInfinity).map((_, 0L))
    var points = 0
    for {
      format <- Seq(2, 3)
      dtype <- kinds
      (zlib, comp) <- Seq((false, ""), (true, ""), (false, "blosc"), (false, "zstd"))
      (fill, timeFill) <- fills(dtype)
      // string and time arrays are rank-1 only
      rank <- if (numeric.contains(dtype)) 1 to 4 else 1 to 1
      keyEnc <- if (format == 2) Seq("flat", "nested") else Seq("c/", "c.", "nested", "flat")
      fOrder <- if (rank > 1 && numeric.contains(dtype)) Seq(false, true) else Seq(false)
      inner <- if (format == 3 && rank > 1 && numeric.contains(dtype)) Seq(Nil, List.fill(rank)(2))
               else Seq(Nil)
    } {
      val m = ZarrMeta((1 to rank).map(d => 10L * d + 3).toList, List.fill(rank)(4),
        dtype, zlib, comp, fill, timeFill, format, fOrder, keyEnc, inner)
      val doc = ZarrMeta.emit(m)
      val back = ZarrMeta.parse(mapper.readTree(doc), "fixture")
      assert(back.copy(fill = 0.0) == m.copy(fill = 0.0) &&
        (back.fill == m.fill || (back.fill.isNaN && m.fill.isNaN)),
        s"emitted $m, parsed $back from\n$doc")
      assert(ZarrMeta.emit(back) == doc, s"emit is not a fixed point for $m")
      points += 1
    }
    assert(points > 1000, s"grid covered only $points points")
  }

  test("v3 fill_value is an integer literal for integer dtypes") {
    val path = "/root/repo/target/tmp/zarr_test_v3_intfill"
    Zarr.write(ZMatrix.fromDense(spark, dense), path, 10, 5, 4, 3,
      format = 3, dtype = "<i8", fill = 7.0)
    val json = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path, "zarr.json")), "UTF-8")
    assert(json.contains("\"fill_value\": 7") && !json.contains("\"fill_value\": 7.0"))
    assert(Zarr.readMeta(path).fill == 7.0)
  }

  test("unknown v3 codec is a hard error, not silent misdecode") {
    val path = "/root/repo/target/tmp/zarr_test_v3_badcodec"
    Zarr.write(ZMatrix.fromDense(spark, dense), path, 10, 5, 4, 3, format = 3)
    val p = java.nio.file.Paths.get(path, "zarr.json")
    val json = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      .replace("\"name\": \"bytes\"", "\"name\": \"zfp\"")
    java.nio.file.Files.write(p, json.getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException](Zarr.readMeta(path))
    assert(e.getMessage.contains("zfp"))
  }

  test("column pruning: value-pruned scans never open chunk files") {
    import org.apache.spark.sql.functions.col
    val path = "/root/repo/target/tmp/zarr_test_prune_cols"
    Zarr.write(ZMatrix.fromDense(spark, dense), path, 10, 5, 4, 3, zlib = true)
    // corrupt a chunk on disk: any scan that decodes it must fail…
    java.nio.file.Files.write(java.nio.file.Paths.get(path, "0.0"),
      Array[Byte](1, 2, 3))
    val df = spark.read.format("zarr").load(path)
    // …so a correct count(*)/coordinate result PROVES no decode happened
    assert(df.count() == 50L)
    val coords = df.select(col("i"), col("j")).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(coords.length == 50 && coords.contains((0L, 0L)) && coords.contains((9L, 4L)))
    intercept[Exception](df.select(col("v")).collect()) // v DOES decode → corrupt fails
    // restore for any later test reusing the path
    Zarr.write(ZMatrix.fromDense(spark, dense), path, 10, 5, 4, 3, zlib = true)
  }

  test("scan reports exact statistics from grid metadata (broadcast sizing)") {
    val path = "/root/repo/target/tmp/zarr_test_stats"
    Zarr.write(ZMatrix.fromDense(spark, dense), path, 10, 5, 4, 3)
    val stats = spark.read.format("zarr").load(path)
      .queryExecution.optimizedPlan.stats
    // dense semantics: exactly rows*cols cells, 8 bytes per column value
    assert(stats.rowCount.contains(BigInt(50)), s"rowCount=${stats.rowCount}")
    assert(stats.sizeInBytes == BigInt(50 * 8 * 3), s"sizeInBytes=${stats.sizeInBytes}")
  }

  test("append mode: disjoint chunk sets accumulate (incremental ingestion)") {
    import org.apache.spark.sql.functions.col
    val path = "/root/repo/target/tmp/zarr_test_append"
    Zarr.delete(path, recursive = true)
    def slab(r0: Int, r1: Int) = ZMatrix.fromDense(spark, dense).cells
      .filter(col("i") >= r0.toLong && col("i") < r1.toLong)
      .select((col("i") / 5).cast("long").as("ci"), (col("j") / 3).cast("long").as("cj"),
        col("i"), col("j"), col("v"))
      .write.format("zarr")
      .option("chunkRows", "5").option("chunkCols", "3")
      .option("rows", "10").option("cols", "5") // fixed shape: appends can't shrink it
      .mode("append").save(path)
    slab(0, 5)  // chunk row 0
    slab(5, 10) // chunk row 1 — a later ingestion job, same store
    val back = ZLocal.toDense(Zarr.read(spark, path), 10, 5)
    assert(back.map(_.toSeq).toSeq == dense.map(_.toSeq).toSeq)
  }

  test("append validates against existing store metadata; shape only grows") {
    import org.apache.spark.sql.functions.col
    val path = "/root/repo/target/tmp/zarr_test_append_guard"
    Zarr.write(ZMatrix.fromDense(spark, dense), path, 10, 5, 4, 3) // overwrite, 10x5
    def append(chunkRows: Int, rows: Seq[Int]) = ZMatrix.fromDense(spark, dense).cells
      .filter(col("i").isin(rows.map(_.toLong): _*))
      .select((col("i") / chunkRows).cast("long").as("ci"), (col("j") / 3).cast("long").as("cj"),
        col("i"), col("j"), col("v"))
      .write.format("zarr")
      .option("chunkRows", chunkRows.toString).option("chunkCols", "3")
      .mode("append").save(path)
    // mismatched chunk geometry must be rejected before any task writes
    val e = intercept[Exception](append(5, 0 to 4))
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
    assert(chain.contains("append requires matching"), chain)
    // compatible append of a 4-row slab with NO rows/cols options: the
    // store keeps its existing 10x5 shape (inference cannot shrink it)
    append(4, 0 to 3)
    val meta = Zarr.readMeta(path)
    assert(meta.rows == 10 && meta.cols == 5)
    val back = ZLocal.toDense(Zarr.read(spark, path), 10, 5)
    assert(back.map(_.toSeq).toSeq == dense.map(_.toSeq).toSeq)
  }

  test("overwrite truncates chunks of every interop key layout") {
    val path = "/root/repo/target/tmp/zarr_test_truncate_interop"
    Zarr.delete(path, recursive = true)
    // plant stale chunks in all three non-written layouts + an orphan temp
    Zarr.writeBytes(s"$path/0/0", Array[Byte](1, 2, 3))     // nested v2
    Zarr.writeBytes(s"$path/c.0.0", Array[Byte](1, 2, 3))   // v3 '.' keys
    Zarr.writeBytes(s"$path/c/0/0", Array[Byte](1, 2, 3))   // v3 tree
    Zarr.writeBytes(s"$path/0.0.__tmp-9", Array[Byte](1))   // crashed attempt
    Zarr.write(ZMatrix.fromDense(spark, dense), path, 10, 5, 4, 3) // overwrite
    val names = Zarr.listNames(path).toSet
    assert(!names.contains("0") && !names.contains("c.0.0") && !names.contains("c") &&
      !names.exists(_.contains("__tmp")), s"stale layout survived: $names")
    val back = ZLocal.toDense(Zarr.read(spark, path), 10, 5)
    assert(back.map(_.toSeq).toSeq == dense.map(_.toSeq).toSeq)
  }

  test("speculative attempts: losing abort after winner commit keeps all chunks") {
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.types.DoubleType
    import graft.sources.{ZarrBatchWrite, ZarrWriteConf, ZarrWriterFactory}
    val path = "/root/repo/target/tmp/zarr_test_speculation"
    Zarr.delete(path, recursive = true)
    val conf = ZarrWriteConf(path, 4, 3, Some(10L), Some(5L), "<f8",
      zlib = false, fill = 0.0, ciIdx = 0, cjIdx = 1, iIdx = 2, jIdx = 3, vIdx = 4)
    val factory = ZarrWriterFactory(conf, DoubleType)
    // two attempts of the SAME partition, as under speculation/retry
    val winner = factory.createWriter(0, taskId = 1L)
    val loser = factory.createWriter(0, taskId = 2L)
    // the DSv2 contract (RequiresDistributionAndOrdering) delivers rows
    // sorted by (ci, cj) — replicate that here
    val rows = (for { i <- 0L until 10L; j <- 0L until 5L } yield (i, j))
      .sortBy { case (i, j) => (i / 4, j / 3) }
      .map { case (i, j) =>
        new GenericInternalRow(Array[Any](i / 4, j / 3, i, j, dense(i.toInt)(j.toInt)))
      }
    rows.foreach(winner.write)
    rows.foreach(loser.write)
    val msg = winner.commit()
    loser.abort() // AFTER winner's commit — must not delete published chunks
    new ZarrBatchWrite(conf, DoubleType, truncate = false).commit(Array(msg))
    val back = ZLocal.toDense(Zarr.read(spark, path), 10, 5)
    assert(back.map(_.toSeq).toSeq == dense.map(_.toSeq).toSeq)
    // no attempt-temp litter survives either path
    assert(Zarr.listNames(path).forall(n => !n.contains("__tmp")))
  }

  test("overwriting a v3 store with a v2 store clears the v3 chunk tree") {
    val path = "/root/repo/target/tmp/zarr_test_v3_to_v2"
    Zarr.write(ZMatrix.fromDense(spark, dense), path, 10, 5, 4, 3, format = 3)
    Zarr.write(ZMatrix.fromDense(spark, dense), path, 10, 5, 5, 5, format = 2)
    assert(!new java.io.File(path, "zarr.json").exists())
    assert(!new java.io.File(path, "c").exists())
    val back = ZLocal.toDense(Zarr.read(spark, path), 10, 5)
    assert(back.map(_.toSeq).toSeq == dense.map(_.toSeq).toSeq)
  }

  test("group navigation: anndata-style store — X array + nested obsm key") {
    val path = "/root/repo/target/tmp/zarr_test_group"
    Zarr.delete(path, recursive = true)
    val m = ZMatrix.fromDense(spark, dense)
    // from_zarr's entry shape: the matrix lives at key X inside the group
    Zarr.write(m, s"$path#X", 10, 5, 4, 3)
    Zarr.write(m, s"$path#obsm/X_pca", 10, 5, 4, 3) // nested two levels
    // the write produced a CONFORMING v2 hierarchy (navigable by zarr-python)
    assert(Zarr.isGroupNode(path), "root group metadata missing")
    assert(Zarr.exists(s"$path/.zgroup") && Zarr.exists(s"$path/obsm/.zgroup"))
    assert(Zarr.groupKeys(path) == Seq("X", "obsm"))
    assert(Zarr.groupKeys(s"$path/obsm") == Seq("X_pca"))
    // all four addressing forms agree
    val want = dense.map(_.toSeq).toSeq
    assert(ZLocal.toDense(Zarr.read(spark, s"$path#X"), 10, 5).map(_.toSeq).toSeq == want)
    assert(ZLocal.toDense(Zarr.read(spark, path, "X"), 10, 5).map(_.toSeq).toSeq == want)
    assert(ZLocal.toDense(ZMatrix(spark.read.format("zarr")
      .option("key", "obsm/X_pca").load(path)), 10, 5).map(_.toSeq).toSeq == want)
    assert(ZLocal.toDense(Zarr.read(spark, s"$path/obsm/X_pca"), 10, 5)
      .map(_.toSeq).toSeq == want) // direct array dir still works
  }

  test("group navigation errors name the available keys") {
    val path = "/root/repo/target/tmp/zarr_test_group_err"
    Zarr.delete(path, recursive = true)
    Zarr.write(ZMatrix.fromDense(spark, dense), s"$path#X", 10, 5, 4, 3)
    // group root without a key: both resolution and raw metadata read self-document
    val e1 = intercept[IllegalArgumentException](Zarr.resolveArray(path))
    assert(e1.getMessage.contains("available keys: X"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](Zarr.readMeta(path))
    assert(e2.getMessage.contains("GROUP") && e2.getMessage.contains("X"), e2.getMessage)
    // missing key lists the candidates; the DSv2 path surfaces the same error
    val e3 = intercept[IllegalArgumentException](Zarr.resolveArray(s"$path#layers/counts"))
    assert(e3.getMessage.contains("available keys: X"), e3.getMessage)
    val e4 = intercept[Throwable](spark.read.format("zarr").load(path).collect())
    assert(e4.toString.contains("GROUP") || Option(e4.getCause).exists(_.toString.contains("GROUP")),
      s"DSv2 group error lost: $e4")
    // a key addressing a sub-group (not an array) is rejected too
    Zarr.write(ZMatrix.fromDense(spark, dense), s"$path#obsm/X_pca", 10, 5, 4, 3)
    val e5 = intercept[IllegalArgumentException](Zarr.resolveArray(s"$path#obsm"))
    assert(e5.getMessage.contains("sub-GROUP") && e5.getMessage.contains("X_pca"), e5.getMessage)
    // writing a key UNDER an existing array is refused — both the direct
    // form (array as the address root) and the nested form (array as an
    // intermediate key segment)
    val e6 = intercept[Throwable](
      Zarr.write(ZMatrix.fromDense(spark, dense), s"$path/X#nested", 10, 5, 4, 3))
    assert(e6.toString.contains("ARRAY") || Option(e6.getCause).exists(_.toString.contains("ARRAY")),
      s"array-root write error lost: $e6")
    val e7 = intercept[Throwable](
      Zarr.write(ZMatrix.fromDense(spark, dense), s"$path#X/nested", 10, 5, 4, 3))
    assert(e7.toString.contains("ARRAY") || Option(e7.getCause).exists(_.toString.contains("ARRAY")),
      s"array-prefix write error lost: $e7")
  }

  test("consolidated metadata: .zmetadata form, one-read navigation, write refresh") {
    val path = "/root/repo/target/tmp/zarr_test_consolidated"
    Zarr.delete(path, recursive = true)
    val m = ZMatrix.fromDense(spark, dense)
    Zarr.write(m, s"$path#X", 10, 5, 4, 3)
    Zarr.write(m, s"$path#obsm/X_pca", 10, 5, 4, 3)
    Zarr.consolidateMetadata(path)
    val json = new String(Zarr.readBytes(s"$path/.zmetadata"), "UTF-8")
    // the zarr-python open_consolidated form: version marker + per-node keys
    assert(json.contains("\"zarr_consolidated_format\" : 1") ||
      json.contains("\"zarr_consolidated_format\":1"), json)
    Seq("\".zgroup\"", "\"X/.zarray\"", "\"obsm/.zgroup\"", "\"obsm/X_pca/.zarray\"")
      .foreach(k => assert(json.contains(k), s"missing $k in:\n$json"))
    // a group-addressed write into a consolidated store refreshes it
    Zarr.write(m, s"$path#layers/counts", 10, 5, 4, 3)
    val refreshed = new String(Zarr.readBytes(s"$path/.zmetadata"), "UTF-8")
    assert(refreshed.contains("\"layers/counts/.zarray\""), refreshed)
    // ...and so does a KEYLESS direct-path write inside the hierarchy
    Zarr.write(m, s"$path/raw", 10, 5, 4, 3)
    val refreshed2 = new String(Zarr.readBytes(s"$path/.zmetadata"), "UTF-8")
    assert(refreshed2.contains("\"raw/.zarray\""), refreshed2)
    // navigation runs off the ONE consolidated read: delete a sub-group's
    // own .zgroup — per-level probing would now fail, the map must not
    Zarr.delete(s"$path/obsm/.zgroup")
    assert(Zarr.resolveArray(s"$path#obsm/X_pca") == s"$path/obsm/X_pca")
    val want = dense.map(_.toSeq).toSeq
    assert(ZLocal.toDense(Zarr.read(spark, s"$path#obsm/X_pca"), 10, 5)
      .map(_.toSeq).toSeq == want)
    // error listings come from the consolidated map too
    val e = intercept[IllegalArgumentException](Zarr.resolveArray(path))
    assert(e.getMessage.contains("X") && e.getMessage.contains("obsm") &&
      e.getMessage.contains("layers"), e.getMessage)
  }

  test("rank-1 arrays: v2/v3 roundtrip, fill gaps, 1-element metadata, bare keys") {
    import spark.implicits._
    // 23 values, chunk 10 → chunks 0,1,2; drop indices 10-19 so chunk 1 is
    // absent from the store and must materialize as fill
    val vec = (0L until 23L).filterNot(i => i >= 10 && i < 20)
      .map(i => (i, i * 1.5)).toDF("i", "v")
    for (fmt <- Seq(2, 3)) {
      val path = s"/root/repo/target/tmp/zarr_test_vec_v$fmt"
      Zarr.delete(path, recursive = true)
      Zarr.writeVector(vec, path, n = 23, chunk = 10, fill = -1.0, format = fmt,
        zlib = fmt == 3)
      val meta = Zarr.readMeta(path)
      assert(meta.rank1 && meta.rows == 23 && meta.cols == 1 && meta.chunkCols == 1)
      // metadata carries 1-element shape/chunks (what zarr-python writes/reads)
      val metaFile = if (fmt == 3) "zarr.json" else ".zarray"
      val json = new String(Zarr.readBytes(s"$path/$metaFile"), "UTF-8")
      assert(json.contains("[23]"), json)
      assert(json.contains("[10]"), json)
      // chunk keys have ONE component
      if (fmt == 2)
        assert(new java.io.File(path).list().filter(_.matches("\\d+")).toSet
          == Set("0", "2"))
      else
        assert(new java.io.File(s"$path/c").list().toSet == Set("0", "2"))
      val back = Zarr.readVector(spark, path).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(back.size == 23)
      (0L until 23L).foreach { i =>
        val want = if (i >= 10 && i < 20) -1.0 else i * 1.5
        assert(back(i) == want, s"index $i")
      }
    }
  }

  test("rank-1 arrays: anndata-style obs column inside a group, 2-D guard") {
    import spark.implicits._
    val path = "/root/repo/target/tmp/zarr_test_vec_group"
    Zarr.delete(path, recursive = true)
    Zarr.write(ZMatrix.fromDense(spark, dense), s"$path#X", 10, 5, 4, 3)
    val obs = (0L until 10L).map(i => (i, i * 2.0)).toDF("i", "v")
    Zarr.writeVector(obs, s"$path#obs/total_counts", n = 10, chunk = 4)
    // group metadata exists at both levels; vector readable by key
    assert(Zarr.isGroupNode(path) && Zarr.isGroupNode(s"$path/obs"))
    val got = Zarr.readVector(spark, path, "obs/total_counts").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == (0L until 10L).map(i => i -> i * 2.0).toMap)
    // readVector refuses a 2-D array instead of silently dropping j
    val e = intercept[IllegalArgumentException](Zarr.readVector(spark, path, "X"))
    assert(e.getMessage.contains("2-D"), e.getMessage)
    // a foreign 1-D v2 store with bare-index keys reads through the same path
    val foreign = "/root/repo/target/tmp/zarr_test_vec_foreign"
    Zarr.delete(foreign, recursive = true)
    Zarr.writeBytes(s"$foreign/.zarray",
      """{"chunks": [4], "compressor": null, "dtype": "<f8", "fill_value": 0.0,
        |"filters": null, "order": "C", "shape": [6], "zarr_format": 2}""".stripMargin
        .getBytes("UTF-8"))
    val buf = java.nio.ByteBuffer.allocate(32).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    Seq(1.0, 2.0, 3.0, 4.0).foreach(buf.putDouble)
    Zarr.writeBytes(s"$foreign/0", buf.array())
    val buf2 = java.nio.ByteBuffer.allocate(32).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    Seq(5.0, 6.0, 0.0, 0.0).foreach(buf2.putDouble)
    Zarr.writeBytes(s"$foreign/1", buf2.array())
    val fgot = Zarr.readVector(spark, foreign).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(fgot == Map(0L -> 1.0, 1L -> 2.0, 2L -> 3.0, 3L -> 4.0, 4L -> 5.0, 5L -> 6.0))
  }

  test("bool dtype (|b1): roundtrip both formats, spec boolean fill, 1 byte/elem") {
    import spark.implicits._
    val mask = Seq((0L, 1.0), (1L, 0.0), (2L, 1.0), (3L, 1.0), (4L, 0.0))
      .toDF("i", "v")
    for (fmt <- Seq(2, 3)) {
      val path = s"/root/repo/target/tmp/zarr_test_bool_v$fmt"
      Zarr.delete(path, recursive = true)
      Zarr.writeVector(mask, path, n = 5, chunk = 3, dtype = "|b1", format = fmt)
      val meta = Zarr.readMeta(path)
      assert(meta.dtype == "|b1" && meta.rank1)
      // metadata carries the spec's BOOLEAN fill literal and dtype name
      val json = new String(Zarr.readBytes(
        s"$path/${if (fmt == 3) "zarr.json" else ".zarray"}"), "UTF-8")
      assert(json.contains("false"), json)
      assert(json.contains(if (fmt == 3) "\"bool\"" else "|b1"), json)
      // chunk payload is one byte per element
      val chunk0 = Zarr.readBytes(Zarr.chunkPath(path, 0, 0,
        Zarr.writeKeyEnc(fmt), rank1 = true))
      assert(chunk0.length == 3, s"expected 3 bytes, got ${chunk0.length}")
      val back = Zarr.readVector(spark, path).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(back == Map(0L -> 1.0, 1L -> 0.0, 2L -> 1.0, 3L -> 1.0, 4L -> 0.0))
    }
    // 2-D bool masks work through the same dtype (X > 0 masks)
    val path2 = "/root/repo/target/tmp/zarr_test_bool_2d"
    Zarr.delete(path2, recursive = true)
    val m = ZMatrix.fromDense(spark, dense).gt(25.0)
    Zarr.write(m, path2, 10, 5, 4, 3, dtype = "|b1")
    val back2 = ZLocal.toDense(Zarr.read(spark, path2), 10, 5)
    for (i <- 0 until 10; j <- 0 until 5)
      assert(back2(i)(j) == (if (dense(i)(j) > 25.0) 1.0 else 0.0))
  }

  test("attributes: v2 .zattrs / v3 inline roundtrip, categorical column read") {
    import spark.implicits._
    val path = "/root/repo/target/tmp/zarr_test_attrs"
    Zarr.delete(path, recursive = true)
    // v2: codes vector + categories attr = an anndata categorical column
    val codes = Seq((0L, 0.0), (1L, 2.0), (2L, 1.0), (3L, 0.0)).toDF("i", "v")
    Zarr.writeVector(codes, s"$path#obs/cell_type", n = 4, chunk = 2, dtype = "<i4")
    Zarr.writeAttrs(s"$path#obs/cell_type",
      """{"categories": ["B", "T", "NK"], "ordered": false}""")
    val attrs = Zarr.readAttrs(s"$path#obs/cell_type")
    assert(attrs.path("categories").size() == 3 && !attrs.path("ordered").asBoolean(true))
    val got = Zarr.readCategorical(spark, path, "obs/cell_type").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(0L -> "B", 1L -> "NK", 2L -> "T", 3L -> "B"))
    // v3: attributes live INSIDE zarr.json (no stray .zattrs file)
    val p3 = "/root/repo/target/tmp/zarr_test_attrs_v3"
    Zarr.delete(p3, recursive = true)
    Zarr.writeVector(codes, s"$p3#obs/batch", n = 4, chunk = 2, dtype = "<i4", format = 3)
    Zarr.writeAttrs(s"$p3#obs/batch", """{"categories": ["a", "b", "c"]}""")
    assert(!Zarr.exists(s"$p3/obs/batch/.zattrs"))
    assert(Zarr.readAttrs(s"$p3#obs/batch").path("categories").get(0).asText() == "a")
    assert(Zarr.readCategorical(spark, p3, "obs/batch").collect().length == 4)
    // out-of-range code fails fast with an explicit error (ANSI or not),
    // not a silent null label — and with the same exception class and
    // message from both categorical readers
    def bothReaders(root: String, key: String): (String, String) = {
      val e = intercept[org.apache.spark.GraftSparkBridge.UserRaisedError](
        Zarr.readCategorical(spark, root, key).collect())
      val eAligned = intercept[org.apache.spark.GraftSparkBridge.UserRaisedError](
        Zarr.readObsAligned(spark, root, Seq(Zarr.ObsCategorical(key, "label"))).collect())
      (e.getMessage, eAligned.getMessage)
    }
    Zarr.writeAttrs(s"$p3#obs/batch", """{"categories": ["only_one"]}""")
    // codes 1 and 2 are both out of range: each reader names the first it meets
    val (m, mAligned) = bothReaders(p3, "obs/batch")
    Seq(m, mAligned).foreach(x => assert(x.contains("categorical code out of range [0, 1)"), x))
    // NEGATIVE codes (pandas NA sentinel) also fail — bare element_at
    // would silently resolve them from the END of the label list
    val negPath = "/root/repo/target/tmp/zarr_test_attrs_neg"
    Zarr.delete(negPath, recursive = true)
    Zarr.writeVector(Seq((0L, 0.0), (1L, -1.0)).toDF("i", "v"),
      s"$negPath#obs/c", n = 2, chunk = 2, dtype = "<i4")
    Zarr.writeAttrs(s"$negPath#obs/c", """{"categories": ["A", "B"]}""")
    // one bad code: the two messages are the same, word for word
    val (mNeg, mNegAligned) = bothReaders(negPath, "obs/c")
    assert(mNeg.contains(s"categorical code out of range [0, 2) in $negPath/obs/c: -1"), mNeg)
    assert(mNegAligned == mNeg)
    // a stale .zattrs left beside a v3 node can NOT shadow zarr.json attrs
    // (read precedence matches write: zarr.json first)
    Zarr.writeBytes(s"$p3/obs/batch/.zattrs", """{"categories": ["stale"]}""".getBytes("UTF-8"))
    assert(Zarr.readAttrs(s"$p3#obs/batch").path("categories").get(0).asText() == "only_one")
    // attributes cannot be planted on a non-node directory
    val e2 = intercept[IllegalArgumentException](
      Zarr.writeAttrs(s"$path/not_a_node", """{"x": 1}"""))
    assert(e2.getMessage.contains("not a Zarr node"))
    // consolidation picks attrs up: .zmetadata form carries the .zattrs key
    Zarr.consolidateMetadata(path)
    val cons = new String(Zarr.readBytes(s"$path/.zmetadata"), "UTF-8")
    assert(cons.contains("obs/cell_type/.zattrs"), cons)
    // and a later writeAttrs refreshes the consolidated map
    Zarr.writeAttrs(s"$path#obs/cell_type", """{"categories": ["X", "Y", "Z"]}""")
    val cons2 = new String(Zarr.readBytes(s"$path/.zmetadata"), "UTF-8")
    assert(cons2.contains("\"X\""), cons2)
  }

  test("consolidated metadata: v3 INLINE form, one-read navigation, write refresh") {
    val path = "/root/repo/target/tmp/zarr_test_consolidated_v3"
    Zarr.delete(path, recursive = true)
    val m = ZMatrix.fromDense(spark, dense)
    Zarr.write(m, s"$path#X", 10, 5, 4, 3, format = 3)
    Zarr.write(m, s"$path#obsm/X_pca", 10, 5, 4, 3, format = 3)
    Zarr.consolidateMetadataV3(path)
    val json = new String(Zarr.readBytes(s"$path/zarr.json"), "UTF-8")
    // the zarr-python 3 inline form: map + kind marker INSIDE root zarr.json
    assert(json.contains("\"consolidated_metadata\""), json)
    assert(json.contains("\"kind\" : \"inline\"") || json.contains("\"kind\":\"inline\""), json)
    Seq("\"X\"", "\"obsm\"", "\"obsm/X_pca\"").foreach(k =>
      assert(json.contains(k), s"missing $k in:\n$json"))
    // the root stays a conforming group node (readable pre-consolidation)
    assert(Zarr.isGroupNode(path))
    // a group-addressed write refreshes the inline map
    Zarr.write(m, s"$path#layers/counts", 10, 5, 4, 3, format = 3)
    val refreshed = new String(Zarr.readBytes(s"$path/zarr.json"), "UTF-8")
    assert(refreshed.contains("\"layers/counts\""), refreshed)
    // navigation runs off the ONE consolidated read: delete a sub-group's
    // own zarr.json — per-level probing would now fail, the map must not
    Zarr.delete(s"$path/obsm/zarr.json")
    assert(Zarr.resolveArray(s"$path#obsm/X_pca") == s"$path/obsm/X_pca")
    val want = dense.map(_.toSeq).toSeq
    assert(ZLocal.toDense(Zarr.read(spark, s"$path#obsm/X_pca"), 10, 5)
      .map(_.toSeq).toSeq == want)
    // error listings come from the consolidated map too
    val e = intercept[IllegalArgumentException](Zarr.resolveArray(path))
    assert(e.getMessage.contains("X") && e.getMessage.contains("obsm") &&
      e.getMessage.contains("layers"), e.getMessage)
    // child docs in the map never nest their own consolidated blocks
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val meta = mapper.readTree(refreshed).path("consolidated_metadata").path("metadata")
    meta.fieldNames().forEachRemaining(k =>
      assert(!meta.get(k).has("consolidated_metadata"), s"nested block under $k"))
  }

  test("group navigation: v3 group metadata (zarr.json node_type group)") {
    val path = "/root/repo/target/tmp/zarr_test_group_v3"
    Zarr.delete(path, recursive = true)
    Zarr.write(ZMatrix.fromDense(spark, dense), s"$path#X", 10, 5, 4, 3, format = 3)
    val rootJson = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path, "zarr.json")), "UTF-8")
    assert(rootJson.contains("\"node_type\": \"group\""), rootJson)
    assert(Zarr.isGroupNode(path) && !Zarr.isArrayNode(path))
    assert(Zarr.groupKeys(path) == Seq("X"))
    val back = ZLocal.toDense(Zarr.read(spark, path, "X"), 10, 5)
    assert(back.map(_.toSeq).toSeq == dense.map(_.toSeq).toSeq)
    // v3 group root read without a key errors with the key listing
    val e = intercept[IllegalArgumentException](Zarr.readMeta(path))
    assert(e.getMessage.contains("GROUP") && e.getMessage.contains("X"), e.getMessage)
  }

  test("sparse CSR/CSC groups: write + read roundtrip with empty lines") {
    import spark.implicits._
    // 6x5 with empty row 1, empty FIRST column, empty LAST row — the
    // indptr edge shapes (leading/interior/trailing runs of equal offsets)
    val coo = Seq((0L, 1L, 2.0), (0L, 4L, 3.0), (2L, 1L, 5.0), (2L, 2L, 7.0),
      (2L, 3L, 1.5), (3L, 4L, -2.0), (4L, 1L, 9.0))
    val m = ZMatrix(coo.toDF("i", "j", "v"))
    for (csc <- Seq(false, true); format <- Seq(2, 3)) {
      val path = s"/root/repo/target/tmp/zarr_test_sparse_${if (csc) "csc" else "csr"}_v$format"
      Zarr.delete(path, recursive = true)
      Zarr.writeSparse(m, s"$path#X", rows = 6, cols = 5, chunk = 3, csc = csc,
        format = format, comp = if (format == 2) "blosc" else "")
      val back = Zarr.readSparse(spark, path, "X")
      assert(back.cells.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet == coo.toSet, s"csc=$csc format=$format")
      // the ONE entry point auto-dispatches on the encoding-type attrs
      assert(Zarr.read(spark, path, "X").cells.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet == coo.toSet, s"read() dispatch: csc=$csc format=$format")
      // indptr covers every major line + 1 and is monotone
      val ptr = Zarr.readVector(spark, path, "X/indptr")
        .orderBy("i").collect().map(_.getDouble(1).toLong)
      assert(ptr.length == (if (csc) 5 else 6) + 1 && ptr.head == 0 && ptr.last == 7)
      assert(ptr.sliding(2).forall(p => p(0) <= p(1)), s"non-monotone indptr: ${ptr.toSeq}")
    }
    // a DENSE read of the same store must refuse, loudly
    val err = intercept[IllegalArgumentException](
      Zarr.readMeta("/root/repo/target/tmp/zarr_test_sparse_csr_v2/X"))
    assert(err.getMessage.nonEmpty)
  }

  test("sparse reads plan ZERO shuffles and no join, mismatched indices chunking included") {
    import spark.implicits._
    val coo = Seq((0L, 1L, 2.0), (1L, 0L, 1.0), (3L, 2L, 4.5))
    val m = ZMatrix(coo.toDF("i", "j", "v"))
    val path = "/root/repo/target/tmp/zarr_test_sparse_fastpath"
    Zarr.delete(path, recursive = true)
    Zarr.writeSparse(m, s"$path#X", rows = 4, cols = 3, chunk = 2)
    def assertOneScan(what: String): Unit = {
      val back = Zarr.readSparse(spark, path, "X")
      val plan = back.cells.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange") && !plan.contains("Join"),
        s"$what: sparse read shuffled or joined:\n$plan")
      assert(back.cells.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet == coo.toSet, what)
    }
    assertOneScan("aligned chunks")
    // re-chunk `indices` only (chunk 3 vs data's 2): the same chunk scan,
    // each data chunk reading the indices chunks that cover its range
    val idx = Zarr.readVector(spark, s"$path/X", "indices")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    Zarr.writeVector(idx.toDF("i", "v"), s"$path#X/indices",
      n = 3, chunk = 3, dtype = "<i8")
    assertOneScan("indices chunk 3, data chunk 2")
  }

  test("sparse chunk scan: multi-chunk indptr, unlike chunkings, empty lines on chunk edges") {
    import spark.implicits._
    // per-major entry counts 0,2,1,0,0,3,0,2,1,0 → indptr
    // [0,0,2,3,3,3,6,6,8,9,9]. With indptr chunk 2, data chunk 3 and
    // indices chunk 2: the empty majors 2-3 sit on data edge 3 and span
    // indptr chunk edge 4, major 5 ends on data edge 6 and the empty
    // major 6 starts at indptr chunk 3 there, major 8 ends on data edge 9,
    // the leading and trailing majors are empty, and indptr, data and
    // indices all end in partial chunks
    val coo = Seq((1L, 0L, 1.0), (1L, 3L, 2.0), (2L, 2L, 3.0), (5L, 0L, 4.0),
      (5L, 1L, 5.0), (5L, 3L, 6.0), (7L, 1L, 7.0), (7L, 2L, 8.0), (8L, 3L, 9.0))
    val (nMajor, nMinor) = (10L, 4L)
    for (csc <- Seq(false, true); (format, comp) <- Seq((2, ""), (3, "blosc"))) {
      val what = s"${if (csc) "csc" else "csr"} v$format $comp"
      val cells = if (csc) coo.map { case (i, j, v) => (j, i, v) } else coo
      val (rows, cols) = if (csc) (nMinor, nMajor) else (nMajor, nMinor)
      val path = s"target/tmp/zarr_test_sparse_edges_${if (csc) "csc" else "csr"}_v$format$comp"
      Zarr.delete(path, recursive = true)
      Zarr.writeSparse(ZMatrix(cells.toDF("i", "j", "v")), s"$path#X", rows, cols,
        chunk = 2, csc = csc, format = format, comp = comp)
      val dat = Zarr.readVector(spark, s"$path/X", "data")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      Zarr.writeVector(dat.toDF("i", "v"), s"$path#X/data", n = coo.size, chunk = 3,
        format = format, comp = comp)
      assert(Zarr.readMeta(s"$path/X/data").chunkRows == 3 &&
        Zarr.readMeta(s"$path/X/indices").chunkRows == 2 &&
        Zarr.readMeta(s"$path/X/indptr").nChunks == 6, what)
      val back = Zarr.readSparse(spark, path, "X").cells
      val plan = back.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange") && !plan.contains("Join"), s"$what:\n$plan")
      val got = back.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(got.length == cells.size && got.toSet == cells.toSet, s"$what: ${got.toSeq}")
      if (!csc) {
        // obs-aligned row sums over the same store: a string column of
        // chunk 4 sets the obs grain, so each task's indptr slice [lo, hi]
        // crosses indptr chunk edges
        Zarr.writeStringVector((0L until nMajor).map(i => (i, s"r$i")).toDF("i", "s"),
          s"$path#obs/index", nMajor, chunk = 4, format = format)
        val fused = Zarr.readObsAligned(spark, path, Seq(
          Zarr.ObsString("obs/index", "name"), Zarr.ObsSparseSum("X", "q")))
        assert(!fused.queryExecution.executedPlan.toString.contains("Exchange"), what)
        val sums = fused.collect().map(r =>
          (r.getLong(0), r.getString(1), if (r.isNullAt(2)) None else Some(r.getDouble(2))))
          .sortBy(_._1).toSeq
        val want = (0L until nMajor).map { i =>
          val vs = coo.filter(_._1 == i).map(_._3)
          (i, s"r$i", if (vs.isEmpty) None else Some(vs.sum))
        }
        assert(sums == want, s"$what row sums: $sums")
      }
    }
    // a group whose indices length differs from data's is refused, in
    // both readers
    val path = "target/tmp/zarr_test_sparse_edges_csr_v2"
    val idx = Zarr.readVector(spark, s"$path/X", "indices")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).filter(_._1 < coo.size - 1).toSeq
    Zarr.writeVector(idx.toDF("i", "v"), s"$path#X/indices", n = coo.size - 1, chunk = 2,
      dtype = "<i8")
    val e = intercept[IllegalArgumentException](Zarr.readSparse(spark, path, "X"))
    assert(e.getMessage.contains("indices holds 8 entries but data holds 9"), e.getMessage)
    val e2 = intercept[IllegalArgumentException](
      Zarr.readObsAligned(spark, path, Seq(Zarr.ObsSparseSum("X", "q"))))
    assert(e2.getMessage.contains("indices holds 8"), e2.getMessage)
  }

  test("readObsAligned == per-component reads + joins (differential), zero shuffles") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, sum}
    val path = "/root/repo/target/tmp/zarr_test_obsaligned"
    Zarr.delete(path, recursive = true)
    val nObs = 10L
    // CSR X with empty rows 1,5,6,7,8 (null row-sums), data chunk 3 —
    // position-space chunks deliberately unaligned to the obs grain
    val coo = Seq((0L, 1L, 2.0), (0L, 4L, 3.0), (2L, 1L, 5.0), (2L, 2L, 7.0),
      (3L, 4L, -2.0), (4L, 1L, 9.0), (9L, 0L, 4.0))
    Zarr.writeSparse(ZMatrix(coo.toDF("i", "j", "v")), s"$path#X", nObs, 5, chunk = 3)
    // string index chunk 4: chunk 1 (i 4..7) entirely absent → "" fill;
    // i=8 missing inside the ragged written chunk 2 → "" fill
    Zarr.writeStringVector(Seq((0L, "n0"), (1L, "n1"), (2L, "n2"), (3L, "n3"),
      (9L, "n9")).toDF("i", "s"), s"$path#obs/index", nObs, chunk = 4)
    // categorical chunk 8 (the grain): codes i % 3
    val labels = Seq("LOW", "MED", "HIGH")
    Zarr.writeVector((0L until nObs).map(i => (i, (i % 3).toDouble)).toDF("i", "v"),
      s"$path#obs/priority", nObs, chunk = 8, dtype = "|i1")
    Zarr.writeAttrs(s"$path#obs/priority",
      s"""{"categories": [${labels.map(l => "\"" + l + "\"").mkString(",")}]}""")
    // dense 10x2, chunkRows 4: row-chunk 1 (rows 4..7) all-fill → absent
    val dcells = Seq((0L, 0L, 1.0), (0L, 1L, 2.0), (2L, 1L, 0.0), (3L, 1L, 6.0),
      (8L, 0L, 5.0), (9L, 1L, 7.0))
    Zarr.write(ZMatrix(dcells.toDF("i", "j", "v")), s"$path#obsm/stats", nObs, 2,
      chunkRows = 4, chunkCols = 2)
    val fused = Zarr.readObsAligned(spark, path, Seq(
      Zarr.ObsString("obs/index", "name"),
      Zarr.ObsCategorical("obs/priority", "prio"),
      Zarr.ObsSparseSum("X", "qty"),
      Zarr.ObsDense("obsm/stats", 1, "nl")))
    // the whole point: one scan, no Exchange anywhere in the plan
    val plan = fused.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"aligned read shuffled:\n$plan")
    val got = fused.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
      if (r.isNullAt(3)) None else Some(r.getDouble(3)), r.getDouble(4)))
      .sortBy(_._1).toSeq
    // reference: the per-component plan this reader replaces
    val idxM = Zarr.readStringVector(spark, path, "obs/index")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val prioM = Zarr.readCategorical(spark, path, "obs/priority")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val qtyM = Zarr.readSparse(spark, path, "X").cells
      .groupBy(col("i")).agg(sum(col("v")).as("q"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val nlM = Zarr.read(spark, path, "obsm/stats").cells
      .filter(col("j") === 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val want = (0L until nObs).map(i =>
      (i, idxM(i), prioM(i), qtyM.get(i), nlM(i)))
    assert(got == want, s"fused read diverged:\n$got\nvs\n$want")
    // a row-chunk size that does not divide the grain must refuse loudly
    Zarr.writeStringVector(Seq((0L, "x")).toDF("i", "s"),
      s"$path#obs/odd", nObs, chunk = 3)
    val err = intercept[IllegalArgumentException](Zarr.readObsAligned(spark, path,
      Seq(Zarr.ObsString("obs/odd", "o"), Zarr.ObsCategorical("obs/priority", "p"))))
    assert(err.getMessage.contains("divide"))
  }

  test("datetime64[ns] vectors: bit-exact roundtrip beyond double precision") {
    import spark.implicits._
    // 9007199254740993 = 2^53 + 1 — the first long a double CANNOT hold;
    // plus a real 2024 epoch-nano, NaT, and a negative (pre-epoch) value
    val vals = Seq((0L, 1704067207179575001L), (1L, 9007199254740993L),
      (2L, Long.MinValue), (4L, -86400000000000L))
    val vec = vals.toDF("i", "v")
    for ((dtype, format, comp) <- Seq(("<M8[ns]", 2, "blosc"), (">M8[ns]", 2, ""),
        ("<m8[ns]", 3, ""), ("<M8[ns]", 3, "blosc"), ("<M8[ns]", 3, "zstd"))) {
      val safe = dtype.replaceAll("[^A-Za-z0-9]", "")
      val path = s"/root/repo/target/tmp/zarr_test_dt_${safe}_v$format$comp"
      Zarr.delete(path, recursive = true)
      // n=6 > max index 4: position 3 is absent-in-data, 5 in an absent
      // tail region — both must come back as the fill (7 here)
      Zarr.writeTimeVector(vec, path, n = 6, chunk = 4, dtype = dtype,
        format = format, comp = comp, fill = 7L)
      val got = Zarr.readTimeVector(spark, path).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got == (vals.toMap ++ Map(3L -> 7L, 5L -> 7L)),
        s"$dtype v$format $comp: $got")
      // double round-trip of the 2^53+1 probe would have lost the low bit
      assert(got(1L) != got(1L).toDouble.toLong || got(1L) == 9007199254740993L)
      assert(9007199254740993L.toDouble.toLong == 9007199254740992L,
        "probe value must actually be double-unrepresentable")
    }
    // numeric reads refuse the time store, and vice versa
    val p2 = "/root/repo/target/tmp/zarr_test_dt_M8ns_v2blosc"
    val e = intercept[IllegalArgumentException](Zarr.readVector(spark, p2))
    assert(e.getMessage.contains("M8[ns]") || e.getMessage.nonEmpty)
    val pNum = "/root/repo/target/tmp/zarr_test_dt_numeric"
    Zarr.delete(pNum, recursive = true)
    Zarr.writeVector(Seq((0L, 1.0)).toDF("i", "v"), pNum, n = 1, chunk = 1)
    val e2 = intercept[IllegalArgumentException](Zarr.readTimeVector(spark, pNum))
    assert(e2.getMessage.contains("datetime64"), e2.getMessage)
  }

  test("datetime64 foreign fixture: zarr-python-shaped v2 <M8[ns] array reads") {
    import java.nio.{ByteBuffer, ByteOrder}
    // exactly what zarr-python emits for np.datetime64[ns] data: dtype
    // "<M8[ns]", zlib compressor, flat keys — none of it our writer's work
    val root = "/root/repo/target/tmp/zarr_test_dt_foreign"
    Zarr.delete(root, recursive = true)
    new java.io.File(root).mkdirs()
    def put(p: String, b: Array[Byte]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(p), b)
    put(s"$root/.zarray",
      """{"chunks": [3], "compressor": {"id": "zlib", "level": 1},
        |"dtype": "<M8[ns]", "fill_value": 0, "filters": null, "order": "C",
        |"shape": [5], "zarr_format": 2}""".stripMargin.getBytes("UTF-8"))
    val vals = Array(1704067207179575001L, 9007199254740993L, -1L,
      Long.MinValue, 42L)
    def chunk(xs: Array[Long]): Array[Byte] = {
      val bb = ByteBuffer.allocate(24).order(ByteOrder.LITTLE_ENDIAN)
      xs.padTo(3, 0L).foreach(bb.putLong)
      val d = new java.util.zip.Deflater(1)
      d.setInput(bb.array()); d.finish()
      val out = new Array[Byte](64)
      val n = d.deflate(out); d.end()
      out.take(n)
    }
    put(s"$root/0", chunk(vals.slice(0, 3)))
    put(s"$root/1", chunk(vals.slice(3, 5)))
    val got = Zarr.readTimeVector(spark, root).orderBy("i").collect().map(_.getLong(1))
    assert(got.toSeq == vals.toSeq, got.toSeq)
  }

  test("sparse foreign fixture: anndata-shaped v2 csr_matrix group reads") {
    // hand-written AS ANNDATA EMITS IT (anndata on-disk spec v0.1.0):
    // uncompressed v2 rank-1 arrays, data <f4, indices <i4, indptr <i8,
    // encoding attrs on the group — none of it produced by our writer
    import java.nio.{ByteBuffer, ByteOrder}
    val root = "/root/repo/target/tmp/zarr_test_sparse_foreign"
    Zarr.delete(root, recursive = true)
    val x = s"$root/X"
    new java.io.File(x).mkdirs()
    def put(p: String, b: Array[Byte]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(p), b)
    put(s"$root/.zgroup", """{"zarr_format": 2}""".getBytes("UTF-8"))
    put(s"$x/.zgroup", """{"zarr_format": 2}""".getBytes("UTF-8"))
    put(s"$x/.zattrs",
      """{"encoding-type": "csr_matrix", "encoding-version": "0.1.0",
        |"shape": [4, 5]}""".stripMargin.getBytes("UTF-8"))
    def zarray(dir: String, dtype: String, n: Int, chunk: Int): Unit = {
      new java.io.File(dir).mkdirs()
      put(s"$dir/.zarray",
        s"""{"chunks": [$chunk], "compressor": null, "dtype": "$dtype",
           |"fill_value": 0, "filters": null, "order": "C", "shape": [$n],
           |"zarr_format": 2}""".stripMargin.getBytes("UTF-8"))
    }
    // rows: 0 → (1, 10f), (3, 11f); 1 → empty; 2 → (0, 12f), (2, 13f), (4, 14f); 3 → (2, 15f)
    val data = Array(10f, 11f, 12f, 13f, 14f, 15f)
    val indices = Array(1, 3, 0, 2, 4, 2)
    val indptr = Array(0L, 2L, 2L, 5L, 6L)
    zarray(s"$x/data", "<f4", 6, 4)
    (0 until 2).foreach { ci =>
      val vals = data.slice(ci * 4, math.min((ci + 1) * 4, 6)).padTo(4, 0f)
      val bb = ByteBuffer.allocate(16).order(ByteOrder.LITTLE_ENDIAN)
      vals.foreach(bb.putFloat); put(s"$x/data/$ci", bb.array())
    }
    zarray(s"$x/indices", "<i4", 6, 4)
    (0 until 2).foreach { ci =>
      val vals = indices.slice(ci * 4, math.min((ci + 1) * 4, 6)).padTo(4, 0)
      val bb = ByteBuffer.allocate(16).order(ByteOrder.LITTLE_ENDIAN)
      vals.foreach(bb.putInt); put(s"$x/indices/$ci", bb.array())
    }
    zarray(s"$x/indptr", "<i8", 5, 5)
    locally {
      val bb = ByteBuffer.allocate(40).order(ByteOrder.LITTLE_ENDIAN)
      indptr.foreach(bb.putLong); put(s"$x/indptr/0", bb.array())
    }
    val got = Zarr.readSparse(spark, root, "X").cells.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val want = Set((0L, 1L, 10.0), (0L, 3L, 11.0), (2L, 0L, 12.0),
      (2L, 2L, 13.0), (2L, 4L, 14.0), (3L, 2L, 15.0))
    assert(got == want)
    // a non-sparse group refuses with the encoding-type message
    val e = intercept[IllegalArgumentException](Zarr.readSparse(spark, root, ""))
    assert(e.getMessage.contains("encoding-type"), e.getMessage)
  }

  test("xarray _ARRAY_DIMENSIONS convention: merge-write, readback, both formats") {
    import spark.implicits._
    val m = ZMatrix.fromDense(spark, Array.tabulate(6, 4)((i, j) => (i * 4 + j).toDouble))
    // v2: dims merge into EXISTING attrs without clobbering them
    val p2 = "/root/repo/target/tmp/zarr_test_xdims_v2"
    Zarr.delete(p2, recursive = true)
    Zarr.write(m, p2, 6, 4, 3, 2)
    Zarr.writeAttrs(p2, """{"units": "counts"}""")
    Zarr.writeXarrayDims(p2, Seq("obs", "var"))
    assert(Zarr.readXarrayDims(p2) == Seq("obs", "var"))
    assert(Zarr.readAttrs(p2).path("units").asText() == "counts",
      "dimension naming must not clobber user attrs")
    // the on-disk form is the exact xarray convention: .zattrs JSON array
    val zattrs = new String(Zarr.readBytes(s"$p2/.zattrs"), "UTF-8")
    assert(zattrs.contains("_ARRAY_DIMENSIONS"))
    // v3: dims land INSIDE zarr.json attributes
    val p3 = "/root/repo/target/tmp/zarr_test_xdims_v3"
    Zarr.delete(p3, recursive = true)
    Zarr.write(m, p3, 6, 4, 3, 2, format = 3)
    Zarr.writeXarrayDims(p3, Seq("y", "x"))
    assert(Zarr.readXarrayDims(p3) == Seq("y", "x"))
    val zjson = new String(Zarr.readBytes(s"$p3/zarr.json"), "UTF-8")
    assert(zjson.contains("_ARRAY_DIMENSIONS"))
    // un-annotated array reads as empty, not an error
    val pNone = "/root/repo/target/tmp/zarr_test_xdims_none"
    Zarr.delete(pNone, recursive = true)
    Zarr.write(m, pNone, 6, 4, 3, 2)
    assert(Zarr.readXarrayDims(pNone).isEmpty)
  }

  // independent compressors for hand-built chunk files
  private def deflateBytes(raw: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater(1); d.setInput(raw); d.finish()
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end(); out.toByteArray
  }
  private def gzipBytes(raw: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(out); gz.write(raw); gz.close()
    out.toByteArray
  }
  private def longBytes(vals: Seq[Long], order: java.nio.ByteOrder): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(vals.length * 8).order(order)
    vals.foreach(bb.putLong); bb.array()
  }

  test("i8 chunks decode exactly beyond 2^53 under every codec, both byte orders") {
    import java.nio.ByteOrder
    import com.github.luben.zstd.Zstd
    import graft.zarr.Blosc
    val big = (1L << 53) + 1
    assert(big.toDouble.toLong != big, "probe value must be double-unrepresentable")
    val vals = Seq(big, -big, 0L, Long.MaxValue, Long.MinValue, 42L)
    for (order <- Seq(ByteOrder.LITTLE_ENDIAN, ByteOrder.BIG_ENDIAN)) {
      val dtype = if (order == ByteOrder.BIG_ENDIAN) ">i8" else "<i8"
      val raw = longBytes(vals, order)
      for ((codec, bytes, zlib, format, comp) <- Seq(
          ("raw", raw, false, 2, ""), ("zlib v2", deflateBytes(raw), true, 2, ""),
          ("gzip v3", gzipBytes(raw), true, 3, ""), ("blosc", Blosc.compress(raw, 8), false, 2, "blosc"),
          ("zstd", Zstd.compress(raw, 1), false, 3, "zstd"))) {
        val got = Zarr.decodeLongs(Zarr.unframe(bytes, zlib, format, comp, raw.length),
          vals.length, dtype)
        assert(got.toSeq == vals, s"$dtype $codec")
      }
    }
    // through a store: a CSR group's i8 indices chunks holding minor
    // indices past 2^53 read back exactly — with indices chunked like
    // data (one chunk of 4) and unlike it (two chunks of 2)
    import spark.implicits._
    val cells = ZMatrix(Seq((0L, 0L, 1.0), (0L, 1L, 2.0), (1L, 0L, 3.0)).toDF("i", "j", "v"))
    val idx = Seq(big, 1L, big + 2, 0L)
    for ((format, comp) <- Seq((2, ""), (2, "blosc"), (3, "zstd")); idxChunk <- Seq(4, 2)) {
      val root = s"target/tmp/zarr_test_i8_idx_${format}_${comp}_$idxChunk"
      Zarr.delete(root, recursive = true)
      Zarr.writeSparse(cells, s"$root#X", 2, 2, chunk = 4, format = format, comp = comp)
      if (idxChunk != 4)
        Zarr.writeVector(Seq((0L, 0.0), (1L, 1.0), (2L, 0.0)).toDF("i", "v"),
          s"$root#X/indices", n = 3, chunk = idxChunk, dtype = "<i8", format = format,
          comp = comp)
      idx.grouped(idxChunk).zipWithIndex.foreach { case (part, ci) =>
        val raw = longBytes(part, ByteOrder.LITTLE_ENDIAN)
        val framed =
          if (comp == "blosc") Blosc.compress(raw, 8) else if (comp == "zstd") Zstd.compress(raw, 1) else raw
        java.nio.file.Files.write(java.nio.file.Paths.get(Zarr.chunkPath(s"$root/X/indices", ci, 0,
          Zarr.writeKeyEnc(format), rank1 = true)), framed)
      }
      val got = Zarr.readSparse(spark, root, "X").cells.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == Set((0L, big, 1.0), (0L, 1L, 2.0), (1L, big + 2, 3.0)),
        s"v$format $comp indices chunk $idxChunk: $got")
    }
  }

  test("damaged chunks fail loudly in every reader kind (numeric, string, time)") {
    import java.nio.{ByteBuffer, ByteOrder}
    import com.github.luben.zstd.Zstd
    import graft.zarr.Blosc
    import spark.implicits._
    def loud(what: String)(body: => Any): Unit = {
      scala.util.Try(body).foreach(v => fail(s"$what: damaged chunk decoded silently to $v"))
    }
    def truncated(b: Array[Byte]) = b.take(b.length / 2)
    def grown(b: Array[Byte]) = b :+ 0.toByte
    def withNBytes(frame: Array[Byte], n: Int) = {
      val f = frame.clone()
      ByteBuffer.wrap(f, 4, 4).order(ByteOrder.LITTLE_ENDIAN).putInt(n); f
    }
    // a zstd frame with no content size: the streaming writer never pledges one
    def zstdUnsized(raw: Array[Byte]) = {
      val out = new java.io.ByteArrayOutputStream()
      val z = new com.github.luben.zstd.ZstdOutputStream(out); z.write(raw); z.close()
      val f = out.toByteArray
      assert(Zstd.getFrameContentSize(f) < 0, "fixture: frame must lack a content size"); f
    }
    val overCap = (256 << 20) + 8

    // numeric: decodeChunk with the size the geometry gives (100 f8)
    val vals = Array.tabulate(100)(i => i * 1.5)
    val img = ByteBuffer.allocate(800).order(ByteOrder.LITTLE_ENDIAN)
    vals.foreach(img.putDouble)
    val raw = img.array()
    loud("numeric truncated zlib")(Zarr.decodeChunk(truncated(deflateBytes(raw)), 100, zlib = true))
    loud("numeric truncated gzip")(Zarr.decodeChunk(truncated(gzipBytes(raw)), 100, zlib = true, format = 3))
    loud("numeric blosc nbytes")(Zarr.decodeChunk(Blosc.compress(raw, 8), 50, zlib = false, comp = "blosc"))
    loud("numeric blosc cbytes")(Zarr.decodeChunk(grown(Blosc.compress(raw, 8)), 100, zlib = false, comp = "blosc"))
    loud("numeric zstd short")(Zarr.decodeChunk(Zstd.compress(raw.take(400), 1), 100, zlib = false, comp = "zstd"))

    // string and time vectors: a written store whose chunk 0 is replaced
    def damage(path: String, format: Int, bytes: Array[Byte]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(
        Zarr.chunkPath(path, 0, 0, Zarr.writeKeyEnc(format), rank1 = true)), bytes)
    val strs = Seq((0L, "alpha"), (1L, "beta"), (2L, "gamma"), (3L, "delta"))
    val vlen = Zarr.vlenEncode(strs.map(_._2).toArray)
    val times = Seq((0L, (1L << 53) + 1), (1L, 2L), (2L, 3L), (3L, 4L))
    val tRaw = longBytes(times.map(_._2), ByteOrder.LITTLE_ENDIAN)
    val cases: Seq[(String, Int, String, Boolean, Array[Byte], Array[Byte])] = Seq(
      // (damage, format, comp, zlib, string chunk, time chunk)
      ("truncated zlib", 2, "", true, truncated(deflateBytes(vlen)), truncated(deflateBytes(tRaw))),
      ("truncated gzip", 3, "", true, truncated(gzipBytes(vlen)), truncated(gzipBytes(tRaw))),
      ("blosc nbytes", 2, "blosc", false, withNBytes(Blosc.compress(vlen, 1), vlen.length + 64),
        Blosc.compress(tRaw.take(16), 8)),
      ("blosc cbytes", 3, "blosc", false, grown(Blosc.compress(vlen, 1)), grown(Blosc.compress(tRaw, 8))),
      ("zstd short", 2, "zstd", false, truncated(Zstd.compress(vlen, 1)), Zstd.compress(tRaw.take(8), 1)),
      ("zstd unsized", 3, "zstd", false, zstdUnsized(vlen), null),
      ("blosc over the self-sized cap", 2, "blosc", false,
        withNBytes(Blosc.compress(vlen, 1), overCap), null))
    for ((what, format, comp, zlib, sChunk, tChunk) <- cases) {
      val sp = s"target/tmp/zarr_test_damaged_str_${format}_${comp}_$zlib"
      Zarr.writeStringVector(strs.toDF("i", "s"), sp, n = 4, chunk = 4, zlib = zlib,
        format = format, comp = comp)
      damage(sp, format, sChunk)
      loud(s"string $what")(Zarr.readStringVector(spark, sp).collect())
      if (tChunk != null) {
        val tp = s"target/tmp/zarr_test_damaged_time_${format}_${comp}_$zlib"
        Zarr.writeTimeVector(times.toDF("i", "v"), tp, n = 4, chunk = 4, format = format,
          comp = comp, zlib = zlib)
        damage(tp, format, tChunk)
        loud(s"time $what")(Zarr.readTimeVector(spark, tp).collect())
      }
    }
  }
}

object ZarrSpec {
  /** Minimal valid blosclz encoder for fixtures: literal runs plus
    * distance-1 RLE matches — enough to shrink repetitive lanes and
    * exercise the decoder's literal, short-match, and extended-length
    * paths. Not a fidelity goal: any conforming stream is valid input. */
  def blosclzEncode(raw: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def literal(i: Int): Unit = { out.write(0); out.write(raw(i)) }
    var i = 0
    while (i < raw.length) {
      if (i == 0) { literal(i); i += 1 }
      else {
        var r = i
        while (r < raw.length && raw(r) == raw(i - 1)) r += 1
        val run = r - i
        if (run >= 3) {
          if (run <= 8) { out.write((run - 2) << 5); out.write(0) }
          else {
            out.write(7 << 5)
            var rem = run - 9
            while (rem >= 255) { out.write(255); rem -= 255 }
            out.write(rem)
            out.write(0)
          }
          i = r
        } else { literal(i); i += 1 }
      }
    }
    out.toByteArray
  }

}
