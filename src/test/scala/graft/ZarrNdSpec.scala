package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

import graft.zarr.ZarrNd

/** Rank-N (≥3) dense zarr v2 arrays: roundtrips across codecs and key
  * layouts, ragged-edge clipping, missing-chunk fill, fail-fast bounds. */
class ZarrNdSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def cube(n0: Int, n1: Int, n2: Int) = {
    import spark.implicits._
    (for (i <- 0 until n0; j <- 0 until n1; k <- 0 until n2)
      yield (i.toLong, j.toLong, k.toLong, (i * 10000 + j * 100 + k).toDouble))
      .toDF("i0", "i1", "i2", "v")
  }

  private def roundtrip(tag: String, zlib: Boolean, comp: String,
                        nested: Boolean, dtype: String = "<f8"): Unit = {
    val path = s"${GraftPaths.tmpRoot}/zarrnd_$tag"
    val df = cube(7, 5, 6) // chunks (4,3,4) -> ragged on every axis
    ZarrNd.write(df, path, Seq(7L, 5L, 6L), Seq(4, 3, 4),
      dtype = dtype, zlib = zlib, comp = comp, nested = nested)
    val back = ZarrNd.read(spark, path).orderBy("i0", "i1", "i2").collect()
    val want = df.orderBy("i0", "i1", "i2").collect()
    assert(back.length == 7 * 5 * 6)
    assert(back.sameElements(want), s"$tag roundtrip mismatch")
  }

  test("rank-3 roundtrip: raw, zlib, blosc, zstd, nested keys, f4") {
    roundtrip("raw", zlib = false, comp = "", nested = false)
    roundtrip("zlib", zlib = true, comp = "", nested = false)
    roundtrip("blosc", zlib = false, comp = "blosc", nested = false)
    roundtrip("zstd", zlib = false, comp = "zstd", nested = false)
    roundtrip("nested", zlib = true, comp = "", nested = true)
    roundtrip("f4", zlib = true, comp = "", dtype = "<f4", nested = false)
  }

  test("rank-3 v3 roundtrips: raw, gzip, zstd, both key separators") {
    def v3(tag: String, zlib: Boolean, comp: String, nested: Boolean,
           dtype: String = "<f8"): Unit = {
      val path = s"${GraftPaths.tmpRoot}/zarrnd_v3_$tag"
      val df = cube(7, 5, 6)
      ZarrNd.write(df, path, Seq(7L, 5L, 6L), Seq(4, 3, 4),
        dtype = dtype, zlib = zlib, comp = comp, nested = nested, format = 3)
      val back = ZarrNd.read(spark, path).orderBy("i0", "i1", "i2").collect()
      assert(back.sameElements(df.orderBy("i0", "i1", "i2").collect()),
        s"v3 $tag mismatch")
    }
    v3("raw", zlib = false, comp = "", nested = true)
    v3("gzip", zlib = true, comp = "", nested = true)
    v3("zstd", zlib = false, comp = "zstd", nested = true)
    v3("dotkeys", zlib = true, comp = "", nested = false)
    // the bytes codec must declare the chunks' byte order
    v3("bigendian", zlib = false, comp = "", nested = true, dtype = ">f8")
  }

  test("v3 metadata is stock zarr-python: zarr.json, named dtype, c/-keys") {
    val path = s"${GraftPaths.tmpRoot}/zarrnd_v3meta"
    ZarrNd.write(cube(7, 5, 6), path, Seq(7L, 5L, 6L), Seq(4, 3, 4),
      zlib = true, nested = true, format = 3)
    val meta = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path, "zarr.json")), "UTF-8")
    assert(meta.contains("\"zarr_format\": 3"))
    assert(meta.contains("\"data_type\": \"float64\""))
    assert(meta.contains("\"chunk_shape\": [4, 3, 4]"))
    assert(meta.contains("\"name\": \"gzip\""))
    // default "/" key encoding -> nested c/ chunk tree on disk
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(path, "c", "1", "1", "1")))
    val m = ZarrNd.readMetaN(path)
    assert(m.format == 3 && m.rank == 3 && m.zlib && m.nested)
  }

  test("rank-4 roundtrip (the rank boundary is gone, not moved to 3)") {
    import spark.implicits._
    val df = (for (a <- 0 until 3; b <- 0 until 2; c <- 0 until 4; d <- 0 until 3)
      yield (a.toLong, b.toLong, c.toLong, d.toLong,
        (a * 1000 + b * 100 + c * 10 + d).toDouble))
      .toDF("i0", "i1", "i2", "i3", "v")
    val path = s"${GraftPaths.tmpRoot}/zarrnd_r4"
    ZarrNd.write(df, path, Seq(3L, 2L, 4L, 3L), Seq(2, 2, 3, 2))
    val back = ZarrNd.read(spark, path).orderBy("i0", "i1", "i2", "i3").collect()
    assert(back.sameElements(df.orderBy("i0", "i1", "i2", "i3").collect()))
  }

  test("sparse input: omitted cells read as fill; fully-fill chunks are not stored") {
    import spark.implicits._
    val df = Seq((0L, 0L, 0L, 1.5), (6L, 4L, 5L, 2.5)) // opposite corners only
      .toDF("i0", "i1", "i2", "v")
    val path = s"${GraftPaths.tmpRoot}/zarrnd_sparse"
    ZarrNd.write(df, path, Seq(7L, 5L, 6L), Seq(4, 3, 4), fill = -1.0)
    val back = ZarrNd.read(spark, path)
    assert(back.count() == 7 * 5 * 6)
    val byKey = back.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getDouble(3)).toMap
    assert(byKey((0L, 0L, 0L)) == 1.5 && byKey((6L, 4L, 5L)) == 2.5)
    assert(byKey((3L, 2L, 2L)) == -1.0) // same chunk as origin, unset cell
    assert(byKey((0L, 0L, 5L)) == -1.0) // chunk never written -> fill
    // only the two corner chunks exist on disk (missing chunk == fill)
    val stored = new java.io.File(path).listFiles().map(_.getName)
      .filterNot(_ == ".zarray")
    assert(stored.toSet == Set("0.0.0", "1.1.1"), stored.mkString(","))
  }

  test("metadata is stock v2: dot keys, C order, padded edge chunks") {
    val path = s"${GraftPaths.tmpRoot}/zarrnd_meta"
    ZarrNd.write(cube(7, 5, 6), path, Seq(7L, 5L, 6L), Seq(4, 3, 4),
      zlib = false)
    val meta = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path, ".zarray")), "UTF-8")
    assert(meta.contains("\"shape\": [7, 5, 6]"))
    assert(meta.contains("\"chunks\": [4, 3, 4]"))
    assert(meta.contains("\"order\": \"C\""))
    // spec rule: EVERY stored chunk is the full chunk shape (raw codec ->
    // byte length is exactly 4*3*4 doubles, even for the ragged corner)
    val corner = java.nio.file.Paths.get(path, "1.1.1")
    assert(java.nio.file.Files.size(corner) == 4L * 3 * 4 * 8)
    val m = ZarrNd.readMetaN(path)
    assert(m.rank == 3 && m.nChunks == 8 && m.chunkElems == 48)
  }

  test("rank-2 cross-engine: ZarrNd stores open in the 2-D DSv2 engine and back") {
    import spark.implicits._
    val cells = (for (i <- 0 until 9; j <- 0 until 5)
      yield (i.toLong, j.toLong, (i * 10 + j).toDouble))
      .toDF("i0", "i1", "v")
    // ZarrNd writes, the specialized 2-D engine reads (DSv2 source)
    val p1 = s"${GraftPaths.tmpRoot}/zarrnd_x2d"
    zarr.ZarrNd.write(cells, p1, Seq(9L, 5L), Seq(4, 3), zlib = true)
    val via2d = spark.read.format("zarr").load(p1)
      .orderBy("i", "j").collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(via2d.sameElements(cells.orderBy("i0", "i1").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))))
    // the 2-D engine writes, ZarrNd reads
    val p2 = s"${GraftPaths.tmpRoot}/zarr2d_xnd"
    zarr.Zarr.write(graft.array.ZMatrix(cells.toDF("i", "j", "v")), p2,
      rows = 9, cols = 5, chunkRows = 4, chunkCols = 3, zlib = true)
    val viaNd = zarr.ZarrNd.read(spark, p2)
      .orderBy("i0", "i1").collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(viaNd.sameElements(cells.orderBy("i0", "i1").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))))
  }

  test("appendBand: out-of-order bands compose, ragged tail never rewrites, geometry validated") {
    import spark.implicits._
    val path = s"${GraftPaths.tmpRoot}/zarrnd_band"
    graft.zarr.Zarr.delete(path, recursive = true)
    def band(lo: Int, hi: Int) =
      (for (i <- lo until hi; j <- 0 until 3)
        yield (i.toLong, j.toLong, (i * 10 + j).toDouble)).toDF("i0", "i1", "v")
    // bands arrive OUT OF ORDER: the ragged tail [8, 11) first (chunk 2),
    // then [0, 4), then [4, 8) — axis-0 chunk = 4
    ZarrNd.appendBand(band(8, 11), path, 8, 11, Seq(3L), Seq(4, 3))
    assert(ZarrNd.readMetaN(path).shape.toSeq == Seq(11L, 3L))
    ZarrNd.appendBand(band(0, 4), path, 0, 4, Seq(3L), Seq(4, 3))
    // shape must NOT shrink when an earlier band lands after the tail
    assert(ZarrNd.readMetaN(path).shape.toSeq == Seq(11L, 3L))
    ZarrNd.appendBand(band(4, 8), path, 4, 8, Seq(3L), Seq(4, 3))
    val got = ZarrNd.read(spark, path).orderBy("i0", "i1").collect()
    val want = band(0, 11).orderBy("i0", "i1").collect()
    assert(got.sameElements(want))
    // band start must align to the axis-0 chunk
    intercept[IllegalArgumentException] {
      ZarrNd.appendBand(band(2, 4), path, 2, 4, Seq(3L), Seq(4, 3))
    }
    // mismatched geometry against the existing store is rejected
    intercept[IllegalArgumentException] {
      ZarrNd.appendBand(band(12, 16), path, 12, 16, Seq(3L), Seq(8, 3))
    }
    // ...and so is a divergent FILL (it would rewrite how missing chunks read)
    intercept[IllegalArgumentException] {
      ZarrNd.appendBand(band(12, 16), path, 12, 16, Seq(3L), Seq(4, 3), fill = -1.0)
    }
    // cells outside the declared band fail fast
    intercept[org.apache.spark.SparkException] {
      ZarrNd.appendBand(band(0, 8), path, 0, 4, Seq(3L), Seq(4, 3))
    }
    // a 1-byte dtype reads back as the "|u1" it was written with, so a
    // second v3 band passes the geometry check
    val u1 = s"${GraftPaths.tmpRoot}/zarrnd_band_u1_v3"
    graft.zarr.Zarr.delete(u1, recursive = true)
    ZarrNd.appendBand(band(0, 4), u1, 0, 4, Seq(3L), Seq(4, 3), dtype = "|u1", format = 3)
    ZarrNd.appendBand(band(4, 8), u1, 4, 8, Seq(3L), Seq(4, 3), dtype = "|u1", format = 3)
    assert(ZarrNd.read(spark, u1).orderBy("i0", "i1").collect()
      .sameElements(band(0, 8).orderBy("i0", "i1").collect()))
  }

  test("readRange: exact window, unprobed chunks provably never opened") {
    val path = s"${GraftPaths.tmpRoot}/zarrnd_range"
    val df = cube(7, 5, 6)
    ZarrNd.write(df, path, Seq(7L, 5L, 6L), Seq(4, 3, 4), zlib = true)
    // window straddles chunk boundaries on every axis; global coordinates
    val got = ZarrNd.readRange(spark, path, Seq((2L, 6L), (1L, 4L), (3L, 6L)))
      .orderBy("i0", "i1", "i2").collect()
    val want = df.filter(col("i0") >= 2 && col("i0") < 6 &&
        col("i1") >= 1 && col("i1") < 4 && col("i2") >= 3 && col("i2") < 6)
      .orderBy("i0", "i1", "i2").collect()
    assert(got.length == 4 * 3 * 3 && got.sameElements(want))
    // pruning proof (the zarr_pushdown/L7h pattern): corrupt a chunk the
    // window can't touch — the pruned read still succeeds, a full read dies
    val unprobed = java.nio.file.Paths.get(path, "0.0.0") // i0<4,i1<3,i2<4 corner
    java.nio.file.Files.write(unprobed, Array[Byte](1, 2, 3))
    val pruned = ZarrNd.readRange(spark, path, Seq((4L, 7L), (3L, 5L), (4L, 6L)))
    assert(pruned.count() == 3 * 2 * 2)
    intercept[org.apache.spark.SparkException] {
      ZarrNd.read(spark, path).count() // full read opens the poisoned chunk
    }
    // bad windows fail fast
    intercept[IllegalArgumentException] {
      ZarrNd.readRange(spark, path, Seq((0L, 8L)))
    }
  }

  test("xarray dimension naming works on tensors (both formats), meta still parses") {
    for ((format, tag) <- Seq((2, "v2"), (3, "v3"))) {
      val path = s"${GraftPaths.tmpRoot}/zarrnd_dims_$tag"
      ZarrNd.write(cube(7, 5, 6), path, Seq(7L, 5L, 6L), Seq(4, 3, 4),
        nested = format == 3, format = format)
      graft.zarr.Zarr.writeXarrayDims(path, Seq("time", "lat", "lon"))
      assert(graft.zarr.Zarr.readXarrayDims(path) == Seq("time", "lat", "lon"))
      // the attribute write must not corrupt the rank-N metadata document
      val m = ZarrNd.readMetaN(path)
      assert(m.rank == 3 && m.format == format)
      assert(ZarrNd.read(spark, path).count() == 7 * 5 * 6)
      // ...and a later band's metadata rewrite must keep the names
      val extra = cube(10, 5, 6).filter(col("i0") >= 8)
      ZarrNd.appendBand(extra, path, 8, 10, Seq(5L, 6L), Seq(4, 3, 4),
        nested = format == 3, format = format)
      assert(ZarrNd.readMetaN(path).shape.head == 10L)
      assert(graft.zarr.Zarr.readXarrayDims(path) == Seq("time", "lat", "lon"),
        s"v$format append dropped the dimension names")
    }
  }

  test("grouped-slice reads: tasks iterating MANY chunks equal the input cube") {
    // the 100 TB read path: the read is one range over the selected chunk
    // ordinals, so on the 4-slot test session a 36-chunk store is read by
    // fewer tasks than chunks, each task lazily decoding a RANGE of
    // ordinals — full and windowed reads must still equal the input
    val path = s"${GraftPaths.tmpRoot}/zarrnd_grouped"
    val df = cube(7, 5, 6)
    ZarrNd.write(df, path, Seq(7L, 5L, 6L), Seq(2, 2, 2)) // grid 4x3x3 = 36 chunks
    val grouped = ZarrNd.read(spark, path)
    val tasks = grouped.rdd.getNumPartitions
    assert(tasks < 36, s"expected fewer tasks than the 36 chunks, got $tasks")
    assert(grouped.orderBy("i0", "i1", "i2").collect()
      .sameElements(df.orderBy("i0", "i1", "i2").collect()))
    // a pruned window through the grouped path stays exact too
    val win = ZarrNd.readRange(spark, path, Seq((1L, 6L), (0L, 3L)))
      .orderBy("i0", "i1", "i2").collect()
    val want = df.filter(col("i0") >= 1 && col("i0") < 6 && col("i1") < 3)
      .orderBy("i0", "i1", "i2").collect()
    assert(win.sameElements(want))
  }

  test("appendBand replay (a restarted ingest) republishes whole chunks, byte-identical") {
    import spark.implicits._
    val path = s"${GraftPaths.tmpRoot}/zarrnd_replay"
    graft.zarr.Zarr.delete(path, recursive = true)
    def band(lo: Int, hi: Int) = cube(hi, 5, 6).filter(col("i0") >= lo)
    def files(): Map[String, Seq[Byte]] = {
      val root = java.nio.file.Paths.get(path)
      val it = java.nio.file.Files.walk(root)
      try it.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(f => root.relativize(f).toString ->
          java.nio.file.Files.readAllBytes(f).toSeq).toMap
      finally it.close()
    }
    for (format <- Seq(2, 3)) {
      graft.zarr.Zarr.delete(path, recursive = true)
      def append(df: org.apache.spark.sql.DataFrame, lo: Long, hi: Long): Unit =
        ZarrNd.appendBand(df, path, lo, hi, Seq(5L, 6L), Seq(4, 3, 4),
          nested = format == 3, format = format)
      append(band(0, 4), 0, 4)
      append(band(4, 7), 4, 7)
      val before = files()
      // the replay re-publishes the first band: chunk files and metadata
      // come out byte-identical
      append(band(0, 4), 0, 4)
      assert(files() == before, s"v$format replay changed the store")
      // a replay with fewer cells replaces each chunk whole: the cells it
      // omits read as fill, not as the previous publish's values
      append(band(0, 4).filter(col("i2") =!= 1L), 0, 4)
      val got = ZarrNd.read(spark, path).as[(Long, Long, Long, Double)].collect()
      assert(got.length == 7 * 5 * 6)
      got.foreach { case (i, j, k, v) =>
        val want = if (i < 4 && k == 1) 0.0 else (i * 10000 + j * 100 + k).toDouble
        assert(v == want, s"v$format ($i, $j, $k) = $v, want $want")
      }
      // every chunk went through a temp file and a rename; none is left
      val temps = files().keys.filter(_.contains(".__tmp-"))
      assert(temps.isEmpty, temps.mkString(", "))
    }
  }

  test("out-of-shape coordinates fail fast instead of dropping cells") {
    import spark.implicits._
    val bad = Seq((7L, 0L, 0L, 1.0)).toDF("i0", "i1", "i2", "v")
    val path = s"${GraftPaths.tmpRoot}/zarrnd_bad"
    val e = intercept[org.apache.spark.SparkException] {
      ZarrNd.write(bad, path, Seq(7L, 5L, 6L), Seq(4, 3, 4))
    }
    assert(e.getMessage != null)
  }
}
