package graft.zarr

import com.fasterxml.jackson.databind.JsonNode

/** Zarr array metadata: ONE model for every array document the engine
  * reads or writes — v2 `.zarray` and v3 `zarr.json`, any rank, numeric,
  * vlen-utf8 string and datetime64/timedelta64[ns] elements. The
  * companion's [[ZarrMeta.parse]] and [[ZarrMeta.emit]] are the only code
  * that knows the document field names; every reader parses and then
  * checks that the element kind and rank fit it, every writer emits
  * through [[Zarr.writeMetaFile]]. Grounding: the Zarr v2 spec
  * (zarr-specs v2.0) and the v3 core spec (v3.0).
  *
  *  - `shape`/`chunks`: per-dimension extents, same rank.
  *  - `dtype`: the element kind, spelled as a v2 dtype string — a numeric
  *    type from [[Zarr.Dtypes]], `|O` for vlen-utf8 strings, or
  *    `<M8[ns]`/`<m8[ns]` (either byte order) for datetime64/timedelta64
  *    nanoseconds. The byte-order prefix is also the v3 `bytes` codec's
  *    endian; 1-byte types carry `|`.
  *  - `zlib`/`comp`: the compressor. `comp` "" = the format-default
  *    framing selected by `zlib` (v2 zlib / v3 gzip, or none); "blosc" =
  *    blosc(lz4, byte-shuffle) frames, the zarr-python v2 default (see
  *    [[Blosc]]; read accepts any conforming inner codec); "zstd" = bare
  *    zstd frames (numcodecs Zstd in v2, the standalone v3 codec that is
  *    zarr-python's v3 default).
  *  - `fill`: the fill of a numeric array. `timeFill`: the exact fill of a
  *    time array — epoch nanos exceed 2^53, so it never goes through
  *    Double (NaT = Long.MinValue). String arrays fill with "".
  *  - `format`: 2 or 3.
  *  - `fOrder`: column-major chunks (v2 order "F", v3 `transpose`
  *    reversing the dims). Rank-1 chunks are order-agnostic.
  *  - `keyEnc`: the chunk-key layout, normalized across formats:
  *    "flat" = "ci.cj" at the root (v2 default; v3 "v2" encoding with "."),
  *    "nested" = "ci/cj" (v2 dimension_separator "/"; v3 "v2" encoding "/"),
  *    "c/" = "c/ci/cj" (v3 default encoding, "/" separator),
  *    "c." = "c.ci.cj" (v3 default encoding, "." separator).
  *  - `inner`: the v3 `sharding_indexed` inner chunk shape (empty =
  *    unsharded): `chunks` is then the SHARD shape, and each shard file
  *    packs a grid of inner chunks plus an end-of-file index — the
  *    object-count answer at scale, where one object per chunk would mean
  *    billions of store objects.
  *
  * The 2-D engines see a rank-1 array as the (n, 1) column matrix, so
  * `rows`/`cols`/`chunkRows`/`chunkCols` are derived for rank 1 and 2 (a
  * 1-D chunk of length L is byte-identical to a C-order (L, 1) chunk, so
  * encode and decode are shared). The model is plain data (no JSON tree):
  * it ships into tasks. */
final case class ZarrMeta(shape: Seq[Long], chunks: Seq[Int], dtype: String,
                          zlib: Boolean, comp: String, fill: Double, timeFill: Long,
                          format: Int, fOrder: Boolean, keyEnc: String,
                          inner: Seq[Int]) {
  def rank: Int = shape.length
  def rank1: Boolean = rank == 1
  def rows: Long = shape.head
  def cols: Long = if (rank1) 1L else shape(1)
  def chunkRows: Int = chunks.head
  def chunkCols: Int = if (rank1) 1 else chunks(1)
  def innerRows: Int = if (sharded) inner.head else 0
  def innerCols: Int = if (sharded) inner(1) else 0
  def sharded: Boolean = inner.nonEmpty
  /** "/"-separated chunk keys ("nested" in v2, "c/" in v3). */
  def nested: Boolean = keyEnc == "nested" || keyEnc == "c/"
  def isString: Boolean = dtype == ZarrMeta.StringDtype
  def isTime: Boolean = ZarrMeta.TimeDtypes.contains(dtype)
  def chunkElems: Int = chunks.product
  /** chunk-grid extent per dim. */
  def grid: Array[Long] =
    shape.indices.map(d => (shape(d) + chunks(d) - 1) / chunks(d)).toArray
  def nChunks: Long = grid.product
}

object ZarrMeta {

  /** The 2-D face: a rank-2 array, or with `rank1` the rank-1 array of
    * `rows` elements (`cols`/`chunkCols` are then 1). */
  def apply(rows: Long, cols: Long, chunkRows: Int, chunkCols: Int,
            zlib: Boolean, fill: Double, dtype: String = "<f8",
            format: Int = 2, innerRows: Int = 0, innerCols: Int = 0,
            fOrder: Boolean = false, keyEnc: String = "flat",
            rank1: Boolean = false, comp: String = ""): ZarrMeta =
    ZarrMeta(if (rank1) List(rows) else List(rows, cols),
      if (rank1) List(chunkRows) else List(chunkRows, chunkCols),
      dtype, zlib, comp, fill, 0L, format, fOrder, keyEnc,
      if (innerRows > 0 || innerCols > 0) List(innerRows, innerCols) else Nil)

  val StringDtype = "|O"
  val TimeDtypes: Set[String] = Set("<M8[ns]", ">M8[ns]", "<m8[ns]", ">m8[ns]")

  /** v2 dtype (sans byte order) ↔ v3 named data_type. */
  private val v3Names: Map[String, String] =
    Map("f8" -> "float64", "f4" -> "float32", "f2" -> "float16",
      "i8" -> "int64", "i4" -> "int32", "i2" -> "int16", "i1" -> "int8",
      "u2" -> "uint16", "u1" -> "uint8", "b1" -> "bool")
  private val v3NamesInv: Map[String, String] = v3Names.map(_.swap)

  // ---- parse ----

  /** Parse an array document — `.zarray` or `zarr.json`, told apart by its
    * `zarr_format` — into the model. Key-order independent, so documents
    * of other conforming writers parse too. Anything the engine cannot
    * decode faithfully (unknown compressor, codec, filter, order, data
    * type or key encoding) is a hard error naming the offending value. */
  def parse(doc: JsonNode, path: String): ZarrMeta =
    doc.path("zarr_format").asInt(2) match {
      case 2 => parseV2(doc, path)
      case 3 => parseV3(doc, path)
      case f => throw new IllegalArgumentException(s"$path: unsupported zarr_format $f")
    }

  private def extents(n: JsonNode, what: String, path: String): List[Long] = {
    require(n.isArray && n.size() > 0, s"$path: $what must be a non-empty array, got $n")
    (0 until n.size()).map(n.get(_).asLong()).toList
  }

  /** Chunk dims must fit a JVM array index: a silent .toInt wrap on a
    * foreign store's oversized dim would decode garbage, not error. */
  private def chunkExtents(n: JsonNode, what: String, rank: Int, path: String): List[Int] = {
    val c = extents(n, what, path)
    require(c.length == rank, s"$path: $what rank differs from shape rank")
    c.map { l =>
      require(l > 0 && l <= Int.MaxValue, s"$path: chunk dim $l outside supported range [1, 2^31)")
      l.toInt
    }
  }

  /** Numeric `fill_value`: a JSON number, a bool, the spec's non-finite
    * strings, or null/absent (zarr-python's "no fill" — read as 0). */
  private def numericFill(n: JsonNode): Double =
    if (n.isNull || n.isMissingNode) 0.0
    else if (n.isBoolean) { if (n.asBoolean()) 1.0 else 0.0 }
    else if (n.isTextual) n.asText() match {
      case "NaN" => Double.NaN
      case "Infinity" => Double.PositiveInfinity
      case "-Infinity" => Double.NegativeInfinity
      case other => throw new IllegalArgumentException(s"unsupported fill_value '$other'")
    } else n.asDouble()

  private def withFill(m: ZarrMeta, n: JsonNode): ZarrMeta =
    if (m.isTime) m.copy(timeFill = n.asLong(0L))
    else if (m.isString) m
    else m.copy(fill = numericFill(n))

  private def parseV2(doc: JsonNode, path: String): ZarrMeta = {
    val shape = extents(doc.path("shape"), "shape", path)
    val chunks = chunkExtents(doc.path("chunks"), "chunks", shape.length, path)
    val compNode = doc.path("compressor")
    // zarr-python's v2 DEFAULT is blosc — the frame is self-describing, so
    // any cname it declares decodes through Blosc (lz4/zlib/snappy/zstd;
    // blosclz fails loudly at decode, not here)
    val (zlib, comp) =
      if (compNode.isNull || compNode.isMissingNode) (false, "")
      else compNode.path("id").asText() match {
        case "zlib"  => (true, "")
        case "blosc" => (false, "blosc")
        case "zstd"  => (false, "zstd")
        case id      => throw new IllegalArgumentException(s"unsupported v2 compressor '$id'")
      }
    val dtype = doc.path("dtype").asText()
    val filters = doc.path("filters")
    val filterIds =
      if (filters.isArray) (0 until filters.size()).map(filters.get(_).path("id").asText())
      else Nil
    if (dtype == StringDtype)
      require(filterIds == Seq("vlen-utf8"),
        s"object-dtype (|O) array needs the vlen-utf8 filter, got $filters")
    else {
      require(Zarr.Dtypes.contains(dtype) || TimeDtypes.contains(dtype),
        s"unsupported dtype $dtype")
      require(filterIds.isEmpty, s"unsupported v2 filters $filters")
    }
    // F-order reads through the same fromFOrder path the v3 transpose
    // codec uses
    val order = doc.path("order").asText("C")
    require(order == "C" || order == "F", s"unsupported v2 order '$order'")
    val sep = doc.path("dimension_separator").asText(".")
    require(sep == "." || sep == "/", s"unsupported dimension_separator '$sep'")
    withFill(ZarrMeta(shape, chunks, dtype, zlib, comp, 0.0, 0L, 2,
      fOrder = order == "F" && shape.length > 1,
      keyEnc = if (sep == "/") "nested" else "flat", inner = Nil),
      doc.path("fill_value"))
  }

  private def parseV3(doc: JsonNode, path: String): ZarrMeta = {
    require(doc.path("node_type").asText("array") == "array",
      s"$path: zarr.json is not a v3 array node (node_type ${doc.path("node_type")})")
    val shape = extents(doc.path("shape"), "shape", path)
    val rank = shape.length
    val grid = doc.path("chunk_grid")
    require(grid.path("name").asText() == "regular",
      s"unsupported chunk_grid ${grid.path("name")}")
    val chunks = chunkExtents(grid.path("configuration").path("chunk_shape"),
      "chunk_shape", rank, path)
    // both v3 encodings, both separators
    val keyEncNode = doc.path("chunk_key_encoding")
    val keyEnc = if (keyEncNode.isMissingNode) "c/" else {
      val name = keyEncNode.path("name").asText("default")
      val sep = keyEncNode.path("configuration").path("separator")
        .asText(if (name == "v2") "." else "/")
      (name, sep) match {
        case ("default", "/") => "c/"
        case ("default", ".") => "c."
        case ("v2", "/")      => "nested"
        case ("v2", ".")      => "flat"
        case other =>
          throw new IllegalArgumentException(s"unsupported chunk_key_encoding $other")
      }
    }
    // the data type first: it decides which codecs are legal. Time arrays
    // use zarr-python's "numpy.datetime64"/"numpy.timedelta64" extension
    val dt = doc.path("data_type")
    val base: String =
      if (dt.isObject) dt.path("name").asText() match {
        case kind @ ("numpy.datetime64" | "numpy.timedelta64") =>
          val cfg = dt.path("configuration")
          require(cfg.path("unit").asText() == "ns" && cfg.path("scale_factor").asInt(1) == 1,
            s"only ns-unit scale-1 time arrays are supported, got $cfg")
          if (kind == "numpy.datetime64") "M8[ns]" else "m8[ns]"
        case _ => throw new IllegalArgumentException(s"unsupported data_type $dt")
      }
      else if (dt.asText() == "string") ""
      else v3NamesInv.getOrElse(dt.asText(),
        throw new IllegalArgumentException(s"unsupported data_type ${dt.asText()}"))
    val isString = base.isEmpty
    // codec chain: [transpose] bytes | vlen-utf8, then at most one frame
    // codec; sharding_indexed wraps the chain (its index machinery and
    // crc32c live in the shard decoder)
    val top = doc.path("codecs")
    val sharded = top.size() == 1 &&
      top.get(0).path("name").asText() == "sharding_indexed"
    val (inner, chain) = if (sharded) {
      val cfg = top.get(0).path("configuration")
      (chunkExtents(cfg.path("chunk_shape"), "inner chunk_shape", rank, path),
        cfg.path("codecs"))
    } else (Nil, top)
    var zlib = false; var comp = ""; var big = false; var fOrder = false
    var vlen = false
    val cOrder = (0 until rank).toList
    chain.forEach { c =>
      c.path("name").asText() match {
        case "gzip"  => zlib = true
        case "zstd"  => comp = "zstd"
        // shuffle mode / cname live in the self-describing frame too; only
        // bitshuffle is beyond the decoder, and IT fails loudly per chunk
        case "blosc" => comp = "blosc"
        case "bytes" | "endian" =>
          big = c.path("configuration").path("endian").asText("little") == "big"
        case "transpose" =>
          val o = c.path("configuration").path("order")
          val order = (0 until o.size()).map(o.get(_).asInt()).toList
          require(order == cOrder || order == cOrder.reverse,
            s"unsupported transpose order $order")
          fOrder = order != cOrder
        case "vlen-utf8" if isString => vlen = true
        case other =>
          throw new IllegalArgumentException(s"unsupported v3 codec '$other'")
      }
    }
    require(!isString || vlen, s"$path string array lacks the vlen-utf8 codec")
    require(rank > 1 || (!sharded && !fOrder),
      "rank-1 v3 stores with sharding or transpose codecs are unsupported")
    // 1-byte types carry no byte order: normalize to '|', the v2 spelling
    // the writers use, so append validation compares equal
    val dtype =
      if (isString) StringDtype
      else if (v3Names.contains(base) && Zarr.elemSize("|" + base) == 1) "|" + base
      else (if (big) ">" else "<") + base
    withFill(ZarrMeta(shape, chunks, dtype, zlib, comp, 0.0, 0L, 3, fOrder,
      keyEnc, inner), doc.path("fill_value"))
  }

  // ---- emit ----

  /** The metadata document for `m`: v2 keys in zarr-python's sorted
    * order, v3 in spec order with `"attributes": {}` (an existing node's
    * attributes are merged back by [[Zarr.writeMetaFile]]). The layout is
    * pinned byte for byte — stores must hash equal across engine versions
    * (`scripts/interop_check.sh` prints one digest per store family). */
  def emit(m: ZarrMeta): String = if (m.format == 3) emitV3(m) else emitV2(m)

  private def list(xs: Seq[Any]): String = xs.mkString("[", ", ", "]")

  /** `fill_value` literal per the specs (same rules in v2 and v3): an
    * INTEGER for integer and time types (a conforming reader may reject
    * `0.0` for int32), a JSON number for finite floats, and the STRINGS
    * "NaN" / "Infinity" / "-Infinity" for non-finite floats (bare NaN is
    * not JSON). Strings fill with "" (v3) / null (v2). */
  private def fillLiteral(m: ZarrMeta): String =
    if (m.isString) { if (m.format == 3) "\"\"" else "null" }
    else if (m.isTime) m.timeFill.toString
    else if (m.dtype.endsWith("b1")) { if (m.fill != 0.0) "true" else "false" }
    else if (Set("i8", "i4", "i2", "i1", "u2", "u1").contains(m.dtype.substring(1)))
      m.fill.toLong.toString
    else if (m.fill.isNaN) "\"NaN\""
    else if (m.fill.isPosInfinity) "\"Infinity\""
    else if (m.fill.isNegInfinity) "\"-Infinity\""
    else m.fill.toString

  private def emitV2(m: ZarrMeta): String = {
    require(!m.sharded, "sharding (sharding_indexed) is v3-only")
    val comp =
      if (m.comp == "blosc")
        s"""{"id": "blosc", "cname": "lz4", "clevel": 1, "shuffle": ${if (m.isString) 0 else 1}, "blocksize": 0}"""
      else if (m.comp == "zstd") """{"id": "zstd", "level": 1}"""
      else if (m.zlib) """{"id": "zlib", "level": 1}"""
      else "null"
    // dimension_separator "/" = the v2 NESTED layout (zarr-python
    // DirectoryStoreV2 nested mode); absent = the "." default
    val sep = m.keyEnc match {
      case "nested" => "\n    \"dimension_separator\": \"/\","
      case "flat"   => ""
      case other =>
        throw new IllegalArgumentException(s"v2 write cannot emit keyEnc '$other'")
    }
    val filters = if (m.isString) """[{"id": "vlen-utf8"}]""" else "null"
    s"""{
       |    "chunks": ${list(m.chunks)},$sep
       |    "compressor": $comp,
       |    "dtype": "${m.dtype}",
       |    "fill_value": ${fillLiteral(m)},
       |    "filters": $filters,
       |    "order": "${if (m.fOrder) "F" else "C"}",
       |    "shape": ${list(m.shape)},
       |    "zarr_format": 2
       |}""".stripMargin
  }

  private def emitV3(m: ZarrMeta): String = {
    require(!m.rank1 || (!m.sharded && !m.fOrder),
      "rank-1 stores do not compose with sharding or F-order")
    val dataType =
      if (m.isString) "\"string\""
      else if (m.isTime) {
        val kind = if (m.dtype.charAt(1) == 'M') "datetime64" else "timedelta64"
        s"""{"name": "numpy.$kind", "configuration": {"unit": "ns", "scale_factor": 1}}"""
      } else "\"" + v3Names(m.dtype.substring(1)) + "\""
    val head =
      if (m.isString) """{"name": "vlen-utf8"}"""
      else {
        val transpose =
          if (m.fOrder)
            s"""{"name": "transpose", "configuration": {"order": ${list((m.rank - 1) to 0 by -1)}}}, """
          else ""
        val endian = if (m.dtype.startsWith(">")) "big" else "little"
        s"""$transpose{"name": "bytes", "configuration": {"endian": "$endian"}}"""
      }
    val frame =
      if (m.comp == "blosc") {
        val (shuffle, typesize) =
          if (m.isString) ("noshuffle", 1)
          else ("shuffle", if (m.isTime) 8 else Zarr.elemSize(m.dtype))
        s""", {"name": "blosc", "configuration": {"cname": "lz4", "clevel": 1, "shuffle": "$shuffle", "typesize": $typesize, "blocksize": 0}}"""
      } else if (m.comp == "zstd")
        """, {"name": "zstd", "configuration": {"level": 1, "checksum": false}}"""
      else if (m.zlib) """, {"name": "gzip", "configuration": {"level": 1}}"""
      else ""
    val chain = s"[$head$frame]"
    val codecs = if (m.sharded)
      s"""[{"name": "sharding_indexed", "configuration": {
         |        "chunk_shape": ${list(m.inner)},
         |        "codecs": $chain,
         |        "index_codecs": [{"name": "bytes", "configuration": {"endian": "little"}}, {"name": "crc32c"}],
         |        "index_location": "end"}}]""".stripMargin
    else chain
    // the key layout the chunk files actually use ("flat"/"nested" = the
    // v2-style encodings a v3 store may carry for migrated-in-place trees)
    val keyEncJson = m.keyEnc match {
      case "c/" => """{"name": "default", "configuration": {"separator": "/"}}"""
      case "c." => """{"name": "default", "configuration": {"separator": "."}}"""
      case "nested" => """{"name": "v2", "configuration": {"separator": "/"}}"""
      case "flat" => """{"name": "v2", "configuration": {"separator": "."}}"""
      case other =>
        throw new IllegalArgumentException(s"v3 write cannot emit keyEnc '$other'")
    }
    s"""{
       |    "zarr_format": 3,
       |    "node_type": "array",
       |    "shape": ${list(m.shape)},
       |    "data_type": $dataType,
       |    "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": ${list(m.chunks)}}},
       |    "chunk_key_encoding": $keyEncJson,
       |    "fill_value": ${fillLiteral(m)},
       |    "codecs": $codecs,
       |    "attributes": {}
       |}""".stripMargin
  }
}
