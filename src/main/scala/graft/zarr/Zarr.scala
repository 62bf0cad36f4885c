package graft.zarr

import java.nio.{ByteBuffer, ByteOrder}
import java.util.zip.{Deflater, Inflater}

import com.github.luben.zstd.Zstd

import scala.reflect.ClassTag

import org.apache.spark.sql.{Column, DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.functions._

import graft.array.ZMatrix

/** Zarr store in BOTH formats: v2 (directory of "ci.cj" chunk files +
  * `.zarray` JSON — the reference's storage format; lasersonlab/zappy
  * reads/writes Zarr v2 arrays with C-order chunks, little-endian dtype,
  * `compressor: null` or zlib) and v3 (the current spec: `zarr.json`
  * metadata, "c/ci/cj" chunk keys, named data types, gzip codec). No
  * external libraries. Array metadata is one model for every rank and
  * element kind — [[ZarrMeta]], whose parse/emit are the only code that
  * knows the document fields; this object reads it (`readMeta` and the
  * string/time readers, each checking the kind and rank it serves) and
  * writes it only through `writeMetaFile`. Format is detected on read;
  * chosen on write via `format = 2|3` / `.option("zarrFormat", ...)`.
  * Chunk bytes are likewise framed in one place: `frame`/`unframe` pick
  * blosc, zstd, zlib (v2), gzip (v3) or none from the array's metadata
  * for every element kind — numeric, vlen string and datetime.
  *
  * Scale design: the chunk grid IS the partitioning.
  *  - write: one declared exchange (RequiresDistributionAndOrdering on the
  *    chunk id) then each task writes only its own chunk files — no driver
  *    involvement, no collect;
  *  - read: the driver touches METADATA only — the store listing and the
  *    chunk COORDINATE grid (16 B/chunk, the same driver footprint as
  *    Spark's own file-source listing) — and each task opens and decodes
  *    its own chunk files. The DSv2 source is the primary path (adds
  *    range/column pruning + statistics); `Zarr.read` is the ZMatrix
  *    convenience wrapper with the same partition-per-chunk layout.
  */
object Zarr {

  /** Array metadata (see [[ZarrMeta]] for the fields); the 2-D engines
    * read `rows`/`cols`/`chunkRows`/`chunkCols`/`rank1` off it. */
  type Meta = ZarrMeta
  val Meta: ZarrMeta.type = ZarrMeta

  /** Row-major ↔ column-major buffer permutation (the v3 `transpose`
    * codec with order [1, 0]; self-inverse up to swapped dims). */
  def toFOrder(buf: Array[Double], rows: Int, cols: Int): Array[Double] = {
    val out = new Array[Double](buf.length)
    var k = 0
    var j = 0
    while (j < cols) {
      var i = 0
      while (i < rows) { out(k) = buf(i * cols + j); k += 1; i += 1 }
      j += 1
    }
    out
  }

  def fromFOrder(buf: Array[Double], rows: Int, cols: Int): Array[Double] = {
    val out = new Array[Double](buf.length)
    var k = 0
    var j = 0
    while (j < cols) {
      var i = 0
      while (i < rows) { out(i * cols + j) = buf(k); k += 1; i += 1 }
      j += 1
    }
    out
  }

  /** Supported Zarr v2 dtype strings: byte-order prefix ('<' little, '>'
    * big, '|' none) + f8/f4/f2/i8/i4/i2, the unsigned small ints u2/u1
    * and i1, plus bool ('|b1' — anndata boolean mask columns). The small
    * dtypes are common in community stores (u1 image bytes, i2/u2 counts,
    * f2 compressed embeddings). In-flight values are always doubles (the
    * ZMatrix substrate); integral dtypes truncate on write, bool maps
    * 0.0 ↔ false and anything else → true → 1.0, i8 values beyond 2^53
    * lose precision on read-back through double, and f2 writes
    * round-to-nearest-even to the nearest representable half (the IEEE
    * 754 / NumPy cast rule). */
  val Dtypes: Set[String] =
    Set("<f8", "<f4", "<f2", "<i8", "<i4", "<i2", "<u2",
        ">f8", ">f4", ">f2", ">i8", ">i4", ">i2", ">u2",
        "|u1", "|i1", "|b1")

  def elemSize(dtype: String): Int = dtype.substring(1) match {
    case "f8" | "i8"               => 8
    case "f4" | "i4"               => 4
    case "f2" | "i2" | "u2"        => 2
    case "u1" | "i1" | "b1"        => 1
    case other => throw new IllegalArgumentException(s"unsupported dtype $other")
  }

  /** IEEE 754 binary16 ↔ double (JDK 17 predates Float.float16ToFloat).
    * Decode is exact (every half is a double); encode rounds to nearest,
    * ties to even, overflow → ±Inf — the NumPy float16 cast. */
  private[zarr] def halfToDouble(h: Short): Double = {
    val bits = h & 0xFFFF
    val sign = if ((bits & 0x8000) != 0) -1.0 else 1.0
    val exp = (bits >> 10) & 0x1F
    val mant = bits & 0x3FF
    if (exp == 0x1F) {
      if (mant == 0) sign * Double.PositiveInfinity else Double.NaN
    } else if (exp == 0) sign * mant * 5.9604644775390625e-8 // 2^-24 subnormals
    else sign * (mant + 1024) * math.pow(2.0, exp - 25)
  }

  private[zarr] def doubleToHalf(d: Double): Short = {
    // straight double→half, NOT double→float→half: the two-step cast
    // double-rounds — a value just above a half-precision tie point can
    // land exactly ON the tie after the float step and then round the
    // other way, a 1-ulp divergence from the single-step NumPy cast
    val bits = java.lang.Double.doubleToLongBits(d)
    val sign = ((bits >>> 48) & 0x8000L).toInt
    val mag = bits & 0x7fffffffffffffffL
    if (mag >= 0x7ff0000000000000L) // Inf / NaN (NaN keeps the quiet bit)
      (sign | 0x7c00 | (if (mag > 0x7ff0000000000000L) 0x0200 else 0)).toShort
    else if (mag >= 0x3f10000000000000L) { // normal half range, exp >= -14
      // drop 42 mantissa bits rounding to nearest (ties to even); a carry
      // propagates into the exponent monotonically, so the rebias
      // subtraction works unchanged and past-65504 magnitudes clamp to Inf
      val h = ((mag + 0x1FFFFFFFFFFL + ((mag >>> 42) & 1L)) >>> 42) - (1008L << 10)
      (sign | math.min(h, 0x7c00L).toInt).toShort
    } else {                      // subnormal half (or underflow to ±0)
      val e = (mag >>> 52).toInt  // biased double exponent
      if (e < 998) sign.toShort   // below half the smallest subnormal
      else {
        val m = (mag & 0xFFFFFFFFFFFFFL) | (1L << 52)
        val shift = 1051 - e      // 43..53 in this branch
        val sub = (m >>> shift).toInt
        val rem = m & ((1L << shift) - 1L)
        val half = 1L << (shift - 1)
        val up = if (rem > half || (rem == half && (sub & 1) == 1)) 1 else 0
        (sign | (sub + up)).toShort
      }
    }
  }

  // ---- store I/O through the Hadoop FileSystem API ----
  // One code path serves file://, hdfs://, and s3a:// stores: executors
  // build a FileSystem from the default Configuration (which picks up
  // core-site.xml from the cluster classpath — the standard deployment
  // contract). Checksumming is disabled for the local scheme so plain
  // local stores don't grow .crc sidecar files.
  import org.apache.hadoop.fs.{FileSystem, Path => HPath}

  // one Configuration per JVM: constructing one parses the default XML
  // resources (~ms) — per-chunk construction would dominate chunk I/O
  @transient private lazy val hadoopConf = new org.apache.hadoop.conf.Configuration()

  // PRIVATE FileSystem instances, one per scheme+authority: the JVM-wide
  // FileSystem.get cache would hand back the same object Spark itself uses
  // for parquet/checkpoint I/O, and mutating ITS checksum flags would
  // silently disable corruption detection for the whole application.
  @transient private lazy val fsCache =
    new java.util.concurrent.ConcurrentHashMap[String, FileSystem]()

  private def fsFor(path: String): (FileSystem, HPath) = {
    val p = new HPath(path)
    val uri = p.toUri
    val fs = fsCache.computeIfAbsent(s"${uri.getScheme}|${uri.getAuthority}", _ => {
      val f = FileSystem.newInstance(uri, hadoopConf)
      f.setWriteChecksum(false)  // ours alone: no .crc sidecars in stores
      f.setVerifyChecksum(false)
      f
    })
    (fs, p)
  }

  private[graft] def readBytes(path: String): Array[Byte] = {
    val (fs, p) = fsFor(path)
    val in = fs.open(p)
    try in.readAllBytes() finally in.close()
  }

  private[graft] def writeBytes(path: String, bytes: Array[Byte]): Unit = {
    val (fs, p) = fsFor(path)
    val out = fs.create(p, true) // creates parent dirs, overwrites
    try out.write(bytes) finally out.close()
  }

  private[graft] def exists(path: String): Boolean = {
    val (fs, p) = fsFor(path); fs.exists(p)
  }

  private[graft] def delete(path: String, recursive: Boolean = false): Unit = {
    val (fs, p) = fsFor(path); fs.delete(p, recursive); ()
  }

  /** Delete orphaned attempt-temp chunk files (`*.__tmp-<taskId>`) left by
    * hard-crashed executors of previous jobs — overwrite truncation covers
    * them too, but append-mode jobs never truncate, so they sweep here.
    * One LIST per directory level (root, `c/`, `c/<ci>/`), the same
    * metadata work a chunk listing already does. */
  private[graft] def cleanTemps(path: String): Unit = {
    def sweepFiles(dir: String): Seq[String] =
      listNames(dir).filter(_.contains(".__tmp-")).map(n => s"$dir/$n")
    val temps = sweepFiles(path) ++
      listNames(s"$path/c").filter(_.matches("\\d+"))
        .flatMap(ci => sweepFiles(s"$path/c/$ci"))
    temps.foreach(delete(_))
  }

  /** Rename `src` over `dst` (replacing it if present). Hadoop's
    * `FileSystem.rename` refuses an existing destination on most schemes,
    * so any stale destination — e.g. a chunk left by a previous failed
    * job that overwrite-truncation missed — is deleted first. */
  private[graft] def renameOver(src: String, dst: String): Unit = {
    val (fs, s) = fsFor(src)
    val d = new HPath(dst)
    if (fs.exists(d)) fs.delete(d, false)
    require(fs.rename(s, d), s"rename $src -> $dst failed")
  }

  private[graft] def listNames(path: String): Seq[String] = {
    val (fs, p) = fsFor(path)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
  }

  private def byteOrder(dtype: String): ByteOrder =
    if (dtype.startsWith(">")) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN

  // ---- group / AnnData-layout navigation ----
  // The reference's primary entry shape is an ARRAY INSIDE A GROUP: scanpy
  // writes an anndata `.zarr` directory (root group; `X` array; `obs`/`var`/
  // `obsm`/`layers` sub-nodes) and zappy's from_zarr takes (store, key).
  // A store address is `root#key` (or `.option("key", ...)` on the DSv2
  // source); navigation is driver-side metadata-only.

  /** Split a `store#key` address into (store root, optional key).
    * '#' is RESERVED as the key separator in store addresses — a store
    * directory whose own name contains a literal '#' cannot be addressed
    * through this convenience form (rename it, or mount it under a
    * '#'-free path); the trade buys zappy's from_zarr(store, key) entry
    * shape in a single string. */
  def splitKey(path: String): (String, Option[String]) =
    path.lastIndexOf('#') match {
      case -1 => (path, None)
      case ix => (path.substring(0, ix),
        Some(path.substring(ix + 1)).filter(_.nonEmpty))
    }

  private def v3NodeType(path: String): Option[String] =
    if (!exists(s"$path/zarr.json")) None
    else Some(mapper
      .readTree(new String(readBytes(s"$path/zarr.json"), "UTF-8"))
      // v3 requires node_type; absent = some other tool's file, not a node
      .path("node_type").asText(""))

  /** Is `path` a Zarr group (v2 `.zgroup` or v3 `node_type: group`)? */
  def isGroupNode(path: String): Boolean =
    exists(s"$path/.zgroup") || v3NodeType(path).contains("group")

  /** Is `path` a Zarr array (v2 `.zarray` or v3 `node_type: array`)? */
  def isArrayNode(path: String): Boolean =
    exists(s"$path/.zarray") || v3NodeType(path).contains("array")

  /** Child node names (arrays or sub-groups) of a group — ONE listing plus
    * one metadata probe per child, driver-side only. */
  def groupKeys(path: String): Seq[String] =
    listNames(path)
      .filter(n => isArrayNode(s"$path/$n") || isGroupNode(s"$path/$n"))
      .sorted

  private[graft] def validKeySegments(key: String): Seq[String] = {
    val segs = key.split("/").toSeq.filter(_.nonEmpty)
    require(segs.nonEmpty && segs.forall(s => s != "." && s != ".."),
      s"invalid zarr group key '$key'")
    segs
  }

  // -- consolidated metadata (zarr-python `.zmetadata`) --
  // At 100 TB on an object store, navigating a group costs one existence
  // probe per level per node; consolidated metadata collapses the whole
  // hierarchy into ONE object read. We write the classic v2 form
  // (`{"metadata": {"X/.zarray": {...}, ...}, "zarr_consolidated_format": 1}`)
  // and navigation below prefers it whenever present.

  // one ObjectMapper per JVM (thread-safe after construction; building one
  // is the expensive part — deep hierarchies probe metadata O(nodes) times)
  @transient private lazy val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Walk the hierarchy under `root` and write `.zmetadata` consolidating
    * every node metadata file (`.zgroup`/`.zarray`/`.zattrs`/`zarr.json`),
    * keyed by store-relative path — readable by zarr-python's
    * `open_consolidated` for all-v2 stores. Re-run after adding nodes. */
  def consolidateMetadata(root: String): Unit = {
    val out = mapper.createObjectNode()
    val meta = out.putObject("metadata")
    def put(rel: String, name: String): Unit = {
      val abs = if (rel.isEmpty) s"$root/$name" else s"$root/$rel/$name"
      if (exists(abs)) {
        val key = if (rel.isEmpty) name else s"$rel/$name"
        meta.set(key, mapper.readTree(new String(readBytes(abs), "UTF-8")))
        ()
      }
    }
    def walk(rel: String): Unit = {
      Seq(".zgroup", ".zarray", ".zattrs", "zarr.json").foreach(put(rel, _))
      val abs = if (rel.isEmpty) root else s"$root/$rel"
      if (isGroupNode(abs))
        groupKeys(abs).foreach(c => walk(if (rel.isEmpty) c else s"$rel/$c"))
    }
    walk("")
    out.put("zarr_consolidated_format", 1)
    writeBytes(s"$root/.zmetadata",
      mapper.writerWithDefaultPrettyPrinter().writeValueAsString(out).getBytes("UTF-8"))
  }

  /** Zarr v3-NATIVE consolidated metadata: the spec puts the map INSIDE the
    * root group's `zarr.json` (`consolidated_metadata: {metadata:
    * {<rel-path>: <node zarr.json>}, kind: "inline", must_understand:
    * false}`) instead of a side file — zarr-python 3 writes/reads this
    * form. Same 100 TB motive as `.zmetadata`: the whole hierarchy
    * navigates from ONE object read. Existing root attributes are
    * preserved; nested consolidated blocks are stripped from child docs
    * (the root map already covers their subtrees). */
  def consolidateMetadataV3(root: String): Unit = {
    require(exists(s"$root/zarr.json"),
      s"$root has no zarr.json — v3 consolidation needs a v3 group root")
    val rootDoc = mapper.readTree(new String(readBytes(s"$root/zarr.json"), "UTF-8"))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    require(rootDoc.path("node_type").asText("") == "group",
      s"$root zarr.json is not a group node")
    val consolidated = mapper.createObjectNode()
    val meta = consolidated.putObject("metadata")
    def walk(rel: String): Unit = {
      val abs = if (rel.isEmpty) root else s"$root/$rel"
      if (rel.nonEmpty && exists(s"$abs/zarr.json")) {
        val doc = mapper.readTree(new String(readBytes(s"$abs/zarr.json"), "UTF-8"))
        doc match {
          case o: com.fasterxml.jackson.databind.node.ObjectNode =>
            o.remove("consolidated_metadata"); ()
          case _ => ()
        }
        meta.set(rel, doc)
        ()
      }
      if (isGroupNode(abs))
        groupKeys(abs).foreach(c => walk(if (rel.isEmpty) c else s"$rel/$c"))
    }
    walk("")
    consolidated.put("kind", "inline")
    consolidated.put("must_understand", false)
    rootDoc.set[com.fasterxml.jackson.databind.JsonNode]("consolidated_metadata", consolidated)
    writeBytes(s"$root/zarr.json",
      mapper.writerWithDefaultPrettyPrinter().writeValueAsString(rootDoc).getBytes("UTF-8"))
  }

  /** Root zarr.json parsed IF it carries inline consolidated metadata —
    * one read + one parse, shared by the has-check and the map build (a
    * separate boolean probe would re-fetch and re-parse the same object). */
  private def v3ConsolidatedDoc(root: String):
      Option[com.fasterxml.jackson.databind.JsonNode] =
    if (!exists(s"$root/zarr.json")) None
    else Some(mapper.readTree(new String(readBytes(s"$root/zarr.json"), "UTF-8")))
      .filter(_.has("consolidated_metadata"))

  /** Re-consolidate the nearest consolidated root at or above `path`
    * (inclusive), so a write anywhere inside a consolidated hierarchy —
    * group-addressed OR direct-path — refreshes the map, whichever form
    * (v2 `.zmetadata` side file or v3 inline) the root uses. Walks parent
    * directories (bounded) and touches only metadata. */
  private[graft] def refreshConsolidatedAbove(path: String): Unit = {
    var p = new HPath(path)
    var depth = 0
    while (p != null && !p.isRoot && depth < 16) {
      // HPath child construction, not string concat — concatenation
      // mangles scheme-qualified roots ("file:///" + "/x" → bad authority)
      if (exists(new HPath(p, ".zmetadata").toString)) {
        consolidateMetadata(p.toString); return
      }
      if (v3ConsolidatedDoc(p.toString).isDefined) {
        consolidateMetadataV3(p.toString); return
      }
      p = p.getParent
      depth += 1
    }
  }

  /** Parsed consolidated key map, if the store has one — either form.
    * The v3 inline map is NORMALIZED to the v2 key shape
    * (`<rel>/zarr.json` → node doc) so navigation code handles both
    * identically. */
  private def readConsolidated(root: String):
      Option[Map[String, com.fasterxml.jackson.databind.JsonNode]] =
    if (exists(s"$root/.zmetadata")) {
      val doc = mapper.readTree(new String(readBytes(s"$root/.zmetadata"), "UTF-8"))
      val m = doc.path("metadata")
      val b = Map.newBuilder[String, com.fasterxml.jackson.databind.JsonNode]
      m.fieldNames().forEachRemaining(k => b += k -> m.get(k))
      Some(b.result())
    } else v3ConsolidatedDoc(root).map { rootDoc =>
      val m = rootDoc.path("consolidated_metadata").path("metadata")
      val b = Map.newBuilder[String, com.fasterxml.jackson.databind.JsonNode]
      b += "zarr.json" -> rootDoc
      m.fieldNames().forEachRemaining(k => b += s"$k/zarr.json" -> m.get(k))
      b.result()
    }

  /** Resolve a store address to its array directory: follows `root#key`
    * (explicit `key` wins over the fragment) through group levels,
    * failing with the available keys on a bad hop. No key + group root is
    * an error that LISTS the group's children — the scanpy-store mistake
    * (`spark.read...load("adata.zarr")`) self-documents the fix.
    *
    * With consolidated metadata present, the entire navigation costs ONE
    * store read (`.zmetadata`) — no per-level existence probes. */
  def resolveArray(rawPath: String, key: Option[String] = None): String = {
    val (root, frag) = splitKey(rawPath)
    val cons = readConsolidated(root)
    // node-kind tests against the consolidated key map (rel = ""  is the
    // root). The map answers POSITIVELY without store probes; a map miss
    // still falls back to the store — .zmetadata reflects consolidation
    // time, and a node added since (an external writer that didn't
    // re-consolidate) must stay reachable, not fail with a wrong
    // "no .zarray" error.
    def keyOf(rel: String, name: String) = if (rel.isEmpty) name else s"$rel/$name"
    def isGroupRel(rel: String, abs: String): Boolean = cons.exists(m =>
      m.contains(keyOf(rel, ".zgroup")) ||
        m.get(keyOf(rel, "zarr.json")).exists(_.path("node_type").asText("") == "group")) ||
      isGroupNode(abs)
    def isArrayRel(rel: String, abs: String): Boolean = cons.exists(m =>
      m.contains(keyOf(rel, ".zarray")) ||
        m.get(keyOf(rel, "zarr.json")).exists(_.path("node_type").asText("") == "array")) ||
      isArrayNode(abs)
    def childNodes(rel: String, abs: String): Seq[String] = cons match {
      case Some(m) =>
        val prefix = if (rel.isEmpty) "" else s"$rel/"
        m.keys.toSeq.collect {
          case k if k.startsWith(prefix) && k.length > prefix.length =>
            k.substring(prefix.length).split("/")(0)
        }.distinct.filterNot(n => n.startsWith(".z") || n == "zarr.json").sorted
      case None => groupKeys(abs)
    }
    key.filter(_.nonEmpty).orElse(frag) match {
      case None =>
        if (isGroupRel("", root)) throw new IllegalArgumentException(
          s"$root is a Zarr GROUP, not an array — select an array with " +
            s"'$root#<key>' or .option(\"key\", <key>); available keys: " +
            childNodes("", root).mkString(", "))
        root
      case Some(k) =>
        val segs = validKeySegments(k)
        segs.indices.foreach { i =>
          val rel = segs.take(i).mkString("/")
          val abs = if (rel.isEmpty) root else s"$root/$rel"
          if (!isGroupRel(rel, abs)) throw new IllegalArgumentException(
            s"$abs is not a Zarr group (resolving key '$k' under $root)")
          if (!childNodes(rel, abs).contains(segs(i)) &&
              !exists(s"$abs/${segs(i)}")) throw new IllegalArgumentException(
            s"no node '${segs(i)}' under $abs (resolving key '$k'); " +
              s"available keys: ${childNodes(rel, abs).mkString(", ")}")
        }
        val rel = segs.mkString("/")
        val arr = s"$root/$rel"
        if (isArrayRel(rel, arr)) arr
        else if (isGroupRel(rel, arr)) throw new IllegalArgumentException(
          s"$arr is a Zarr sub-GROUP, not an array; available keys: " +
            childNodes(rel, arr).mkString(", "))
        else throw new IllegalArgumentException(
          s"$arr is not a Zarr array (no .zarray/zarr.json)")
    }
  }

  /** Create group metadata (root and intermediate levels) for an array
    * written under `root` + `segs`, so the result is a conforming group
    * hierarchy other Zarr readers can navigate. Existing node metadata is
    * never overwritten (appends into an existing anndata store). */
  private[graft] def ensureGroupMeta(root: String, segs: Seq[String], format: Int): Unit =
    (0 until segs.length)
      .map(i => (root +: segs.take(i)).mkString("/"))
      .foreach { lvl =>
        if (!exists(s"$lvl/.zgroup") && !exists(s"$lvl/zarr.json")) {
          if (format == 3)
            writeBytes(s"$lvl/zarr.json",
              """{"zarr_format": 3, "node_type": "group", "attributes": {}}"""
                .getBytes("UTF-8"))
          else
            writeBytes(s"$lvl/.zgroup", """{"zarr_format": 2}""".getBytes("UTF-8"))
        }
      }

  /** Metadata of a 1-D/2-D numeric array — the 2-D engines' view of
    * [[readArrayMeta]]: a rank-N store points at ZarrNd, a string or time
    * store at its own reader. */
  def readMeta(path: String): Meta = {
    val m = readArrayMeta(path)
    require(m.rank <= 2, s"$path is a rank-${m.rank} array — read it through ZarrNd")
    requireNumeric(m, path)
    m
  }

  private[zarr] def requireNumeric(m: Meta, path: String): Unit =
    require(Dtypes.contains(m.dtype), s"$path: unsupported dtype ${m.dtype}" +
      (if (m.isString) " — vlen string arrays read through Zarr.readStringVector"
       else if (m.isTime) " — datetime64/timedelta64 arrays read through Zarr.readTimeVector"
       else ""))

  /** Any array's metadata, parsed by [[ZarrMeta.parse]]: reads `zarr.json`
    * (v3) when present, else `.zarray` (v2). When the array carries NO
    * per-node metadata at all, falls back to a CONSOLIDATED map on an
    * ancestor group — the cloud-store layout where one `.zmetadata` (or
    * v3 inline map) object replaces thousands of per-array metadata GETs,
    * and per-array docs may be absent entirely. */
  private[zarr] def readArrayMeta(path: String): Meta = {
    def parseFile(f: String) =
      parseArray(mapper.readTree(new String(readBytes(s"$path/$f"), "UTF-8")), path)
    if (exists(s"$path/zarr.json")) parseFile("zarr.json")
    else if (exists(s"$path/.zarray")) parseFile(".zarray")
    else consolidatedMeta(path).getOrElse {
      if (exists(s"$path/.zgroup")) throw new IllegalArgumentException(
        s"$path is a Zarr v2 GROUP, not an array — select an array with " +
          s"'$path#<key>' or .option(\"key\", <key>); available keys: " +
          groupKeys(path).mkString(", "))
      else throw new IllegalArgumentException(
        s"$path is not a Zarr store (no zarr.json / .zarray / .zgroup, " +
          "and no ancestor consolidated metadata covers it)")
    }
  }

  private def parseArray(doc: com.fasterxml.jackson.databind.JsonNode, path: String): Meta = {
    if (doc.path("node_type").asText("") == "group")
      throw new IllegalArgumentException(
        s"$path is a Zarr v3 GROUP, not an array — select an array with " +
          s"'$path#<key>' or .option(\"key\", <key>); available keys: " +
          groupKeys(path).mkString(", "))
    ZarrMeta.parse(doc, path)
  }

  /** Resolve an array's Meta purely from an ancestor's consolidated map
    * (walks up a bounded number of levels accumulating the relative key).
    * A nested group may carry its own PARTIAL consolidated map (e.g. one
    * consolidated subtree inside a larger consolidated root): when an
    * ancestor's map doesn't list the array, the walk CONTINUES upward
    * rather than stopping — the nearest map shadows higher ones only for
    * the keys it actually contains. */
  private def consolidatedMeta(path: String): Option[Meta] = {
    var p = new HPath(path)
    var rel = List.empty[String]
    var depth = 0
    while (p != null && !p.isRoot && depth < 16) {
      readConsolidated(p.toString) match {
        case Some(m) if rel.nonEmpty =>
          val r = rel.mkString("/")
          m.get(s"$r/zarr.json").orElse(m.get(s"$r/.zarray"))
            .foreach(doc => return Some(parseArray(doc, path)))
        case _ => ()
      }
      rel = p.getName :: rel
      p = p.getParent
      depth += 1
    }
    None
  }

  // ---- the chunk frame ----
  // A chunk's bytes carry one compression frame, chosen by the array's
  // `comp`/`zlib`/`format`: a blosc(lz4, shuffle) frame, a zstd frame, v2
  // zlib, v3 gzip, or none. `frame`/`unframe` are the only code that makes
  // that choice; every chunk writer and reader of every element kind
  // (numeric at any rank, vlen string, datetime) goes through them.

  /** The compressor options a writer accepts: `comp` is "", "blosc" or
    * "zstd", and a store carries one compressor — blosc/zstd would win on
    * encode while the zlib flag survived into append validation, so a
    * later append with the SAME options would fail the geometry check. */
  private[graft] def requireCodec(zlib: Boolean, comp: String): Unit = {
    require(comp == "" || comp == "blosc" || comp == "zstd",
      s"unsupported comp '$comp' (\"\", \"blosc\" or \"zstd\")")
    require(!(zlib && comp != ""), "pick one of zlib / blosc / zstd, not both")
  }

  /** Frame a chunk's raw bytes; `width` is the element byte width (blosc's
    * shuffle typesize). zlib and gzip run at level 1, the level the v3
    * gzip metadata declares. */
  private[zarr] def frame(raw: Array[Byte], width: Int, zlib: Boolean, format: Int,
                          comp: String): Array[Byte] =
    if (comp == "blosc") Blosc.compress(raw, width)
    else if (comp == "zstd") Zstd.compress(raw, 1)
    else if (!zlib) raw
    else {
      val out = new java.io.ByteArrayOutputStream(raw.length / 2)
      if (format == 3) {
        // GZIPOutputStream's own default level would be 6
        val gz = new java.util.zip.GZIPOutputStream(out) { `def`.setLevel(1) }
        gz.write(raw); gz.close()
      } else {
        val d = new Deflater(1); d.setInput(raw); d.finish()
        val buf = new Array[Byte](8192)
        while (!d.finished()) out.write(buf, 0, d.deflate(buf))
        d.end()
      }
      out.toByteArray
    }

  /** The `outLen` of a chunk whose decoded size the geometry does not fix
    * (vlen strings): [[unframe]] takes it from the frame itself. */
  private[zarr] val SelfSized = -1

  /** Undo [[frame]]. A known `outLen` (chunk shape × element width) is
    * checked against what every codec decodes: the blosc header's nbytes
    * and cbytes, the zstd decoded length, the zlib stream's progress and
    * the gzip stream's length; a raw chunk passes through for its decoder
    * to check. With [[SelfSized]] the size comes from the frame: the blosc
    * header (capped, see `Blosc.decompressSelfSized`), the zstd content
    * size (a frame without one is refused, not guessed at), or the end of
    * the zlib/gzip stream. */
  private[graft] def unframe(bytes: Array[Byte], zlib: Boolean, format: Int, comp: String,
                             outLen: Int): Array[Byte] =
    if (comp == "blosc")
      if (outLen == SelfSized) Blosc.decompressSelfSized(bytes) else Blosc.decompress(bytes, outLen)
    else if (comp == "zstd") {
      val n = if (outLen != SelfSized) outLen else {
        val c = Zstd.getFrameContentSize(bytes)
        require(c >= 0 && c <= Int.MaxValue, s"zstd frame lacks a usable content size (got $c)")
        c.toInt
      }
      val out = new Array[Byte](n)
      val got = Zstd.decompressByteArray(out, 0, n, bytes, 0, bytes.length)
      require(got == n, s"zstd chunk decoded $got of $n bytes")
      out
    }
    else if (!zlib) bytes
    else if (outLen == SelfSized) {
      val src = new java.io.ByteArrayInputStream(bytes)
      val in =
        if (format == 3) new java.util.zip.GZIPInputStream(src)
        else new java.util.zip.InflaterInputStream(src)
      try in.readAllBytes() finally in.close()
    } else if (format == 3) {
      val in = new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(bytes))
      val out = new Array[Byte](outLen)
      var off = 0
      try while (off < outLen) {
        val n = in.read(out, off, outLen - off)
        require(n > 0, "truncated gzip chunk")
        off += n
      } finally in.close()
      out
    } else {
      val inf = new Inflater(); inf.setInput(bytes)
      val out = new Array[Byte](outLen)
      var off = 0
      try while (off < outLen && !inf.finished()) {
        val n = inf.inflate(out, off, outLen - off)
        // zero progress before stream end = truncated/corrupt input; without
        // this check the loop would spin forever and hang the executor task
        if (n == 0 && !inf.finished())
          throw new IllegalArgumentException(
            s"truncated or corrupt zlib chunk (decoded $off of $outLen bytes)")
        off += n
      } finally inf.end()
      require(off == outLen, s"zlib chunk decoded $off of $outLen bytes")
      out
    }

  /** Encode a row-major double buffer as one chunk in `dtype` (integral
    * dtypes truncate toward zero, the NumPy C-cast rule), framed by
    * [[frame]] — blosc, zstd, or the format's zlib (v2) / gzip (v3). */
  def encodeChunk(buf: Array[Double], dtype: String, zlib: Boolean,
                  format: Int = 2, comp: String = ""): Array[Byte] = {
    // r21 fused blosc path for the 8-byte dtypes (f8 data, i8 index
    // vectors — the anndata/CSR hot path): shuffle lanes are emitted
    // straight off the double buffer and the row-major byte image never
    // materializes. Byte-identical frames (Blosc.compress8 shares the
    // frame builder; doubleToRawLongBits IS what ByteBuffer.putDouble
    // writes) — differential-pinned in ZarrSpec.
    if (comp == "blosc" && dtype.endsWith("f8") && byteOrder(dtype) == ByteOrder.LITTLE_ENDIAN)
      return Blosc.compress8(buf, java.lang.Double.doubleToRawLongBits)
    if (comp == "blosc" && dtype.endsWith("i8") && byteOrder(dtype) == ByteOrder.LITTLE_ENDIAN)
      return Blosc.compress8(buf, _.toLong)
    val bb = ByteBuffer.allocate(buf.length * elemSize(dtype)).order(byteOrder(dtype))
    dtype.substring(1) match {
      case "f8" => buf.foreach(bb.putDouble)
      case "f4" => buf.foreach(v => bb.putFloat(v.toFloat))
      case "f2" => buf.foreach(v => bb.putShort(doubleToHalf(v)))
      case "i8" => buf.foreach(v => bb.putLong(v.toLong))
      case "i4" => buf.foreach(v => bb.putInt(v.toInt))
      case "i2" => buf.foreach(v => bb.putShort(v.toShort))
      case "u2" => buf.foreach(v => bb.putShort((v.toInt & 0xFFFF).toShort))
      case "u1" => buf.foreach(v => bb.put((v.toInt & 0xFF).toByte))
      case "i1" => buf.foreach(v => bb.put(v.toByte))
      case "b1" => buf.foreach(v => bb.put(if (v != 0.0) 1.toByte else 0.toByte))
    }
    frame(bb.array(), elemSize(dtype), zlib, format, comp)
  }

  /** Decode one chunk file's bytes into row-major doubles. */
  def decodeChunk(bytes0: Array[Byte], nElems: Int, zlib: Boolean,
                  dtype: String = "<f8", format: Int = 2,
                  comp: String = ""): Array[Double] =
    decodeValues(unframe(bytes0, zlib, format, comp, nElems * elemSize(dtype)), nElems, dtype)

  /** `nElems` elements of an unframed chunk as doubles. */
  private def decodeValues(raw: Array[Byte], nElems: Int, dtype: String): Array[Double] = {
    val bb = ByteBuffer.wrap(raw).order(byteOrder(dtype))
    dtype.substring(1) match {
      case "f8" => Array.fill(nElems)(bb.getDouble)
      case "f4" => Array.fill(nElems)(bb.getFloat.toDouble)
      case "f2" => Array.fill(nElems)(halfToDouble(bb.getShort))
      case "i8" => Array.fill(nElems)(bb.getLong.toDouble)
      case "i4" => Array.fill(nElems)(bb.getInt.toDouble)
      case "i2" => Array.fill(nElems)(bb.getShort.toDouble)
      case "u2" => Array.fill(nElems)((bb.getShort & 0xFFFF).toDouble)
      case "u1" => Array.fill(nElems)((bb.get() & 0xFF).toDouble)
      case "i1" => Array.fill(nElems)(bb.get().toDouble)
      case "b1" => Array.fill(nElems)(if (bb.get() != 0) 1.0 else 0.0)
    }
  }

  /** The first `n` elements of an unframed chunk of 8-byte integers —
    * `i8`, or a datetime64/timedelta64 dtype — as exact longs: the double
    * path of [[decodeChunk]] is lossy above 2^53. */
  private[graft] def decodeLongs(raw: Array[Byte], n: Int, dtype: String): Array[Long] = {
    require(raw.length >= n * 8, s"chunk holds ${raw.length} bytes, need ${n * 8}")
    val bb = ByteBuffer.wrap(raw).order(byteOrder(dtype))
    Array.fill(n)(bb.getLong)
  }

  /** Encode a whole shard (row-major `shardRows`×`shardCols` buffer) as the
    * v3 `sharding_indexed` layout: concatenated encoded inner chunks, then
    * an index of (offset, nbytes) uint64-LE pairs in row-major inner-grid
    * order — all-ones sentinel pairs for all-fill chunks, which are not
    * stored at all — then the index's crc32c (4 bytes LE). */
  def encodeShard(buf: Array[Double], shardRows: Int, shardCols: Int,
                  innerRows: Int, innerCols: Int, dtype: String, zlib: Boolean,
                  fill: Double, fOrder: Boolean = false,
                  comp: String = ""): Array[Byte] = {
    require(shardRows % innerRows == 0 && shardCols % innerCols == 0,
      "inner chunk shape must divide the shard shape")
    val gridR = shardRows / innerRows; val gridC = shardCols / innerCols
    val encoded = for (ci <- 0 until gridR; cj <- 0 until gridC) yield {
      val inner = new Array[Double](innerRows * innerCols)
      var allFill = true
      for (li <- 0 until innerRows; lj <- 0 until innerCols) {
        val v = buf((ci * innerRows + li) * shardCols + cj * innerCols + lj)
        if (v != fill) allFill = false
        inner(li * innerCols + lj) = v
      }
      if (allFill) null
      else encodeChunk(if (fOrder) toFOrder(inner, innerRows, innerCols) else inner,
        dtype, zlib, 3, comp)
    }
    val index = ByteBuffer.allocate(encoded.length * 16).order(ByteOrder.LITTLE_ENDIAN)
    var off = 0L
    encoded.foreach {
      case null => index.putLong(-1L); index.putLong(-1L) // 0xFF…FF sentinel
      case c    => index.putLong(off); index.putLong(c.length.toLong); off += c.length
    }
    val idx = index.array()
    val crc = new java.util.zip.CRC32C
    crc.update(idx)
    val tail = ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
      .putInt(crc.getValue.toInt).array()
    val out = new java.io.ByteArrayOutputStream(off.toInt + idx.length + 4)
    encoded.foreach(c => if (c != null) out.write(c))
    out.write(idx); out.write(tail)
    out.toByteArray
  }

  /** Decode a shard file back to the full row-major shard buffer (missing
    * inner chunks materialize as `fill`). Verifies the index crc32c. */
  def decodeShard(bytes: Array[Byte], shardRows: Int, shardCols: Int,
                  innerRows: Int, innerCols: Int, dtype: String, zlib: Boolean,
                  fill: Double, fOrder: Boolean = false,
                  comp: String = ""): Array[Double] = {
    val gridR = shardRows / innerRows; val gridC = shardCols / innerCols
    val idxLen = gridR * gridC * 16
    val idxOff = bytes.length - idxLen - 4
    require(idxOff >= 0, "shard file shorter than its index")
    val crc = new java.util.zip.CRC32C
    crc.update(bytes, idxOff, idxLen)
    val stored = ByteBuffer.wrap(bytes, idxOff + idxLen, 4)
      .order(ByteOrder.LITTLE_ENDIAN).getInt
    require(stored == crc.getValue.toInt, "shard index crc32c mismatch")
    val index = ByteBuffer.wrap(bytes, idxOff, idxLen).order(ByteOrder.LITTLE_ENDIAN)
    val buf = Array.fill(shardRows * shardCols)(fill)
    for (ci <- 0 until gridR; cj <- 0 until gridC) {
      val off = index.getLong(); val len = index.getLong()
      if (off != -1L) {
        val raw = decodeChunk(java.util.Arrays.copyOfRange(bytes, off.toInt, (off + len).toInt),
          innerRows * innerCols, zlib, dtype, 3, comp)
        val inner = if (fOrder) fromFOrder(raw, innerRows, innerCols) else raw
        for (li <- 0 until innerRows; lj <- 0 until innerCols)
          buf((ci * innerRows + li) * shardCols + cj * innerCols + lj) = inner(li * innerCols + lj)
      }
    }
    buf
  }

  /** Write an array's metadata document — every array writer commits
    * through here, with the document from [[ZarrMeta.emit]]. */
  private[graft] def writeMetaFile(path: String, m: Meta): Unit =
    if (m.format == 3) {
      // APPEND onto an attributed v3 array must not drop its inline
      // `attributes` (v2 keeps them naturally — .zattrs is a separate
      // object this rewrite never touches; overwrite truncates the store
      // first, so a fresh write still starts attribute-free). The same
      // holds for top-level fields we never GENERATE — a foreign
      // zarr-python/xarray store's `dimension_names` (and any spec
      // extension field) must survive the commit rewrite, so every
      // existing field absent from the regenerated document is carried
      // over verbatim; fields we do regenerate (shape, codecs, …) take
      // the fresh value, which is the point of the rewrite.
      //
      // DOCUMENTED POLICY (the r17 ADVICE trade-off, decided verbatim-
      // preserve over allowlist): unknown fields are preserved AS WRITTEN
      // and may go stale relative to the rewritten shape — a foreign
      // extension that denormalizes shape (a consolidated-metadata-style
      // cache, say) is the extension owner's to refresh, and silently
      // DROPPING it (the allowlist route) would destroy data this engine
      // cannot regenerate. The fields this writer understands are exactly
      // the regenerated set; `dimension_names` in particular stays valid
      // under append/resize because rank never changes, only extent.
      val f = s"$path/zarr.json"
      val fresh = ZarrMeta.emit(m)
      val out =
        if (!exists(f)) fresh
        else {
          val old = mapper.readTree(new String(readBytes(f), "UTF-8"))
          val doc = mapper.readTree(fresh)
            .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
          val attrs = old.path("attributes")
          if (attrs.isObject && !attrs.isEmpty)
            doc.set[com.fasterxml.jackson.databind.JsonNode]("attributes", attrs)
          old.properties().forEach { e =>
            if (!doc.has(e.getKey))
              doc.set[com.fasterxml.jackson.databind.JsonNode](e.getKey, e.getValue)
          }
          mapper.writerWithDefaultPrettyPrinter().writeValueAsString(doc)
        }
      writeBytes(f, out.getBytes("UTF-8"))
    } else
      writeBytes(s"$path/.zarray", ZarrMeta.emit(m).getBytes("UTF-8"))

  /** The key layout we WRITE for each format (see [[ZarrMeta]] `keyEnc`). */
  def writeKeyEnc(format: Int): String = if (format == 3) "c/" else "flat"

  /** Chunk object path for (ci, cj) under the store root, per key layout.
    * Rank-1 stores use ONE key component (`cj` must be 0): "0", "c/0",
    * "c.0" — note v2 flat and nested collapse to the same bare-index key. */
  def chunkPath(path: String, ci: Long, cj: Long, keyEnc: String,
                rank1: Boolean = false): String =
    chunkKey(path, if (rank1) Array(ci) else Array(ci, cj), keyEnc)

  /** Chunk object path for a chunk coordinate of any rank, per key layout. */
  private[zarr] def chunkKey(path: String, coord: Array[Long], keyEnc: String): String =
    keyEnc match {
      case "c/"     => s"$path/c/${coord.mkString("/")}"
      case "c."     => s"$path/c.${coord.mkString(".")}"
      case "nested" => s"$path/${coord.mkString("/")}"
      case "flat"   => s"$path/${coord.mkString(".")}"
      case other    => throw new IllegalArgumentException(s"unknown keyEnc $other")
    }

  /** List present chunk coordinates under any key layout (one LIST per
    * directory level; non-numeric names are ignored). Rank-1 coordinates
    * come back as (ci, 0). */
  def listChunks(path: String, keyEnc: String,
                 rank1: Boolean = false): Set[(Long, Long)] =
    if (rank1) keyEnc match {
      case "c/" =>
        listNames(s"$path/c").filter(_.matches("\\d+")).map(n => (n.toLong, 0L)).toSet
      case "c." =>
        listNames(path).filter(_.matches("c\\.\\d+"))
          .map(n => (n.substring(2).toLong, 0L)).toSet
      case "nested" | "flat" =>
        listNames(path).filter(_.matches("\\d+")).map(n => (n.toLong, 0L)).toSet
      case other => throw new IllegalArgumentException(s"unknown keyEnc $other")
    } else keyEnc match {
    case "c/" =>
      listNames(s"$path/c").filter(_.matches("\\d+")).flatMap { ci =>
        listNames(s"$path/c/$ci").filter(_.matches("\\d+"))
          .map(cj => (ci.toLong, cj.toLong))
      }.toSet
    case "c." =>
      listNames(path).filter(_.matches("c\\.\\d+\\.\\d+"))
        .map { n => val Array(_, a, b) = n.split("\\."); (a.toLong, b.toLong) }.toSet
    case "nested" =>
      listNames(path).filter(_.matches("\\d+")).flatMap { ci =>
        listNames(s"$path/$ci").filter(_.matches("\\d+"))
          .map(cj => (ci.toLong, cj.toLong))
      }.toSet
    case "flat" =>
      listNames(path).filter(_.matches("\\d+\\.\\d+"))
        .map { n => val Array(a, b) = n.split("\\."); (a.toLong, b.toLong) }.toSet
    case other => throw new IllegalArgumentException(s"unknown keyEnc $other")
  }

  /** Write a (dense-semantics) matrix: absent cells become `fill`.
    * Thin wrapper over the DSv2 sink (`df.write.format("zarr")`,
    * graft.sources.ZarrDataSource): the chunk-id shuffle + within-partition
    * sort is declared via `RequiresDistributionAndOrdering` on (ci, cj), so
    * Catalyst owns the exchange and AQE can size it. */
  def write(m: ZMatrix, path: String, rows: Long, cols: Long,
            chunkRows: Int, chunkCols: Int, zlib: Boolean = false,
            fill: Double = 0.0, dtype: String = "<f8", format: Int = 2,
            innerRows: Int = 0, innerCols: Int = 0, fOrder: Boolean = false,
            comp: String = "", keyEnc: String = ""): Unit =
    save(m.cells.select(
        idiv(col("i"), chunkRows).as("ci"), idiv(col("j"), chunkCols).as("cj"),
        col("i").cast("long").as("i"), col("j").cast("long").as("j"),
        col("v").cast("double").as("v")),
      path, Meta(rows, cols, chunkRows, chunkCols, zlib, fill, dtype, format,
        innerRows, innerCols, fOrder, keyEnc, comp = comp), "overwrite")

  /** The one call into the DSv2 sink: `cells` (ci, cj, i, j, v) written
    * to `path` with every write option taken from `m` — geometry, dtype,
    * codec, fill, sharding, order, rank and chunk-key layout ("" = the
    * format default) — under save mode `mode`. */
  private def save(cells: DataFrame, path: String, m: Meta, mode: String): Unit =
    cells.write.format("zarr")
      .option("chunkRows", m.chunkRows.toString).option("chunkCols", m.chunkCols.toString)
      .option("rows", m.rows.toString).option("cols", m.cols.toString)
      .option("dtype", m.dtype).option("zlib", m.zlib.toString).option("fill", m.fill.toString)
      .option("zarrFormat", m.format.toString)
      .option("innerRows", m.innerRows.toString).option("innerCols", m.innerCols.toString)
      .option("fOrder", m.fOrder.toString).option("rank1", m.rank1.toString)
      .option("comp", m.comp).option("keyEnc", m.keyEnc)
      .mode(mode).save(path)

  /** zarr-python region assignment (`z[rowStart:rowStart+bandRows, :] = x`)
    * for a CHUNK-ALIGNED full-width row band: the band's replacement
    * chunks are encoded and published THROUGH the DSv2 append path, which
    * revalidates geometry/codec/key layout against the store's own
    * metadata and replaces each affected chunk by an atomic rename —
    * readers never see a torn store. Shape metadata is untouched (a
    * region write never grows the array — that is the streaming-append
    * path's job), and chunks outside the band are never opened, so the
    * cost is proportional to the band, not the store — the 100 TB
    * in-place-correction shape.
    *
    * `m` arrives in BAND-LOCAL coordinates (row 0 = the band's top);
    * cells the band omits inside its rectangle become fill (the assigned
    * slab is DENSE — exactly how zarr-python materializes `x`), which is
    * also why the band must cover its chunks COMPLETELY: both row edges
    * chunk-aligned (the bottom may instead end at `meta.rows` — a real
    * array's ragged last chunk), full array width. A partial chunk would
    * dense-encode fill over pre-existing data the assignment never
    * addressed; rather than silently destroy it we reject the band
    * up front (zarr-python read-modify-writes partial chunks — callers
    * needing that read the edge chunks and include them in the band).
    * Band chunks the slab leaves ENTIRELY fill are deleted after the
    * write (a missing chunk reads as fill — the v2/v3 contract), so
    * assigning fill really clears old data; each delete is atomic and
    * the deleted chunk's final state IS absent, so readers stay
    * consistent throughout. */
  def updateRegion(m: ZMatrix, path: String, rowStart: Long,
                   bandRows: Long): Unit = {
    val meta = readMeta(path)
    require(!meta.rank1, "region update targets 2-D stores")
    require(rowStart >= 0 && rowStart % meta.chunkRows == 0,
      s"rowStart $rowStart must be a multiple of chunkRows ${meta.chunkRows}")
    require(bandRows > 0 && rowStart + bandRows <= meta.rows,
      s"band [$rowStart, ${rowStart + bandRows}) exceeds rows ${meta.rows}")
    require((rowStart + bandRows) % meta.chunkRows == 0 ||
        rowStart + bandRows == meta.rows,
      s"band end ${rowStart + bandRows} must be a multiple of chunkRows " +
        s"${meta.chunkRows} or equal rows ${meta.rows} - a partial chunk " +
        "would fill-overwrite rows the assignment does not cover")
    // One band-proportional pass: per-chunk bounds both validate that every
    // cell sits inside the declared band rectangle (out-of-band cells would
    // silently corrupt neighbours) and give the touched-chunk set for the
    // stale sweep below. Chunk-count-sized collect (metadata, not data).
    val perChunk = m.cells.select(
        idiv(col("i") + rowStart, meta.chunkRows).as("ci"),
        idiv(col("j"), meta.chunkCols).as("cj"),
        col("i").cast("long").as("i"), col("j").cast("long").as("j"))
      .groupBy(col("ci"), col("cj"))
      .agg(min(col("i")).as("ni"), max(col("i")).as("mi"),
        min(col("j")).as("nj"), max(col("j")).as("mj"))
      .collect()
    perChunk.foreach { r =>
      require(r.getLong(2) >= 0 && r.getLong(3) < bandRows &&
          r.getLong(4) >= 0 && r.getLong(5) < meta.cols,
        s"band cell outside [0, $bandRows) x [0, ${meta.cols}): " +
          s"i in [${r.getLong(2)}, ${r.getLong(3)}], " +
          s"j in [${r.getLong(4)}, ${r.getLong(5)}]")
    }
    save(m.cells.select(
        idiv(col("i") + rowStart, meta.chunkRows).as("ci"),
        idiv(col("j"), meta.chunkCols).as("cj"),
        (col("i") + rowStart).cast("long").as("i"),
        col("j").cast("long").as("j"), col("v").cast("double").as("v")),
      path, meta, "append")
    // Stale sweep: any chunk in the band rectangle the slab left all-fill
    // got no replacement file, but the assignment says its rows are now
    // fill - delete the old chunk so reads see fill (missing-chunk
    // semantics, oracle-checked by Z25).
    val touched = perChunk.map(r => (r.getLong(0), r.getLong(1))).toSet
    val ciLo = rowStart / meta.chunkRows
    val ciHi = (rowStart + bandRows - 1) / meta.chunkRows
    val cjHi = (meta.cols - 1) / meta.chunkCols
    for (ci <- ciLo to ciHi; cj <- 0L to cjHi; if !touched((ci, cj))) {
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(
        chunkPath(path, ci, cj, meta.keyEnc)))
    }
  }

  /** Z32: zarr-python `append(x, axis=0)` — GROW an existing 2-D store by
    * `newRows` rows whose cells arrive in BLOCK-LOCAL coordinates (row 0
    * = the first appended row). This is the batch face of incremental
    * array growth (S7's streaming ingest is the time-banded face): the
    * zappy/anndata on-disk concat, `ad.concat` writing onto an existing
    * store.
    *
    * Semantics match zarr-python exactly: if the old row count is not
    * chunk-aligned, the ragged BOUNDARY chunk is read-modify-written —
    * its existing rows are read back (chunk-pruned: one chunk row-band,
    * never the store) and re-encoded together with the first appended
    * rows; all chunks strictly below the boundary are never opened, so
    * cost is proportional to the appended block. Shape metadata grows
    * FIRST (edited in place — attrs/dimension_names untouched), then the
    * band publishes through the DSv2 append path (geometry revalidated
    * against the grown metadata, atomic per-chunk rename). A reader in
    * the window between the two steps sees fill for not-yet-written tail
    * chunks — the missing-chunk contract, the same non-atomic window
    * zarr-python's own append has. */
  def appendRows(m: ZMatrix, path: String, newRows: Long): Unit = {
    val meta = readMeta(path)
    require(!meta.rank1, "appendRows targets 2-D stores")
    require(newRows > 0, "appendRows needs a non-empty block")
    val oldRows = meta.rows
    val newTotal = oldRows + newRows
    val boundary = oldRows % meta.chunkRows
    val bandStart = oldRows - boundary
    val spark = m.cells.sparkSession
    val shifted = m.cells.select((col("i") + lit(boundary)).as("i"),
      col("j"), col("v"))
    val band =
      if (boundary == 0L) shifted
      else read(spark, path).cells
        .filter(col("i") >= bandStart && col("i") < oldRows)
        .select((col("i") - lit(bandStart)).as("i"), col("j"), col("v"))
        .unionByName(shifted)
    growShape(path, newTotal)
    save(band.select(
        idiv(col("i") + bandStart, meta.chunkRows).as("ci"),
        idiv(col("j"), meta.chunkCols).as("cj"),
        (col("i") + bandStart).cast("long").as("i"),
        col("j").cast("long").as("j"), col("v").cast("double").as("v")),
      path, meta.copy(shape = List(newTotal, meta.cols)), "append")
  }

  /** Z33: the rank-1 face of [[appendRows]] — `append` on an anndata
    * obs/var COLUMN (obs grows with X, so the 2-D append alone leaves a
    * store inconsistent). Same contract: ragged boundary chunk
    * read-modify-written, shape grown in place (attrs survive), band
    * published through the DSv2 append path. */
  def appendVector(vec: DataFrame, path: String, newRows: Long): Unit = {
    val meta = readMeta(path)
    require(meta.rank1, "appendVector targets 1-D stores — use appendRows")
    require(newRows > 0, "appendVector needs a non-empty block")
    val oldRows = meta.rows
    val newTotal = oldRows + newRows
    val boundary = oldRows % meta.chunkRows
    val bandStart = oldRows - boundary
    val spark = vec.sparkSession
    val shifted = vec.select((col("i") + lit(boundary)).as("i"), col("v"))
    val band =
      if (boundary == 0L) shifted
      else readVector(spark, path)
        .filter(col("i") >= bandStart && col("i") < oldRows)
        .select((col("i") - lit(bandStart)).as("i"), col("v"))
        .unionByName(shifted)
    growShape(path, newTotal)
    // the store's own metadata carries its chunk-key layout: a store with
    // a non-default one (e.g. a migrated-in-place v2-keyed v3 tree) must
    // append under ITS encoding, not the writer's default
    save(band.select(
        idiv(col("i") + bandStart, meta.chunkRows).as("ci"),
        lit(0L).as("cj"), (col("i") + bandStart).cast("long").as("i"),
        lit(0L).as("j"), col("v").cast("double").as("v")),
      path, meta.copy(shape = List(newTotal)), "append")
  }

  /** Z34: zarr-python `resize` DOWN along axis 0 — the shrink face of
    * Z32 (growth is [[appendRows]]' job). Matches zarr-python's
    * semantics exactly: the shape document shrinks in place, chunk files
    * that fall ENTIRELY outside the new bounds are deleted (each delete
    * atomic; a missing chunk reads as fill), and a PARTIALLY-surviving
    * boundary chunk is left as written — its out-of-bounds rows become
    * unaddressable under the new shape (zarr reads clip to shape), and a
    * later [[appendRows]] re-encodes that chunk whole, so the stale tail
    * can never resurface through THIS library (zarr-python itself has
    * the documented resurface quirk on re-grow; our append closes it). */
  def resizeRows(path: String, newRows: Long): Unit = {
    val meta = readMeta(path)
    require(!meta.rank1, "resizeRows targets 2-D stores")
    require(newRows > 0 && newRows <= meta.rows,
      s"resizeRows only shrinks (newRows=$newRows, rows=${meta.rows}); " +
        "growth is appendRows' job")
    if (newRows == meta.rows) return
    growShape(path, newRows)
    val keep = (newRows + meta.chunkRows - 1) / meta.chunkRows
    val ciOld = (meta.rows + meta.chunkRows - 1) / meta.chunkRows
    val cjHi = (meta.cols - 1) / meta.chunkCols
    for (ci <- keep until ciOld; cj <- 0L to cjHi)
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(
        chunkPath(path, ci, cj, meta.keyEnc)))
  }

  /** Grow shape[0] by editing the store's own metadata document in place
    * (regenerating from Meta would drop attributes / dimension_names);
    * consolidated metadata above the node refreshes. Rank-aware: a 1-D
    * shape stays 1-D. */
  private def growShape(path: String, newRows: Long): Unit = {
    val file =
      if (exists(s"$path/zarr.json")) s"$path/zarr.json"
      else { require(exists(s"$path/.zarray"),
        s"$path has no local metadata document to grow"); s"$path/.zarray" }
    val doc = mapper.readTree(new String(readBytes(file), "UTF-8"))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val shape = doc.get("shape")
      .asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode]
    require(shape != null && (shape.size() == 1 || shape.size() == 2),
      s"cannot grow shape=$shape")
    val rest = (1 until shape.size()).map(shape.get(_).asLong())
    shape.removeAll()
    shape.add(newRows); rest.foreach(shape.add)
    writeBytes(file,
      mapper.writerWithDefaultPrettyPrinter().writeValueAsString(doc).getBytes("UTF-8"))
    refreshConsolidatedAbove(path)
  }

  /** Read a Zarr array (either format) back as coordinate cells (i, j, v)
    * with dense semantics: chunk files absent from the store (zarr writes
    * none for all-fill chunks) materialize as fill cells. This is a thin
    * wrapper over the DSv2 source — ONE read path, so ZMatrix consumers
    * inherit its partition-per-chunk layout, i/j range pushdown → chunk
    * pruning, column pruning (a value-free scan never decodes), and exact
    * grid statistics.
    *
    * `path` may address an array inside a group store as `root#key`
    * (e.g. `adata.zarr#X`, `adata.zarr#obsm/X_pca`) — the zappy/scanpy
    * from_zarr(store, key) entry shape. */
  def read(spark: SparkSession, path: String): ZMatrix =
    if (isSparseGroup(readAttrs(path))) readSparse(spark, path)
    else ZMatrix(spark.read.format("zarr").load(path))

  /** from_zarr(store, key): read array `key` out of a group store. AnnData
    * SPARSE matrix groups (`encoding-type: csr_matrix|csc_matrix`)
    * dispatch to [[readSparse]] transparently, so the one entry point
    * opens any real-world X — dense 2-D array or sparse group alike. The
    * probe is a single driver-side attrs read (answered from consolidated
    * metadata when present). */
  def read(spark: SparkSession, path: String, key: String): ZMatrix =
    if (isSparseGroup(readAttrs(path, key))) readSparse(spark, path, key)
    else ZMatrix(spark.read.format("zarr").option("key", key).load(path))

  private def isSparseGroup(attrs: com.fasterxml.jackson.databind.JsonNode): Boolean = {
    val e = attrs.path("encoding-type").asText("")
    e == "csr_matrix" || e == "csc_matrix"
  }

  // ---- node attributes (.zattrs / v3 `attributes`) ----
  // AnnData keeps its semantics in attributes: categorical columns are an
  // int-code array whose `categories` attr holds the label list, `X` often
  // carries normalization provenance. Without attrs a reader sees codes
  // with no meaning, so they are part of the store surface, not an extra.

  /** Read a node's user attributes as a JSON object node — the
    * `attributes` field of `zarr.json` on a v3 node, else `.zattrs` (v2);
    * an attribute-less node yields an empty object. Precedence MATCHES
    * [[writeAttrs]] (zarr.json first), so attrs written through this API
    * are always read back — a stale `.zattrs` left next to a v3 node by
    * an older writer can never shadow them. With consolidated metadata at
    * the root, the answer comes from the one-read map (no per-node
    * probes); a map miss still falls back to the store, the navigation
    * rule. */
  def readAttrs(path: String, key: String = ""): com.fasterxml.jackson.databind.JsonNode = {
    val (root, frag) = splitKey(path)
    val rel = Some(key).filter(_.nonEmpty).orElse(frag)
      .map(k => validKeySegments(k).mkString("/")).getOrElse("")
    val node = if (rel.isEmpty) root else s"$root/$rel"
    def attrsOf(doc: com.fasterxml.jackson.databind.JsonNode) =
      doc.path("attributes") match {
        case m if m.isMissingNode || m.isNull => mapper.createObjectNode()
        case m => m
      }
    val consolidated = readConsolidated(root).flatMap { m =>
      val zjson = if (rel.isEmpty) "zarr.json" else s"$rel/zarr.json"
      val zattrs = if (rel.isEmpty) ".zattrs" else s"$rel/.zattrs"
      m.get(zjson).map(attrsOf).orElse(m.get(zattrs))
    }
    consolidated.getOrElse {
      if (exists(s"$node/zarr.json"))
        attrsOf(mapper.readTree(new String(readBytes(s"$node/zarr.json"), "UTF-8")))
      else if (exists(s"$node/.zattrs"))
        mapper.readTree(new String(readBytes(s"$node/.zattrs"), "UTF-8"))
      else mapper.createObjectNode()
    }
  }

  /** Write (replace) a node's user attributes from a JSON object string.
    * Format-aware: a v3 node updates `attributes` INSIDE zarr.json (a
    * separate .zattrs would be invisible to v3 readers); a v2 node writes
    * `.zattrs`. Consolidated metadata above the node refreshes (both the
    * v2 walker, which collects .zattrs files, and the v3 inline map see
    * the change). */
  def writeAttrs(path: String, attrsJson: String): Unit = {
    val (root, frag) = splitKey(path)
    val node = frag.map(k => s"$root/${validKeySegments(k).mkString("/")}").getOrElse(root)
    val parsed = mapper.readTree(attrsJson)
    require(parsed.isObject, s"attributes must be a JSON object, got $attrsJson")
    if (exists(s"$node/zarr.json")) {
      val doc = mapper.readTree(new String(readBytes(s"$node/zarr.json"), "UTF-8"))
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      doc.set[com.fasterxml.jackson.databind.JsonNode]("attributes", parsed)
      writeBytes(s"$node/zarr.json",
        mapper.writerWithDefaultPrettyPrinter().writeValueAsString(doc).getBytes("UTF-8"))
    } else {
      require(exists(s"$node/.zarray") || exists(s"$node/.zgroup"),
        s"$node is not a Zarr node — write the array/group first")
      writeBytes(s"$node/.zattrs",
        mapper.writerWithDefaultPrettyPrinter().writeValueAsString(parsed).getBytes("UTF-8"))
    }
    refreshConsolidatedAbove(node)
  }

  /** Z30: on-disk RECHUNK between stores — the standalone-rechunker tool
    * shape (pangeo's rechunker does exactly this for zarr stores that
    * outgrew their original grid). One distributed pass: partition-per-
    * source-chunk read → chunk-clustered write under the DESTINATION
    * grid, any (format, codec) on either side — so one call converts
    * layout AND wire format (v2/zlib → v3/zstd sharded, …). The
    * destination inherits the source's dtype and fill unless overridden;
    * shape carries over exactly. Never materializes the array anywhere:
    * peak state is one source chunk + one destination chunk per task. */
  def rechunkStore(spark: SparkSession, src: String, dst: String,
                   chunkRows: Int, chunkCols: Int, format: Int = 2,
                   comp: String = "", zlib: Boolean = false): Unit = {
    val m = readMeta(src)
    write(read(spark, src), dst, m.rows, m.cols, chunkRows, chunkCols,
      zlib = zlib, fill = m.fill, dtype = m.dtype, format = format,
      comp = comp)
  }

  /** xarray's Zarr encoding convention (public spec — "Zarr Encoding
    * Specification" in the xarray docs): an array advertises its named
    * dimensions in the `_ARRAY_DIMENSIONS` attribute; that is the ONLY
    * thing xarray needs to open a plain Zarr store as a labeled Dataset.
    * This MERGES into the node's existing attributes (writeAttrs replaces
    * wholesale; dimension naming must not clobber user attrs). */
  def writeXarrayDims(path: String, dims: Seq[String]): Unit = {
    val attrs = readAttrs(path).deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
    val arr = mapper.createArrayNode()
    dims.foreach(arr.add)
    attrs.set[com.fasterxml.jackson.databind.JsonNode]("_ARRAY_DIMENSIONS", arr)
    writeAttrs(path, mapper.writeValueAsString(attrs))
  }

  /** Read the xarray dimension names back (empty if not annotated). */
  def readXarrayDims(path: String): Seq[String] = {
    val node = readAttrs(path).path("_ARRAY_DIMENSIONS")
    if (!node.isArray) Seq.empty
    else (0 until node.size()).map(node.get(_).asText())
  }

  /** A side of roughly this many rows (~120 MB at 30 B/row) is the
    * largest build a broadcast-hash join should ever attempt; above it,
    * estimate-less frames (range().flatMap lineage) must be pinned to
    * sort-merge or the planner's near-zero size guess OOMs the build
    * (the sf10-gate defect class). */
  private val MergeHintMajors = 4L << 20

  /** Conditionally pin a join side to sort-merge (see callers): hint only
    * when the driver-known row count says broadcast would be unsafe. */
  private def mergeHintIfBig(majorDim: Long)(df: DataFrame): DataFrame =
    if (majorDim > MergeHintMajors) df.hint("merge") else df

  /** Partition count for the chunk writer: one task per ~8 chunks, never
    * below the session's shuffle parallelism. The unbounded form (hash
    * over the chunk id into numShufflePartitions tasks) gave each task a
    * sort whose memory grew WITH THE STORE — at the sf10 gate 32
    * concurrent ~470k-row sorts exhausted the Tungsten execution pool
    * (UNABLE_TO_ACQUIRE_MEMORY). Scaling the task count with the chunk
    * count pins per-task sort size to ~8 chunks no matter how large the
    * array grows; small stores still use the full pool. */
  private def chunkWriteParts(spark: SparkSession, nChunks: Long): Int = {
    val base = spark.sessionState.conf.numShufflePartitions
    math.max(base, math.min((nChunks + 7) / 8, 65536L).toInt)
  }

  /** Exact integer division of a coordinate column by `d` — `div` on the
    * long value, never `/` + cast: double division rounds past 2^53, so a
    * high coordinate could be routed to one chunk while exact Long
    * arithmetic puts it in another (two tasks writing one chunk object).
    * Every writer computes its chunk ids through here. */
  private[zarr] def idiv(c: Column, d: Long): Column =
    call_function("div", c.cast("long"), lit(d))

  /** The (chunk id, in-chunk offset) of the cell at `coords` (one column
    * per dimension of `m`): the id row-major over `m`'s chunk grid, the
    * offset row-major (C order) inside the chunk. */
  private[zarr] def cellAddress(coords: Seq[Column], m: Meta): (Column, Column) = {
    val grid = m.grid
    val ci = coords.indices.map(d => idiv(coords(d), m.chunks(d)))
    val local = coords.indices.map(d => coords(d).cast("long") - ci(d) * m.chunks(d))
    val rest = coords.indices.tail
    (rest.foldLeft(ci.head)((a, d) => a * grid(d) + ci(d)),
      rest.foldLeft(local.head)((a, d) => a * m.chunks(d) + local(d)).cast("int"))
  }

  /** The inverse of [[cellAddress]]: the coordinate columns `i0 …
    * i{N−1}` of the cell at offset `off` of chunk `cid`. */
  private[zarr] def cellCoords(cid: Column, off: Column, m: Meta): Seq[Column] = {
    val grid = m.grid
    m.chunks.indices.map { d =>
      val ci = idiv(cid, grid.drop(d + 1).product) % grid(d)
      val local = idiv(off, m.chunks.drop(d + 1).map(_.toLong).product) % m.chunks(d)
      (ci * m.chunks(d) + local).as(s"i$d")
    }
  }

  /** The one chunk writer, every rank and element kind: behind
    * [[ZarrNd.write]], [[ZarrNd.appendBand]], [[writeStringVector]],
    * [[writeTimeVector]] and the sparse group's data+indices pair. Each
    * cell of `cells` (coordinates `coords`, value `item`) is addressed in
    * Catalyst by [[cellAddress]], repartitioned by chunk id
    * ([[chunkWriteParts]] tasks) and sorted within each partition, so each
    * task streams out whole chunks: a chunk's items land in a
    * `fill`-initialized buffer of the full chunk shape (edge chunks too —
    * the zarr chunk rule), which `encode` turns into one framed chunk per
    * store of `stores` (address, metadata; they share one geometry). Each
    * chunk is written to an attempt-scoped temp file and renamed over its
    * key, so speculative attempts are safe and a reader never sees a
    * half-written chunk. The stores are deleted first, unless `band`
    * [lo, hi) publishes an axis-0 band into existing stores: chunks its
    * cells do not touch then stay as they are. A cell outside the shape —
    * or outside the band on axis 0 — fails the task (`what` names the
    * array), since a silently dropped cell is data loss. The metadata
    * documents, group levels and consolidated maps commit after the data. */
  private[zarr] def writeChunks[T](cells: DataFrame, coords: Seq[Column], item: Column,
                                   stores: Seq[(String, Meta)], fill: T, what: String,
                                   band: Option[(Long, Long)] = None)
                                  (encode: Array[T] => Seq[Array[Byte]])
                                  (implicit ct: ClassTag[T], enc: Encoder[(Long, Int, T)]): Unit = {
    val geom = stores.head._2
    require(geom.shape.forall(_ > 0) && geom.chunks.forall(_ > 0),
      s"$what: need a non-empty shape and chunk, got ${geom.shape.mkString("x")} " +
        s"in chunks of ${geom.chunks.mkString("x")}")
    require(geom.chunkElems.toLong == geom.chunks.map(_.toLong).product,
      "chunk too large: elements must fit one Int-addressable buffer")
    val (lo0, hi0) = band.getOrElse((0L, geom.rows))
    val bounds = (lo0, hi0) +: geom.shape.tail.map((0L, _))
    val inside = coords.zip(bounds)
      .map { case (c, (lo, hi)) => c.cast("long") >= lo && c.cast("long") < hi }.reduce(_ && _)
    val region = bounds.map { case (lo, hi) => s"[$lo, $hi)" }.mkString(" x ")
    val (cid, off) = cellAddress(coords, geom)
    val nodes = stores.map { case (p, _) =>
      val (root, frag) = splitKey(p)
      (root, frag.map(validKeySegments).getOrElse(Nil))
    }
    val dirs = nodes.map { case (root, segs) => (root +: segs).mkString("/") }
    if (band.isEmpty) dirs.foreach(delete(_, recursive = true))
    val (grid, elems, keyEnc) = (geom.grid, geom.chunkElems, geom.keyEnc)
    cells.select(when(inside, cid).otherwise(-1L).as("_1"), off.as("_2"), item.as("_3"))
      .repartition(chunkWriteParts(cells.sparkSession, geom.nChunks), col("_1"))
      .sortWithinPartitions(col("_1"))
      .as[(Long, Int, T)]
      .foreachPartition { (it: Iterator[(Long, Int, T)]) =>
        val attempt = Option(org.apache.spark.TaskContext.get())
          .map(_.taskAttemptId()).getOrElse(0L)
        var cur = -1L
        var buf: Array[T] = null
        def flush(): Unit = if (buf != null) {
          val coord = new Array[Long](grid.length)
          var rem = cur
          for (d <- grid.indices.reverse) { coord(d) = rem % grid(d); rem /= grid(d) }
          encode(buf).zip(dirs).foreach { case (bytes, dir) =>
            val f = chunkKey(dir, coord, keyEnc)
            val tmp = s"$f.__tmp-$attempt"
            writeBytes(tmp, bytes)
            renameOver(tmp, f)
          }
          buf = null
        }
        it.foreach { case (id, o, x) =>
          require(id >= 0, s"$what: a cell lies outside $region")
          if (id != cur) {
            flush()
            cur = id
            buf = Array.fill(elems)(fill)
          }
          buf(o) = x
        }
        flush()
      }
    for (((_, m), (root, segs), dir) <- stores.lazyZip(nodes).lazyZip(dirs)) {
      writeMetaFile(dir, m)
      if (segs.nonEmpty) ensureGroupMeta(root, segs, m.format)
      refreshConsolidatedAbove(dir)
    }
  }

  /** The one per-chunk read of every chunk reader: chunk `coord` (any
    * rank) of `arr` (`m` its metadata) unframed to `outLen` bytes (or
    * [[SelfSized]]) and decoded, or — when the chunk file is absent — a
    * full chunk of `fill` (the spec's missing-chunk rule). */
  private def readChunk[T: ClassTag](arr: String, m: Meta, coord: Array[Long], fill: T,
                                     outLen: Int)(decode: Array[Byte] => Array[T]): Array[T] = {
    val f = chunkKey(arr, coord, m.keyEnc)
    if (exists(f)) decode(unframe(readBytes(f), m.zlib, m.format, m.comp, outLen))
    else Array.fill(m.chunkElems)(fill)
  }

  /** A numeric chunk of any rank as row-major doubles (absent → fill). */
  private[zarr] def readValueChunk(arr: String, m: Meta, coord: Array[Long]): Array[Double] =
    readChunk(arr, m, coord, m.fill, m.chunkElems * elemSize(m.dtype))(
      decodeValues(_, m.chunkElems, m.dtype))

  /** An integer rank-1 chunk (indptr, indices) as exact longs: `i8`
    * straight off the bytes, narrower dtypes through doubles, which hold
    * them exactly. */
  private def readIndexChunk(arr: String, m: Meta, ci: Long): Array[Long] =
    if (m.dtype.endsWith("i8"))
      readChunk(arr, m, Array(ci), m.fill.toLong, m.chunkRows * 8)(
        decodeLongs(_, m.chunkRows, m.dtype))
    else readValueChunk(arr, m, Array(ci)).map(_.toLong)

  /** Write a 1-D array (anndata obs/var column, zappy 1-D ndarray) from a
    * long-form (i, v) frame. Stored as a true rank-1 Zarr array — 1-element
    * shape/chunks, single-component chunk keys — which zarr-python reads as
    * an ordinary 1-D dataset. Group addressing (`root#obs/ids`) works as
    * for matrices. */
  def writeVector(vec: DataFrame, path: String, n: Long, chunk: Int,
                  zlib: Boolean = false, fill: Double = 0.0,
                  dtype: String = "<f8", format: Int = 2,
                  comp: String = ""): Unit =
    save(vec.select(
        idiv(col("i"), chunk).as("ci"), lit(0L).as("cj"),
        col("i").cast("long").as("i"), lit(0L).as("j"),
        col("v").cast("double").as("v")),
      path, Meta(n, 1, chunk, 1, zlib, fill, dtype, format, keyEnc = "", rank1 = true,
        comp = comp), "overwrite")

  /** Read a 1-D array back as (i, v) — errors on a 2-D store (a silent
    * j-drop would alias columns). */
  def readVector(spark: SparkSession, path: String, key: String = ""): DataFrame = {
    val arr = resolveArray(path, Some(key).filter(_.nonEmpty))
    require(readMeta(arr).rank1, s"$arr is a 2-D array, not a vector — use Zarr.read")
    // load the RESOLVED array dir (not the raw root#key) so the data
    // source doesn't repeat the group navigation this guard already did
    read(spark, arr).cells.select(col("i"), col("v"))
  }

  /** AnnData categorical column: a rank-1 int-code array whose
    * `categories` attribute holds the label list. Returns (i, label); the
    * label list enters the plan as a literal (parameter-sized). Any code
    * outside [0, n_categories) — including pandas' negative NA codes,
    * which bare element_at would silently resolve from the END of the
    * list — raises an explicit error, in ANSI and non-ANSI sessions alike
    * (fail-fast, the astype rule: a wrong/null label corrupts group-bys
    * downstream). [[readObsAligned]] throws the same error from its task
    * code ([[badCategorical]]). */
  def readCategorical(spark: SparkSession, path: String, key: String = ""): DataFrame = {
    val arr = resolveArray(path, Some(key).filter(_.nonEmpty))
    val cats = readAttrs(arr).path("categories")
    require(cats.isArray && cats.size() > 0,
      s"$arr has no 'categories' attribute — not a categorical column")
    val labels = (0 until cats.size()).map(cats.get(_).asText())
    val code = col("v").cast("int")
    readVector(spark, arr)
      .select(col("i"),
        when(code.between(0, labels.size - 1),
          element_at(typedlit(labels), code + 1))
          .otherwise(raise_error(concat(
            lit(categoricalRange(arr, labels.size)), code.cast("string")))).as("label"))
  }

  private def categoricalRange(arr: String, n: Int): String =
    s"categorical code out of range [0, $n) in $arr: "

  /** An out-of-range categorical code, thrown in a task: exactly what
    * `raise_error` throws in [[readCategorical]] (class and message), so
    * the same bad store fails the same way whichever reader meets it. */
  private def badCategorical(arr: String, n: Int, code: Int): RuntimeException =
    org.apache.spark.GraftSparkBridge.userRaisedError(s"${categoricalRange(arr, n)}$code")

  // ---- Aligned multi-component obs-table read ----

  /** Column specs for [[readObsAligned]]: each names an obs-aligned store
    * component (all sharing the obs axis, i in [0, nObs)) and the output
    * column it becomes. */
  sealed trait ObsCol extends Serializable { def key: String; def out: String }
  /** vlen string rank-1 array (the anndata obs index) → string column
    * ("" for positions in absent chunks, the write-side fill). */
  final case class ObsString(key: String, out: String) extends ObsCol
  /** int-code rank-1 array with a `categories` attribute → label column
    * (out-of-range codes fail the task — the [[readCategorical]] rule). */
  final case class ObsCategorical(key: String, out: String) extends ObsCol
  /** dense 2-D array: the value at column `j` → double column (absent
    * chunks read as fill — dense semantics). */
  final case class ObsDense(key: String, j: Long, out: String) extends ObsCol
  /** CSR sparse group: per-row sum of STORED entries → double column,
    * NULL for rows with no stored entries (mirroring the groups a COO
    * `groupBy(i).sum` would never emit). */
  final case class ObsSparseSum(key: String, out: String) extends ObsCol

  // resolved per-component plans (driver-built, task-serialized)
  private sealed trait ObsPlan extends Serializable { def out: String }
  private final case class PString(arr: String, m: Meta, out: String) extends ObsPlan
  private final case class PCat(arr: String, m: Meta,
                                labels: IndexedSeq[String], out: String) extends ObsPlan
  private final case class PDense(arr: String, m: Meta, j: Long,
                                  out: String) extends ObsPlan
  private final case class PSparse(g: SparseParts, out: String) extends ObsPlan

  /** ONE-PASS aligned read of several obs-axis components of a group
    * store into a composed per-row table — the anndata "obs table" shape
    * (index strings + categorical obs columns + an X row aggregate + an
    * obsm column) WITHOUT per-component scans and joins: the obs axis is
    * cut into grain-sized ranges (grain = the largest component row-chunk,
    * which every other row-chunk must divide — true for any power-of-two
    * chunking) and each task reads ITS slice of every component straight
    * off the store, emitting composed rows. Zero joins, zero shuffles,
    * one job — vs N scans + a groupBy + N−1 joins for the per-component
    * plan, whose near-zero size estimates also force conditional join
    * hints (range().flatMap leaves carry no stats).
    *
    * CSR row sums read the contiguous indptr slice `[lo, hi]` of the
    * task's obs range off the store, then the data chunks it spans, as
    * [[readSparse]] does: nothing is broadcast, so the obs axis has no
    * size bound. Boundary data and indptr chunks shared by adjacent obs
    * ranges are read by both tasks — at most one extra chunk of each per
    * partition edge. */
  def readObsAligned(spark: SparkSession, root: String, cols: Seq[ObsCol]): DataFrame = {
    import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}
    require(cols.nonEmpty, "readObsAligned needs at least one component")
    val plans: Seq[ObsPlan] = cols.map {
      case ObsString(key, out) =>
        val arr = resolveArray(root, Some(key))
        PString(arr, vectorMeta(arr, "string")(_.isString), out)
      case ObsCategorical(key, out) =>
        val arr = resolveArray(root, Some(key))
        val cats = readAttrs(arr).path("categories")
        require(cats.isArray && cats.size() > 0,
          s"$arr has no 'categories' attribute — not a categorical column")
        val m = readMeta(arr)
        require(m.rank1, s"$arr categorical column must be rank-1")
        PCat(arr, m, (0 until cats.size()).map(cats.get(_).asText()), out)
      case ObsDense(key, j, out) =>
        val arr = resolveArray(root, Some(key))
        val m = readMeta(arr)
        require(!m.rank1, s"$arr is rank-1 — address it without a column index")
        require(!m.sharded && !m.fOrder,
          s"$arr: readObsAligned supports plain C-order chunks only")
        require(j >= 0 && j < m.cols, s"$arr column $j outside [0, ${m.cols})")
        PDense(arr, m, j, out)
      case ObsSparseSum(key, out) =>
        val (r0, frag) = splitKey(root)
        val rel = (frag.toSeq.flatMap(validKeySegments) ++ validKeySegments(key))
          .mkString("/")
        val node = if (rel.isEmpty) r0 else s"$r0/$rel"
        val enc = readAttrs(r0, rel).path("encoding-type").asText("")
        require(enc == "csr_matrix",
          s"$node: obs-aligned row sums need a csr_matrix group, got '$enc'")
        PSparse(sparseParts(node), out)
    }
    val nObsList: Seq[Long] = plans.map {
      case p: PString => p.m.rows
      case p: PCat    => p.m.rows
      case p: PDense  => p.m.rows
      case p: PSparse => p.g.majorDim
    }
    val nObs = nObsList.head
    require(nObsList.forall(_ == nObs),
      s"components disagree on the obs length: ${cols.map(_.key).zip(nObsList)}")
    val rowChunks: Seq[Int] = plans.map {
      case p: PString => p.m.chunkRows
      case p: PCat    => p.m.chunkRows
      case p: PDense  => p.m.chunkRows
      case _: PSparse => 1
    }
    val grain = rowChunks.max
    require(rowChunks.forall(c => grain % c == 0),
      s"row-chunk sizes must divide the largest ($grain): $rowChunks")
    val schema = StructType(
      StructField("i", LongType, nullable = false) +:
        plans.map {
          case p: PString => StructField(p.out, StringType, nullable = false)
          case p: PCat    => StructField(p.out, StringType, nullable = false)
          case p: PDense  => StructField(p.out, DoubleType, nullable = false)
          case p: PSparse => StructField(p.out, DoubleType, nullable = true)
        })
    val plansArr = plans.toArray
    val nParts = (nObs + grain - 1) / grain
    val rdd = spark.range(nParts).rdd.flatMap { p =>
      val lo = p * grain
      val hi = math.min(nObs, lo + grain)
      val len = (hi - lo).toInt
      val colsOut: Array[Array[Any]] = plansArr.map {
        case ps: PString =>
          val a = new Array[Any](len)
          val m = ps.m
          val chunk = m.chunkRows
          var ci = lo / chunk
          val ciHi = (hi - 1) / chunk
          while (ci <= ciHi) {
            val cLen = math.min(chunk.toLong, m.rows - ci * chunk).toInt
            val items = readChunk(ps.arr, m, Array(ci), "", SelfSized)(
              vlenDecode(_, chunk, expectedAlt = cLen))
            val from = math.max(lo, ci * chunk)
            val until = math.min(hi, ci * chunk + cLen)
            var r = from
            while (r < until) {
              a((r - lo).toInt) = items((r - ci * chunk).toInt); r += 1
            }
            ci += 1
          }
          a
        case pc: PCat =>
          val a = new Array[Any](len)
          val m = pc.m
          var ci = lo / m.chunkRows
          val ciHi = (hi - 1) / m.chunkRows
          while (ci <= ciHi) {
            val vals = readValueChunk(pc.arr, m, Array(ci))
            val from = math.max(lo, ci * m.chunkRows)
            val until = math.min(hi, (ci + 1) * m.chunkRows)
            var r = from
            while (r < until) {
              val code = vals((r - ci * m.chunkRows).toInt).toInt
              if (code < 0 || code >= pc.labels.length)
                throw badCategorical(pc.arr, pc.labels.length, code)
              a((r - lo).toInt) = pc.labels(code)
              r += 1
            }
            ci += 1
          }
          a
        case pd: PDense =>
          val a = new Array[Any](len)
          val m = pd.m
          val cj = pd.j / m.chunkCols
          val jin = (pd.j % m.chunkCols).toInt
          var ci = lo / m.chunkRows
          val ciHi = (hi - 1) / m.chunkRows
          while (ci <= ciHi) {
            val vals = readValueChunk(pd.arr, m, Array(ci, cj))
            val from = math.max(lo, ci * m.chunkRows)
            val until = math.min(hi, (ci + 1) * m.chunkRows)
            var r = from
            while (r < until) {
              a((r - lo).toInt) = vals(((r - ci * m.chunkRows) * m.chunkCols + jin).toInt)
              r += 1
            }
            ci += 1
          }
          a
        case psp: PSparse =>
          val a = new Array[Any](len)
          val g = psp.g
          val ptr = new IndexCursor(g.ptr, g.pm)
          var loaded = -1L
          var buf: Array[Double] = null
          def dataAt(k: Long): Double = {
            val c = k / g.dm.chunkRows
            if (c != loaded) {
              buf = readValueChunk(g.dat, g.dm, Array(c))
              loaded = c
            }
            buf((k % g.dm.chunkRows).toInt)
          }
          var r = lo
          var s0 = ptr(lo)
          while (r < hi) {
            val s1 = ptr(r + 1)
            if (s0 == s1) a((r - lo).toInt) = null
            else {
              var sum = 0.0
              var k = s0
              while (k < s1) { sum += dataAt(k); k += 1 }
              a((r - lo).toInt) = sum
            }
            s0 = s1
            r += 1
          }
          a
      }
      (0 until len).iterator.map { k =>
        org.apache.spark.sql.Row.fromSeq(
          (lo + k) +: plansArr.indices.map(c => colsOut(c)(k)))
      }
    }
    spark.createDataFrame(rdd, schema)
  }

  // ---- AnnData sparse CSR/CSC matrix groups ----
  // Real-world anndata stores overwhelmingly persist X as a SPARSE group
  // (anndata on-disk spec: rank-1 `data`/`indices`/`indptr` arrays plus
  // `encoding-type: csr_matrix|csc_matrix` and `shape` attributes), not a
  // dense 2-D array. The (i, j, v) coordinate form is the natural target:
  // expanding CSR is exactly COO conversion, and only STORED entries ever
  // materialize — sparse stays sparse end to end.

  /** Read an anndata-style sparse matrix group into coordinate form.
    * Only STORED entries ever materialize — a 1%-dense 100 TB matrix
    * costs nnz rows, not rows×cols. One plan for every layout: a
    * zero-shuffle scan with one task per `data` chunk. Each task decodes
    * its data chunk and reads the `indices` chunks covering the same flat
    * range, whatever their chunking, as exact longs. It finds the major
    * of its first entry by binary search over indptr chunks read from the
    * store (log₂ of the indptr chunk count in reads, one when indptr is a
    * single chunk), then walks forward — O(1) amortized per entry —
    * reading the next indptr chunk when the walk crosses into it. No
    * joins, no exchanges, nothing broadcast: the driver reads only the
    * first and last indptr chunks (the [[sparseParts]] checks). */
  def readSparse(spark: SparkSession, path: String, key: String = ""): ZMatrix = {
    val (root, frag) = splitKey(path)
    val rel = Some(key).filter(_.nonEmpty).orElse(frag)
      .map(k => validKeySegments(k).mkString("/")).getOrElse("")
    val node = if (rel.isEmpty) root else s"$root/$rel"
    val attrs = readAttrs(root, rel)
    val enc = attrs.path("encoding-type").asText("")
    require(enc == "csr_matrix" || enc == "csc_matrix",
      s"$node is not a sparse matrix group (encoding-type = '$enc'; " +
        "expected csr_matrix or csc_matrix)")
    val shape = attrs.path("shape")
    require(shape.isArray && shape.size() == 2,
      s"$node lacks the 2-element 'shape' attribute of a sparse group")
    val csr = enc == "csr_matrix"
    val g = sparseParts(node)
    val chunk = g.dm.chunkRows
    import spark.implicits._
    val cells = spark.range(g.dm.nChunks).as[Long].flatMap { c =>
      val base = c * chunk
      val len = math.min(chunk.toLong, g.dm.rows - base).toInt
      val dat = readValueChunk(g.dat, g.dm, Array(c))
      val idx = new IndexCursor(g.idx, g.im)
      val ptr = new IndexCursor(g.ptr, g.pm)
      var major = ptr.lastAtMost(base)
      (0 until len).iterator.map { e =>
        val k = base + e
        while (ptr(major + 1) <= k) major += 1
        (major, idx(k), dat(e))
      }
    }.toDF("major", "minor", "v")
    ZMatrix(
      if (csr) cells.select(col("major").as("i"), col("minor").as("j"), col("v"))
      else cells.select(col("minor").as("i"), col("major").as("j"), col("v")))
  }

  /** A sparse group's three rank-1 components: array dir and metadata of
    * `data`, `indices` and `indptr`. */
  private final case class SparseParts(dat: String, dm: Meta, idx: String, im: Meta,
                                       ptr: String, pm: Meta) {
    def majorDim: Long = pm.rows - 1
  }

  /** Resolve the components of the sparse group at `node` and check its
    * lengths from the first and last indptr chunks alone: indptr starts
    * at 0 and ends at the stored-entry count, which `data` and `indices`
    * both hold. A malformed group fails here, before any task runs. */
  private def sparseParts(node: String): SparseParts = {
    def part(name: String): (String, Meta) = {
      val arr = resolveArray(s"$node/$name")
      (arr, readMeta(arr))
    }
    val (dat, dm) = part("data")
    val (idx, im) = part("indices")
    val (ptr, pm) = part("indptr")
    require(dm.rank1 && im.rank1 && pm.rank1,
      s"$node sparse components must be rank-1 arrays")
    require(im.rows == dm.rows,
      s"$node indices holds ${im.rows} entries but data holds ${dm.rows}")
    require(pm.rows >= 1, s"$node indptr is empty")
    val p = new IndexCursor(ptr, pm)
    require(p(0) == 0L, s"$node indptr must start at 0, got ${p(0)}")
    val nnz = p(pm.rows - 1)
    require(nnz == dm.rows, s"$node indptr covers $nnz entries but data holds ${dm.rows}")
    SparseParts(dat, dm, idx, im, ptr, pm)
  }

  /** Element access to an integer rank-1 array `arr` (`m` its metadata)
    * as exact longs, through a one-chunk cache: a forward walk reads each
    * chunk once. Built where it is used (task-local state). */
  private final class IndexCursor(arr: String, m: Meta) {
    private var loaded = -1L
    private var buf: Array[Long] = _

    def apply(k: Long): Long = {
      val c = k / m.chunkRows
      if (c != loaded) { buf = readIndexChunk(arr, m, c); loaded = c }
      buf((k - c * m.chunkRows).toInt)
    }

    /** The last position whose value is <= `v`, in a non-decreasing array
      * whose first value is <= `v`: binary search over the chunks' first
      * values (one chunk read per probe), then inside the chunk found. */
    def lastAtMost(v: Long): Long = {
      var lo = 0L
      var hi = m.nChunks - 1
      while (lo < hi) {
        val mid = (lo + hi + 1) >>> 1
        if (apply(mid * m.chunkRows) <= v) lo = mid else hi = mid - 1
      }
      lo *= m.chunkRows
      hi = math.min(m.rows, lo + m.chunkRows) - 1
      while (lo < hi) {
        val mid = (lo + hi + 1) >>> 1
        if (apply(mid) <= v) lo = mid else hi = mid - 1
      }
      lo
    }
  }

  /** Write TWO position-aligned rank-1 arrays from one (i, v1, v2) frame
    * in a single repartition-by-chunk pass — the sparse group's
    * data+indices shape ([[writeChunks]]; missing positions fill 0). */
  private def writeVectorPair(vec: DataFrame, pathA: String, pathB: String,
                              n: Long, chunk: Int, dtypeA: String, dtypeB: String,
                              format: Int, comp: String): Unit = {
    def meta(dtype: String) = Meta(n, 1, chunk, 1, zlib = false, fill = 0.0,
      dtype = dtype, format = format, keyEnc = writeKeyEnc(format), rank1 = true, comp = comp)
    import vec.sparkSession.implicits._
    writeChunks(vec, Seq(col("i")),
        struct(col("v1").cast("double").as("_1"), col("v2").cast("double").as("_2")),
      Seq(pathA -> meta(dtypeA), pathB -> meta(dtypeB)), (0.0, 0.0), "vector-pair") { buf =>
      Seq(encodeChunk(buf.map(_._1), dtypeA, zlib = false, format, comp),
        encodeChunk(buf.map(_._2), dtypeB, zlib = false, format, comp))
    }
  }

  /** Write coordinate-form cells as an anndata sparse group (the layout
    * zarr-python + anndata emit for sparse X): `data` and `indices` in
    * major-then-minor order, `indptr` covering EVERY line of the major
    * dimension including empty ones. Flat positions come from a
    * hierarchical prefix sum — per-block windows plus a broadcast
    * block-offset table (the packSequences pattern) — and a per-line
    * rank, so no stage sorts more than one block or one line. */
  def writeSparse(m: ZMatrix, path: String, rows: Long, cols: Long,
                  chunk: Int = 8192, csc: Boolean = false,
                  format: Int = 2, comp: String = "",
                  dataDtype: String = "<f8", indexDtype: String = "<i8"): Unit = {
    import org.apache.spark.sql.expressions.Window
    val spark = m.cells.sparkSession
    val majorDim = if (csc) cols else rows
    val cellsM =
      if (csc) m.cells.select(col("j").as("major"), col("i").as("minor"), col("v"))
      else m.cells.select(col("i").as("major"), col("j").as("minor"), col("v"))
    val blockSize = 4096L
    val perMajor = cellsM.groupBy(col("major")).agg(count(lit(1)).as("n"))
    // dense major domain: empty lines must still advance nothing but
    // OCCUPY an indptr slot (their entry repeats the running offset)
    // conditional merge hints on the majorDim-sized joins: the range
    // leaf and the checkpointed offsets frame both carry near-zero size
    // estimates, so above the broadcast-safe size the unhinted planner
    // can elect a corpus-sized broadcast build (the sf10-gate OOM
    // class); below it broadcast stays allowed (it's faster there)
    val mh = mergeHintIfBig(majorDim) _
    val dense = spark.range(majorDim).toDF("major")
      .join(mh(perMajor), Seq("major"), "left")
      .select(col("major"), coalesce(col("n"), lit(0L)).as("n"),
        (col("major") / blockSize).cast("long").as("_blk"))
    val inBlock = Window.partitionBy(col("_blk")).orderBy(col("major"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val withLocal = dense.withColumn("_loc", coalesce(sum(col("n")).over(inBlock), lit(0L)))
    // block totals are O(majorDim / blockSize) rows — the one ordered
    // window runs over that small table, not the data
    val blockOffsets = dense.groupBy(col("_blk")).agg(sum(col("n")).as("_bt"))
      .withColumn("_boff", coalesce(sum(col("_bt")).over(
        Window.orderBy(col("_blk")).rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    // offsets feeds indptr AND both flat-array writes; withK feeds data
    // AND indices. Without the checkpoints each consumer re-runs the
    // whole upstream (per-major agg + two windows + join) — measured 3×
    // the work at sf1. localCheckpoint truncates the lineage once.
    val offsets = withLocal
      .join(broadcast(blockOffsets.select(col("_blk"), col("_boff"))), Seq("_blk"))
      .select(col("major"), (col("_loc") + col("_boff")).as("start"), col("n"))
      .localCheckpoint()
    val total = offsets.agg(coalesce(sum(col("n")), lit(0L))).head().getLong(0)
    val ptrVec = offsets.select(col("major").as("i"), col("start").cast("double").as("v"))
      .union(spark.range(1).select(lit(majorDim).as("i"), lit(total.toDouble).as("v")))
    val rankW = Window.partitionBy(col("major")).orderBy(col("minor"))
    val withK = cellsM.withColumn("_r", row_number().over(rankW))
      .join(mh(offsets.select(col("major"), col("start"))), Seq("major"))
      .select((col("start") + col("_r") - 1).as("k"), col("minor"), col("v"))
      .localCheckpoint()
    val (root, frag) = splitKey(path)
    val rel = frag.map(k => validKeySegments(k).mkString("/")).getOrElse("")
    def child(name: String) =
      if (rel.isEmpty) s"$root#$name" else s"$root#$rel/$name"
    // data and indices are position-aligned by construction — one
    // repartition-by-chunk pass writes BOTH arrays (two writeVector calls
    // would shuffle and scan withK twice)
    writeVectorPair(withK.select(col("k").as("i"), col("v").as("v1"),
        col("minor").cast("double").as("v2")),
      child("data"), child("indices"), total, chunk,
      dtypeA = dataDtype, dtypeB = indexDtype, format = format, comp = comp)
    writeVector(ptrVec, child("indptr"), majorDim + 1, chunk,
      dtype = "<i8", format = format, comp = comp)
    val node = if (rel.isEmpty) root else s"$root#$rel"
    writeAttrs(node,
      s"""{"encoding-type": "${if (csc) "csc_matrix" else "csr_matrix"}",
         | "encoding-version": "0.1.0", "shape": [$rows, $cols]}""".stripMargin)
  }

  // ---- variable-length string rank-1 arrays (anndata obs/var index) ----
  // A real anndata store's obs/var INDEX is a vlen string array — v2:
  // dtype "|O" + the numcodecs vlen-utf8 filter; v3: data_type "string" +
  // the vlen-utf8 codec. The numeric (i, j, v: double) substrate cannot
  // carry strings, so strings get their own long-form (i: long, s: string)
  // pair. Wire format (numcodecs VLenUTF8, zarr-python's object-array
  // default): uint32-LE item count, then per item uint32-LE byte length +
  // UTF-8 bytes; the declared compressor wraps that buffer. Chunks at the
  // array tail are written FULL (fill-padded), the zarr chunk rule.

  private[graft] def vlenEncode(items: Array[String]): Array[Byte] = {
    val bytes = items.map(s => (if (s == null) "" else s).getBytes("UTF-8"))
    val bb = ByteBuffer.allocate(4 + bytes.map(4 + _.length).sum)
      .order(ByteOrder.LITTLE_ENDIAN)
    bb.putInt(items.length)
    bytes.foreach { b => bb.putInt(b.length); bb.put(b) }
    bb.array()
  }

  /** `expectedAlt` tolerates a conforming-but-unpadded FINAL chunk: some
    * foreign writers emit only the valid tail items rather than padding
    * to the chunk shape. Interior chunks pass expectedAlt == expected,
    * keeping the strict check. */
  private[graft] def vlenDecode(bytes: Array[Byte], expected: Int,
                                expectedAlt: Int = -1): Array[String] = {
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    require(bb.remaining() >= 4, "vlen-utf8 chunk truncated (no header)")
    val n = bb.getInt
    require(n == expected || n == expectedAlt,
      s"vlen-utf8 chunk holds $n items, chunk shape says $expected")
    Array.fill(n) {
      require(bb.remaining() >= 4, "vlen-utf8 chunk truncated (item header)")
      val len = bb.getInt
      require(len >= 0 && len <= bb.remaining(),
        s"vlen-utf8 item length $len exceeds chunk payload")
      val b = new Array[Byte](len); bb.get(b); new String(b, "UTF-8")
    }
  }

  /** Metadata of a rank-1 array whose element kind `ok` accepts (`what`
    * names the kind) — the string and time readers' view of
    * [[readArrayMeta]]. */
  private def vectorMeta(path: String, what: String)(ok: Meta => Boolean): Meta = {
    val m = readArrayMeta(path)
    require(ok(m), s"$path is not a $what array (dtype ${m.dtype}) — " +
      "numeric arrays read through Zarr.read/readVector")
    require(m.rank1, s"$what arrays are rank-1 only, got shape ${m.shape.mkString("[", ", ", "]")}")
    m
  }

  /** Write a rank-1 vlen string array from a long-form (i, s) frame —
    * the anndata obs/var index shape, readable by zarr-python as-is,
    * through [[writeChunks]], so the write is as distributed as the
    * numeric DSv2 path. Missing positions fill with "". */
  def writeStringVector(vec: DataFrame, path: String, n: Long, chunk: Int,
                        zlib: Boolean = false, format: Int = 2,
                        comp: String = ""): Unit = {
    require(format == 2 || format == 3, s"zarrFormat must be 2 or 3, got $format")
    requireCodec(zlib, comp)
    import vec.sparkSession.implicits._
    writeChunks(vec, Seq(col("i")), col("s").cast("string"),
      Seq(path -> Meta(n, 1, chunk, 1, zlib, 0.0, ZarrMeta.StringDtype, format,
        keyEnc = writeKeyEnc(format), rank1 = true, comp = comp)), "", "string vector") {
      buf => Seq(frame(vlenEncode(buf), 1, zlib, format, comp))
    }
  }

  /** Read a rank-1 vlen string array back as (i: long, s: string) —
    * partition-per-chunk (spark.range over the chunk grid), group
    * addressing as for matrices; absent chunks yield fill ("") rows. */
  def readStringVector(spark: SparkSession, path: String, key: String = ""): DataFrame = {
    val arr = resolveArray(path, Some(key).filter(_.nonEmpty))
    val m = vectorMeta(arr, "string")(_.isString)
    val (n, chunk) = (m.rows, m.chunkRows)
    import spark.implicits._
    spark.range(m.nChunks).as[Long].flatMap { ci =>
      val len = math.min(chunk.toLong, n - ci * chunk).toInt
      val items = readChunk(arr, m, Array(ci), "", SelfSized)(vlenDecode(_, chunk, expectedAlt = len))
      (0 until len).iterator.map(k => (ci * chunk + k, items(k)))
    }.toDF("i", "s")
  }

  // ---- datetime64/timedelta64 rank-1 arrays (anndata obs time columns) ----
  // NumPy datetime64[ns] is an 8-byte signed count of epoch NANOseconds
  // (timedelta64[ns] the same thing relative; NaT = Long.MinValue).
  // Nanos for current dates (~1.8e18) exceed double's 2^53 exact-integer
  // range, so these arrays BYPASS the double substrate entirely: a
  // dedicated (i, v: long) path keeps every value bit-exact end to end.
  // v2 stores the literal "<M8[ns]" dtype zarr-python emits; v3 the
  // zarr-python "numpy.datetime64" extension data_type.

  /** Write a rank-1 datetime64[ns]/timedelta64[ns] array from a long-form
    * (i, v: epoch-nanos long) frame through [[writeChunks]]; missing
    * positions take `fill` (0 = epoch; use Long.MinValue for NaT). */
  def writeTimeVector(vec: DataFrame, path: String, n: Long, chunk: Int,
                      dtype: String = "<M8[ns]", format: Int = 2,
                      comp: String = "", zlib: Boolean = false,
                      fill: Long = 0L): Unit = {
    require(ZarrMeta.TimeDtypes.contains(dtype),
      s"unsupported time dtype '$dtype' (one of ${ZarrMeta.TimeDtypes.mkString(", ")})")
    require(format == 2 || format == 3, s"zarrFormat must be 2 or 3, got $format")
    requireCodec(zlib, comp)
    import vec.sparkSession.implicits._
    writeChunks(vec, Seq(col("i")), col("v").cast("long"),
      Seq(path -> Meta(n, 1, chunk, 1, zlib, 0.0, dtype, format, keyEnc = writeKeyEnc(format),
        rank1 = true, comp = comp).copy(timeFill = fill)), fill, "time vector") { buf =>
      val bb = ByteBuffer.allocate(buf.length * 8).order(byteOrder(dtype))
      buf.foreach(bb.putLong)
      Seq(frame(bb.array(), 8, zlib, format, comp))
    }
  }

  /** Read a rank-1 datetime64/timedelta64[ns] array back as
    * (i, v: epoch-nanos long) — bit-exact, never through double. Absent
    * chunks materialize as the store's fill_value. */
  def readTimeVector(spark: SparkSession, path: String, key: String = ""): DataFrame = {
    val arr = resolveArray(path, Some(key).filter(_.nonEmpty))
    val m = vectorMeta(arr, "datetime64/timedelta64")(_.isTime)
    val (n, chunk) = (m.rows, m.chunkRows)
    import spark.implicits._
    spark.range(m.nChunks).as[Long].flatMap { ci =>
      val len = math.min(chunk.toLong, n - ci * chunk).toInt
      val items = readChunk(arr, m, Array(ci), m.timeFill, chunk * 8)(decodeLongs(_, len, m.dtype))
      (0 until len).iterator.map(k => (ci * chunk + k, items(k)))
    }.toDF("i", "v")
  }
}
