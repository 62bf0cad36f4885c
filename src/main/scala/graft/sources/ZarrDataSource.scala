package graft.sources

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder, Transform}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.{DataSourceRegister, Filter, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.zarr.Zarr

/** DataSource V2 Zarr reader: `spark.read.format("zarr").load(path)` →
  * coordinate cells (i, j, v). The reference reads the same stores via its
  * Python Zarr executor; here the chunk grid IS Spark's partitioning — one
  * `InputPartition` per chunk (present or all-fill), so a 100 TB store
  * fans out across executors with no driver data movement (the driver
  * touches only the `.zarray` metadata and the store listing).
  *
  * All store I/O goes through the Hadoop FileSystem API, so the same
  * code serves file://, hdfs://, and s3a:// stores.
  */
class ZarrDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "zarr"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ZarrDataSource.cellSchema
  // external metadata: writes arrive with the query's own schema
  // (ci, cj, i, j, v) — reads still infer the cell schema above
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table =
    new ZarrTable(properties.get("path"), schema)
  override def supportsExternalMetadata(): Boolean = true
}

object ZarrDataSource {
  val cellSchema: StructType = StructType(Seq(
    StructField("i", LongType, nullable = false),
    StructField("j", LongType, nullable = false),
    StructField("v", DoubleType, nullable = false)))
}

class ZarrTable(path: String, tableSchema: StructType = ZarrDataSource.cellSchema)
    extends Table with SupportsRead with SupportsWrite {
  require(path != null, "zarr source requires .load(path) / .save(path)")
  override def name(): String = s"zarr:$path"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)
  // group navigation (anndata-style stores): the load path may carry a
  // '#key' fragment, or the key arrives as .option("key", ...) — resolve
  // to the array directory here (driver-side metadata probes only)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ZarrScanBuilder(Zarr.resolveArray(path, Option(options.get("key"))))
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new ZarrWriteBuilder(path, info)
}

/** Pushes i/j range filters down to CHUNK PRUNING: a chunk whose index
  * range cannot satisfy the predicates is never planned, so
  * `X[a:b, c:d]` on a 100 TB store touches only the overlapping chunks.
  * Filters stay in `postScanFilters` too (we prune chunks, not rows).
  *
  * Column pruning goes further than projection: when `v` is not required
  * (a `count(*)`, a coordinate-only query), the reader never opens or
  * decodes a single chunk file — cell coordinates derive from the grid
  * metadata alone, so the scan is pure compute over a driver-side LIST. */
class ZarrScanBuilder(path: String) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {
  private var iLo = Long.MinValue; private var iHi = Long.MaxValue
  private var jLo = Long.MinValue; private var jHi = Long.MaxValue
  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = ZarrDataSource.cellSchema

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (understood, rest) = filters.partition {
      case GreaterThanOrEqual("i" | "j", _: Long) => true
      case GreaterThan("i" | "j", _: Long) => true
      case LessThan("i" | "j", _: Long) => true
      case LessThanOrEqual("i" | "j", _: Long) => true
      case _ => false
    }
    understood.foreach {
      case GreaterThanOrEqual("i", v: Long) => iLo = iLo.max(v)
      case GreaterThan("i", v: Long)        => iLo = iLo.max(v + 1)
      case LessThan("i", v: Long)           => iHi = iHi.min(v - 1)
      case LessThanOrEqual("i", v: Long)    => iHi = iHi.min(v)
      case GreaterThanOrEqual("j", v: Long) => jLo = jLo.max(v)
      case GreaterThan("j", v: Long)        => jLo = jLo.max(v + 1)
      case LessThan("j", v: Long)           => jHi = jHi.min(v - 1)
      case LessThanOrEqual("j", v: Long)    => jHi = jHi.min(v)
      case _ => ()
    }
    pushed = understood
    filters // chunk-level pruning only: Spark must still apply row filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = new ZarrScan(path, required, iLo, iHi, jLo, jHi)
}

/** One partition per chunk of the grid; `file == null` marks a chunk the
  * reader never opens — either all-fill (the writer skipped it) or a
  * value-pruned scan (no `v` column required). `fields` is the pruned
  * output schema's field order. */
case class ZarrChunkPartition(ci: Long, cj: Long, file: String,
                              rows: Long, cols: Long, chunkRows: Int, chunkCols: Int,
                              zlib: Boolean, fill: Double, dtype: String,
                              format: Int = 2, innerRows: Int = 0,
                              innerCols: Int = 0, fOrder: Boolean = false,
                              fields: Seq[String] = Seq("i", "j", "v"),
                              comp: String = "")
  extends InputPartition

class ZarrScan(path: String, required: StructType = ZarrDataSource.cellSchema,
               iLo: Long = Long.MinValue, iHi: Long = Long.MaxValue,
               jLo: Long = Long.MinValue, jHi: Long = Long.MaxValue)
    extends Scan with Batch with SupportsReportStatistics {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  @transient private lazy val meta0 = Zarr.readMeta(path)

  /** Exact stats from the grid metadata (dense semantics: every cell
    * exists): lets Catalyst auto-broadcast a small store's side of a join
    * instead of defaulting to "unknown = huge". */
  override def estimateStatistics(): Statistics = new Statistics {
    private val cells = meta0.rows * meta0.cols
    override def numRows(): java.util.OptionalLong = java.util.OptionalLong.of(cells)
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(cells * 8L * math.max(1, required.fields.length))
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val meta = meta0
    val present = Zarr.listChunks(path, meta.keyEnc, meta.rank1)
    val gridR = ((meta.rows + meta.chunkRows - 1) / meta.chunkRows).toInt
    val gridC = ((meta.cols + meta.chunkCols - 1) / meta.chunkCols).toInt
    def overlaps(c: Int, size: Int, lo: Long, hi: Long): Boolean =
      c.toLong * size <= hi && (c.toLong + 1) * size - 1 >= lo
    val needV = required.fieldNames.contains("v")
    (for {
      ci <- 0 until gridR if overlaps(ci, meta.chunkRows, iLo, iHi)
      cj <- 0 until gridC if overlaps(cj, meta.chunkCols, jLo, jHi)
    } yield {
      // value-pruned scans never touch chunk files: coordinates come from
      // the grid alone, so count(*)/coordinate queries are decode-free
      val f = if (needV && present((ci.toLong, cj.toLong)))
        Zarr.chunkPath(path, ci, cj, meta.keyEnc, meta.rank1) else null
      ZarrChunkPartition(ci, cj, f, meta.rows, meta.cols,
        meta.chunkRows, meta.chunkCols, meta.zlib, meta.fill, meta.dtype,
        meta.format, meta.innerRows, meta.innerCols, meta.fOrder,
        required.fieldNames.toSeq, meta.comp): InputPartition
    }).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] =
        new ZarrChunkReader(p.asInstanceOf[ZarrChunkPartition])
    }
}

class ZarrChunkReader(p: ZarrChunkPartition) extends PartitionReader[InternalRow] {
  private val values: Array[Double] =
    if (p.file == null) null
    else if (p.innerRows > 0)
      Zarr.decodeShard(Zarr.readBytes(p.file),
        p.chunkRows, p.chunkCols, p.innerRows, p.innerCols, p.dtype, p.zlib, p.fill,
        p.fOrder, p.comp)
    else if (p.fOrder)
      Zarr.fromFOrder(Zarr.decodeChunk(Zarr.readBytes(p.file),
        p.chunkRows * p.chunkCols, p.zlib, p.dtype, p.format, p.comp),
        p.chunkRows, p.chunkCols)
    else Zarr.decodeChunk(Zarr.readBytes(p.file),
      p.chunkRows * p.chunkCols, p.zlib, p.dtype, p.format, p.comp)

  // field codes resolved once (get() runs per cell): 0 = i, 1 = j, 2 = v
  private val fieldCodes: Array[Int] = p.fields.map {
    case "i" => 0
    case "j" => 1
    case "v" => 2
    case other => throw new IllegalStateException(s"unknown zarr column $other")
  }.toArray

  private var li = 0
  private var lj = -1
  private var curI = 0L
  private var curJ = 0L

  override def next(): Boolean = {
    var found = false
    while (!found && li < p.chunkRows) {
      lj += 1
      if (lj >= p.chunkCols) { lj = 0; li += 1 }
      if (li < p.chunkRows) {
        curI = p.ci * p.chunkRows + li
        curJ = p.cj * p.chunkCols + lj
        found = curI < p.rows && curJ < p.cols
      }
    }
    found
  }

  override def get(): InternalRow = {
    val out = new Array[Any](fieldCodes.length)
    var k = 0
    while (k < fieldCodes.length) {
      out(k) = fieldCodes(k) match {
        case 0 => curI
        case 1 => curJ
        case _ => if (values == null) p.fill else values(li * p.chunkCols + lj)
      }
      k += 1
    }
    new GenericInternalRow(out)
  }

  override def close(): Unit = ()
}

// ---- write path: df.write.format("zarr") ----

/** Everything a task needs, extracted from the (non-serializable) options
  * map on the driver. Field indices are resolved once from the write
  * schema; `rows`/`cols` may be absent and are then inferred at commit
  * from the per-task max coordinates. */
case class ZarrWriteConf(path: String, chunkRows: Int, chunkCols: Int,
                         rowsOpt: Option[Long], colsOpt: Option[Long],
                         dtype: String, zlib: Boolean, fill: Double,
                         ciIdx: Int, cjIdx: Int, iIdx: Int, jIdx: Int, vIdx: Int,
                         format: Int = 2, innerRows: Int = 0, innerCols: Int = 0,
                         fOrder: Boolean = false,
                         // group-addressed write: `path` is the ARRAY dir
                         // root/seg1/…; commit() writes group metadata at
                         // the root and intermediate levels
                         groupRoot: String = "", keySegs: Seq[String] = Nil,
                         rank1: Boolean = false, comp: String = "",
                         keyEnc: String = "") {
  /** "" (a directly-constructed conf) = the format default. */
  def keyEncResolved: String =
    if (keyEnc.isEmpty) Zarr.writeKeyEnc(format) else keyEnc
}

/** `mode("overwrite")` truncates then rebuilds the store; `mode("append")`
  * adds this job's chunks to an existing store — the incremental-ingestion
  * pattern (one slab of the matrix per job/micro-batch). Appends are
  * validated against the existing metadata (geometry/dtype/codec/key
  * layout must match — see ZarrBatchWrite), the shape can only grow, and
  * a re-written chunk replaces the old one whole. */
class ZarrWriteBuilder(path: String, info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }

  override def build(): Write = {
    val schema = info.schema()
    val opts = info.options()
    def idxOf(name: String, types: Set[DataType]): Int = {
      val i = schema.fieldIndex(name)
      require(types.contains(schema(i).dataType),
        s"zarr write: column $name must be one of $types, got ${schema(i).dataType}")
      i
    }
    require(opts.containsKey("chunkRows") && opts.containsKey("chunkCols"),
      "zarr write requires .option(\"chunkRows\", ...) and .option(\"chunkCols\", ...)")
    val dtype = Option(opts.get("dtype")).getOrElse("<f8")
    require(Zarr.Dtypes.contains(dtype), s"unsupported dtype $dtype")
    val comp = Option(opts.get("comp")).getOrElse("")
    Zarr.requireCodec(Option(opts.get("zlib")).exists(_.toBoolean), comp)
    val format = Option(opts.get("zarrFormat")).map(_.toInt).getOrElse(2)
    require(format == 2 || format == 3, s"zarrFormat must be 2 or 3, got $format")
    // chunk-key layout: the format default unless overridden — v2 may also
    // write the nested ("/"-separated) tree, v3 any of its four encodings
    val keyEnc = Option(opts.get("keyEnc")).filter(_.nonEmpty)
      .getOrElse(Zarr.writeKeyEnc(format))
    val allowedKeyEnc = if (format == 2) Set("flat", "nested")
                        else Set("c/", "c.", "nested", "flat")
    require(allowedKeyEnc.contains(keyEnc),
      s"keyEnc '$keyEnc' not writable for zarrFormat=$format (one of $allowedKeyEnc)")
    // fail HERE, before overwrite truncates the existing store and every
    // task runs — an expensive way to learn the options were invalid
    require(format == 3 || !Option(opts.get("fOrder")).exists(_.toBoolean),
      "F-order writes are v3-only (the transpose codec); v2 stores are written C-order")
    val innerRows = Option(opts.get("innerRows")).map(_.toInt).getOrElse(0)
    val innerCols = Option(opts.get("innerCols")).map(_.toInt).getOrElse(0)
    val rank1 = Option(opts.get("rank1")).exists(_.toBoolean)
    if (rank1) {
      require(opts.get("chunkCols").toInt == 1 &&
        Option(opts.get("cols")).forall(_.toLong == 1L),
        "rank1 writes must use chunkCols=1 / cols=1 (the (n, 1) column form)")
      require(innerRows == 0 && innerCols == 0 &&
        !Option(opts.get("fOrder")).exists(_.toBoolean),
        "rank-1 stores do not compose with sharding or F-order")
    }
    if (innerRows > 0 || innerCols > 0) {
      require(format == 3, "sharding (innerRows/innerCols) requires zarrFormat=3")
      require(innerRows > 0 && innerCols > 0 &&
        opts.get("chunkRows").toInt % innerRows == 0 &&
        opts.get("chunkCols").toInt % innerCols == 0,
        "inner chunk shape must divide the shard (chunkRows/chunkCols) shape")
    }
    // group-addressed write ("root#X" or .option("key", "X")): the array
    // lands under root/key and commit() adds the group metadata files, so
    // the result is a navigable (anndata-style) hierarchy
    val (groupRoot, frag) = Zarr.splitKey(path)
    val keySegs = Option(opts.get("key")).filter(_.nonEmpty).orElse(frag)
      .map(Zarr.validKeySegments).getOrElse(Seq.empty)
    // no PREFIX of the key may be an existing array: writing "root#X/inner"
    // when root/X is an array would plant .zgroup inside the array dir — a
    // non-conforming hybrid node interleaving a chunk tree with children
    if (keySegs.nonEmpty)
      (0 until keySegs.length).map(i => (groupRoot +: keySegs.take(i)).mkString("/"))
        .foreach(p => require(!Zarr.isArrayNode(p),
          s"$p is a Zarr ARRAY — cannot write key '${keySegs.mkString("/")}' through it"))
    val arrayPath = (groupRoot +: keySegs).mkString("/")
    val conf = ZarrWriteConf(arrayPath,
      opts.get("chunkRows").toInt, opts.get("chunkCols").toInt,
      Option(opts.get("rows")).map(_.toLong), Option(opts.get("cols")).map(_.toLong),
      dtype, Option(opts.get("zlib")).exists(_.toBoolean),
      Option(opts.get("fill")).map(_.toDouble).getOrElse(0.0),
      idxOf("ci", Set(LongType)), idxOf("cj", Set(LongType)),
      idxOf("i", Set(LongType)), idxOf("j", Set(LongType)),
      idxOf("v", Set[DataType](DoubleType, FloatType, LongType, IntegerType)),
      format, innerRows, innerCols,
      Option(opts.get("fOrder")).exists(_.toBoolean),
      groupRoot, keySegs, rank1, comp, keyEnc)
    new ZarrWrite(conf, schema(conf.vIdx).dataType, doTruncate)
  }
}

/** The write declares its physical needs instead of shuffling by hand:
  * clustered distribution on (ci, cj) guarantees each task owns whole
  * chunks, the sort order lets the task writer stream chunk-by-chunk with
  * a single chunk buffer in memory. Catalyst inserts (and AQE sizes) the
  * exchange — this replaces the old side-channel
  * repartition+sortWithinPartitions+foreachPartition helper. */
class ZarrWrite(conf: ZarrWriteConf, vType: DataType, truncate: Boolean)
    extends Write with RequiresDistributionAndOrdering {
  override def requiredDistribution(): Distribution =
    Distributions.clustered(Array(Expressions.column("ci"), Expressions.column("cj")))
  override def requiredOrdering(): Array[SortOrder] = Array(
    Expressions.sort(Expressions.column("ci"), SortDirection.ASCENDING),
    Expressions.sort(Expressions.column("cj"), SortDirection.ASCENDING))
  // let AQE SIZE the exchange by bytes instead of inheriting the session
  // shuffle parallelism: with a fixed task count, per-task sort memory
  // grows with the store (the sf10-gate UNABLE_TO_ACQUIRE_MEMORY class) —
  // a 64 MiB advisory keeps per-task state constant at any scale
  override def advisoryPartitionSizeInBytes(): Long = 64L << 20
  override def toBatch: BatchWrite = new ZarrBatchWrite(conf, vType, truncate)
}

case class ZarrCommitMessage(files: Seq[String], maxI: Long, maxJ: Long)
    extends WriterCommitMessage

class ZarrBatchWrite(conf: ZarrWriteConf, vType: DataType, truncate: Boolean)
    extends BatchWrite {
  // metadata of the store being appended to (driver-side, read once before
  // any task runs); None for overwrite or a fresh path
  private var existing: Option[Zarr.Meta] = None

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    // driver-side prep before any task runs (all through the Hadoop FS
    // API, so the store may live on file://, hdfs://, or s3a://): on
    // overwrite, clear stale chunks (a previous shape/chunking would
    // otherwise corrupt reads) under EVERY key layout the reader supports
    // (flat "ci.cj", nested "ci/" dirs, "c.ci.cj", the v3 "c/" tree),
    // attempt temps, and the old metadata. Truncation is pre-commit (the
    // same contract as Spark's own file-table INSERT OVERWRITE): a job
    // that fails after this point leaves a store with NO metadata file —
    // detectably absent, never silently mixed-generation, because
    // metadata lands only in commit()
    if (truncate) {
      Zarr.listNames(conf.path).foreach { f =>
        if (f.matches("\\d+\\.\\d+") || f.matches("c\\.\\d+(\\.\\d+)?") ||
          f.matches(".*\\.__tmp-\\d+") || f == ".zarray" || f == "zarr.json")
          Zarr.delete(s"${conf.path}/$f")
        else if (f.matches("\\d+")) // nested-layout chunk-row dir OR rank-1 chunk
          Zarr.delete(s"${conf.path}/$f", recursive = true)
      }
      Zarr.delete(s"${conf.path}/c", recursive = true)
    } else {
      // append: the new chunks must decode under the EXISTING metadata —
      // geometry, dtype, codec, and key layout all have to match, or the
      // commit would silently corrupt (or hide) every pre-existing chunk
      existing = if (Zarr.exists(s"${conf.path}/zarr.json") ||
        Zarr.exists(s"${conf.path}/.zarray")) Some(Zarr.readMeta(conf.path)) else None
      existing.foreach { m =>
        require(m.format == conf.format && m.chunkRows == conf.chunkRows &&
          m.chunkCols == conf.chunkCols && m.dtype == conf.dtype &&
          m.zlib == conf.zlib && m.comp == conf.comp && m.innerRows == conf.innerRows &&
          m.innerCols == conf.innerCols && m.fOrder == conf.fOrder &&
          m.rank1 == conf.rank1 &&
          (m.fill == conf.fill || (m.fill.isNaN && conf.fill.isNaN)),
          s"append requires matching store geometry/codec: existing=$m, " +
            s"write options=(chunks ${conf.chunkRows}x${conf.chunkCols}, " +
            s"dtype ${conf.dtype}, zlib ${conf.zlib}, comp '${conf.comp}', format ${conf.format}, " +
            s"inner ${conf.innerRows}x${conf.innerCols}, fOrder ${conf.fOrder}, " +
            s"fill ${conf.fill})")
        require(m.keyEnc == conf.keyEncResolved,
          s"append to a '${m.keyEnc}'-keyed store with '${conf.keyEncResolved}' keys " +
            "would interleave two chunk layouts")
      }
      // orphan attempt temps from hard-crashed prior jobs never get
      // truncated away on this path — sweep them here
      Zarr.cleanTemps(conf.path)
    }
    ZarrWriterFactory(conf, vType)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    // .zarray lands last: a store is readable only once commit succeeds.
    // Appends can only GROW the shape: inferring from this batch alone
    // would shrink it below pre-existing chunks and hide them.
    val ms = messages.collect { case m: ZarrCommitMessage => m }
    val rows = conf.rowsOpt.getOrElse(
      (ms.map(_.maxI).foldLeft(-1L)(_ max _) + 1) max existing.map(_.rows).getOrElse(0L))
    val cols = conf.colsOpt.getOrElse(
      (ms.map(_.maxJ).foldLeft(-1L)(_ max _) + 1) max existing.map(_.cols).getOrElse(0L))
    // group metadata first, array metadata last: the array (the readable
    // unit) appears only once its whole group hierarchy is navigable
    if (conf.keySegs.nonEmpty)
      Zarr.ensureGroupMeta(conf.groupRoot, conf.keySegs, conf.format)
    Zarr.writeMetaFile(conf.path,
      Zarr.Meta(rows, cols, conf.chunkRows, conf.chunkCols, conf.zlib, conf.fill,
        conf.dtype, conf.format, conf.innerRows, conf.innerCols, conf.fOrder,
        keyEnc = conf.keyEncResolved, rank1 = conf.rank1, comp = conf.comp))
    // a consolidated store must not go stale: re-consolidate after the new
    // array's metadata lands (same contract as zarr-python — consolidation
    // reflects the hierarchy at write time). Keyless writes refresh too —
    // a direct-path write into `root/X` walks up to find the consolidated
    // root the array belongs to.
    Zarr.refreshConsolidatedAbove(
      if (conf.keySegs.nonEmpty) conf.groupRoot else conf.path)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    // Overwrite: the store was already truncated, so deleting this job's
    // published chunks leaves "no metadata, no chunks" — cleanly absent.
    // Append: a published chunk may have REPLACED a pre-existing one
    // (renameOver); deleting it would punch a silent fill-reading hole in
    // a still-valid store, so published chunks stay and the append is
    // converged by re-running the job (chunk writes are idempotent).
    if (truncate)
      messages.collect { case m: ZarrCommitMessage => m }
        .foreach(_.files.foreach(f => Zarr.delete(f)))
}

case class ZarrWriterFactory(conf: ZarrWriteConf, vType: DataType) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new ZarrDataWriter(conf, vType, taskId)
}

/** Streams (ci,cj)-sorted rows into one chunk buffer at a time. Chunk bytes
  * are staged under ATTEMPT-SCOPED temp names (`<final>.__tmp-<taskId>` —
  * invisible to `Zarr.listChunks`, whose patterns accept digits only) and
  * renamed to their final names in `commit()`. Spark's commit coordinator
  * lets at most one attempt per partition commit, so under task retry or
  * speculation a losing attempt's `abort()` deletes only its OWN temps and
  * can never touch a chunk the winning attempt already published. */
class ZarrDataWriter(conf: ZarrWriteConf, vType: DataType, taskId: Long)
    extends DataWriter[InternalRow] {
  private var curCi = Long.MinValue
  private var curCj = Long.MinValue
  private var buf: Array[Double] = null
  // (attempt-temp path, final path) per flushed chunk
  private val staged = scala.collection.mutable.ListBuffer.empty[(String, String)]
  private var maxI = -1L
  private var maxJ = -1L

  private def flush(): Unit = if (buf != null) {
    val bytes = if (conf.innerRows > 0)
      Zarr.encodeShard(buf, conf.chunkRows, conf.chunkCols,
        conf.innerRows, conf.innerCols, conf.dtype, conf.zlib, conf.fill, conf.fOrder,
        conf.comp)
    else Zarr.encodeChunk(
      if (conf.fOrder) Zarr.toFOrder(buf, conf.chunkRows, conf.chunkCols) else buf,
      conf.dtype, conf.zlib, conf.format, conf.comp)
    val f = Zarr.chunkPath(conf.path, curCi, curCj, conf.keyEncResolved,
      conf.rank1)
    val tmp = s"$f.__tmp-$taskId"
    Zarr.writeBytes(tmp, bytes) // FS.create makes parent dirs (v3's c/<ci>/)
    staged += ((tmp, f))
  }

  override def write(r: InternalRow): Unit = {
    val ci = r.getLong(conf.ciIdx)
    val cj = r.getLong(conf.cjIdx)
    if (ci != curCi || cj != curCj) {
      flush()
      curCi = ci; curCj = cj
      buf = Array.fill(conf.chunkRows * conf.chunkCols)(conf.fill)
    }
    val i = r.getLong(conf.iIdx)
    val j = r.getLong(conf.jIdx)
    val v = vType match {
      case DoubleType  => r.getDouble(conf.vIdx)
      case FloatType   => r.getFloat(conf.vIdx).toDouble
      case LongType    => r.getLong(conf.vIdx).toDouble
      case IntegerType => r.getInt(conf.vIdx).toDouble
      case other       => throw new IllegalStateException(s"unexpected v type $other")
    }
    if (i > maxI) maxI = i
    if (j > maxJ) maxJ = j
    buf((i - ci * conf.chunkRows).toInt * conf.chunkCols + (j - cj * conf.chunkCols).toInt) = v
  }

  override def commit(): WriterCommitMessage = {
    flush()
    buf = null
    // publish: temp → final. Reached by at most one attempt per partition
    // (commit coordinator), so no rename races another attempt's files.
    staged.foreach { case (tmp, f) => Zarr.renameOver(tmp, f) }
    ZarrCommitMessage(staged.map(_._2).toSeq, maxI, maxJ)
  }

  override def abort(): Unit = staged.foreach { case (tmp, _) => Zarr.delete(tmp) }
  override def close(): Unit = ()
}
