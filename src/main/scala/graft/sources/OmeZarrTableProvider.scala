package graft.sources

import java.util
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import graft.meta.Dtypes
import graft.meta.Model.MultiscalesMeta
import graft.zarr.{SerializableHadoopConf, ZarrArray, ZarrStore}

import scala.jdk.CollectionConverters._

/** DataSource V2 read path for OME-Zarr stores (SURVEY S1/M2):
  *
  * {{{ spark.read.format("omezarr").load("/path/img.zarr") }}}
  *
  * → the chunk table `(scale, chunk_idx, origin, shape, dtype, data)`.
  * Each InputPartition holds a run of one level's stored chunk or shard
  * objects, packed by the split rule of Spark's file scans (see
  * [[OmeZarrScan]]). This is the one OME-Zarr read path:
  * `OmeZarrIO.readMultiscales` reads each level through it.
  *
  * Pushdown (`SupportsPushDownFilters`): predicates on `scale` prune
  * levels, so `WHERE scale = 3` lists only that level's chunks — the
  * Spark form of the reference's lazy per-level scan. `chunk_idx = k`
  * and `chunk_idx IN (...)` are exact keys: planning keeps only the
  * stored objects that hold a named in-grid chunk, and the reader
  * decodes only the named chunks of a shard. The scan applies both
  * exactly, so Spark keeps no filter of its own for them. Column
  * pruning (`SupportsPushDownRequiredColumns`): when `data` isn't
  * selected, readers never fetch or decompress chunk payloads —
  * metadata-only queries cost metadata-only I/O.
  *
  * Point reads: a scan that keeps at most one stored object no
  * heavier than the scan's split size is an [[OmeZarrLocalScan]], which
  * Spark plans as a `LocalTableScanExec`, so it collects without a
  * Spark job. A `load` scan is one only when it is keyed
  * (`WHERE scale = s AND chunk_idx = [...]`); a scan over a pyramid
  * that is already open (`OmeZarrIO.readMultiscales`) is one whenever
  * it keeps one object, so a one-object level is read on the driver.
  * The rules differ because a driver read moves the pixel read to
  * planning. An unkeyed `load` keeps the usual scan contract: planning
  * and `explain()` read no pixels, and each run reads the store's
  * bytes as they are then; only a query that names its chunk trades
  * that for a read with no Spark job. A `readMultiscales` level has
  * fixed its metadata when the pyramid was opened, so reading its one
  * object at planning keeps its pixels with the metadata they came
  * with.
  * Such a read fetches and decodes its object when the query is
  * planned (the `LocalScan` contract), not when it runs:
  *  - collecting the same Dataset again returns the rows read at
  *    planning, even after the store was overwritten; a new `load` or
  *    `readMultiscales` reads the store again;
  *  - `explain()` plans, so it reads the object too;
  *  - a corrupt object fails at planning with the reader's own typed
  *    error, not as a failed task.
  * Every scan fixes its metadata (levels, shapes, codecs) when it
  * plans: a `load` scan opens the store's metadata once per plan, and
  * a scan over an open pyramid uses that pyramid and opens nothing. An
  * executor scan reads its chunk bytes each time it runs.
  */
class OmeZarrTableProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "omezarr"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    OmeZarrTable.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new OmeZarrTable(properties.get("path"), None)
}

object OmeZarrTable {
  /** An opened pyramid, as `ZarrArray.openPyramid` returns it. */
  type Pyramid = (MultiscalesMeta, Seq[(Int, ZarrArray)])

  val Schema: StructType = StructType(Seq(
    StructField("scale", IntegerType, nullable = false),
    StructField("chunk_idx", ArrayType(IntegerType), nullable = false),
    StructField("origin", ArrayType(LongType), nullable = false),
    StructField("shape", ArrayType(IntegerType), nullable = false),
    StructField("dtype", StringType, nullable = false),
    StructField("data", BinaryType, nullable = false)))
}

/** The chunk table of the store at `path`. With `opened`, its scans
  * plan from that pyramid instead of opening the store's metadata.
  */
class OmeZarrTable(path: String, opened: Option[OmeZarrTable.Pyramid]) extends Table
    with SupportsRead with org.apache.spark.sql.connector.catalog.SupportsWrite {
  require(path != null, "omezarr requires a path")
  override def name(): String = s"omezarr:$path"
  override def schema(): StructType = OmeZarrTable.Schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new OmeZarrScanBuilder(path, opened)
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new OmeZarrWriteBuilder(path, info.options.asScala.toMap)
}

/** One unit of scan work: the stored objects of `array` at grid
  * positions `objs`, in row-major order — plain chunks, or whole shards
  * whose reader emits one row per in-array inner chunk. `keys`, when a
  * `chunk_idx` key was pushed, are the only chunks the reader emits.
  */
final case class OmeZarrInputPartition(scale: Int, objs: Seq[Seq[Int]], array: ZarrArray,
    keys: Option[Set[Seq[Int]]] = None) extends InputPartition {
  def wanted(idx: Seq[Int]): Boolean = keys.forall(_.contains(idx))

  /** The partition's rows with the `required` columns: the one row
    * builder of the executor reader and the driver-side point read.
    * Metadata-only scans (`data` pruned) touch no object at all: fill
    * semantics make every kept in-array chunk a row.
    */
  def rows(required: StructType, store: => ZarrStore): Iterator[InternalRow] = {
    val a = array
    val chunks: Iterator[(Seq[Int], Array[Byte])] =
      if (required.fieldNames.contains("data")) {
        val s = store
        objs.iterator.flatMap(a.read(s, _, wanted))
      } else objs.iterator.flatMap(a.slots(_).collect {
        case (_, idx) if wanted(idx) => (idx, null)
      })
    chunks.map { case (idx, data) =>
      new GenericInternalRow(required.fieldNames.map[Any] {
        case "scale" => scale
        case "chunk_idx" => ArrayData.toArrayData(idx.toArray)
        case "origin" => ArrayData.toArrayData(ZarrStore.chunkOriginAt(a.chunks, idx).toArray)
        case "shape" => ArrayData.toArrayData(ZarrStore.chunkShapeAt(a.shape, a.chunks, idx).toArray)
        case "dtype" => UTF8String.fromString(a.dtype)
        case "data" => data
      })
    }
  }
}

class OmeZarrScanBuilder(path: String, opened: Option[OmeZarrTable.Pyramid])
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var pushed: Array[Filter] = Array.empty
  private var requiredSchema: StructType = OmeZarrTable.Schema

  /** Keeps the `scale` and `chunk_idx` predicates, which the scan
    * applies exactly, and hands every other filter back to Spark.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (applied, rest) = filters.partition(OmeZarrScan.applies)
    pushed = applied
    rest
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(required: StructType): Unit = { requiredSchema = required }

  override def build(): Scan = OmeZarrScan(path, opened, pushed.toSeq, requiredSchema)
}

object OmeZarrScan {
  /** The partition-pruning form of a pushable `scale` predicate. */
  def scalePredicate(f: Filter): Option[Int => Boolean] = f match {
    case EqualTo("scale", v: Number) => Some(_ == v.intValue())
    case GreaterThan("scale", v: Number) => Some(_ > v.intValue())
    case LessThan("scale", v: Number) => Some(_ < v.intValue())
    case GreaterThanOrEqual("scale", v: Number) => Some(_ >= v.intValue())
    case LessThanOrEqual("scale", v: Number) => Some(_ <= v.intValue())
    case In("scale", vs) =>
      val set = vs.collect { case n: Number => n.intValue() }.toSet
      Some(set.contains)
    case _ => None
  }

  /** The chunk positions a pushable `chunk_idx` key names: an
    * `EqualTo` or `In` over int arrays. A key with a null entry names
    * no chunk (no stored `chunk_idx` holds a null); a literal of any
    * other form is not a key.
    */
  def chunkKeys(f: Filter): Option[Set[Seq[Int]]] = {
    def named(v: Any): Option[Set[Seq[Int]]] = v match {
      case k: scala.collection.Seq[_] if k.forall(e => e == null || e.isInstanceOf[Integer]) =>
        Some(if (k.contains(null)) Set.empty
          else Set(k.map(_.asInstanceOf[Integer].intValue()).toSeq))
      case _ => None
    }
    f match {
      case EqualTo("chunk_idx", v) => named(v)
      case In("chunk_idx", vs) =>
        val each = vs.toSeq.filter(_ != null).map(named)
        if (each.forall(_.isDefined)) Some(each.flatten.flatten.toSet) else None
      case _ => None
    }
  }

  /** Whether the scan applies `f` exactly, so Spark need not check it
    * again above the scan.
    */
  def applies(f: Filter): Boolean = scalePredicate(f).isDefined || chunkKeys(f).isDefined

  /** Decoded bytes of one stored object (grid-chunk volume × item size). */
  private def objBytes(a: ZarrArray): Long = a.gridChunks.map(_.toLong).product * Dtypes.itemSize(a.dtype)

  /** A planned scan: the store it opened, its input partitions and the
    * split size they were packed by.
    */
  final case class Plan(store: ZarrStore, partitions: Array[OmeZarrInputPartition], maxSplit: Long) {
    /** At most one stored object, no heavier than the split size. */
    def small: Boolean =
      partitions.map(_.objs.size).sum <= 1 && partitions.forall(p => objBytes(p.array) <= maxSplit)
  }

  /** The stored objects of every level the pushed `scale` predicates
    * keep, packed into partitions by the rule Spark's file scans use
    * (`FilePartition.maxSplitBytes` / `getFilePartitions`): an object
    * weighs its decoded bytes (grid-chunk volume × item size, known
    * from metadata) plus `spark.sql.files.openCostInBytes`; the split
    * size is the total over the leaf parallelism, capped by
    * `spark.sql.files.maxPartitionBytes`; objects are walked in
    * row-major order and a partition closes when the next object would
    * pass the split size, or at a level's end. Every object of a level
    * weighs the same, so the walk is a fixed group size per level.
    * Pushed `chunk_idx` keys keep only the objects that hold a named
    * in-grid chunk, and only those chunks are read. The levels come
    * from `opened` when it is given; otherwise the store's metadata is
    * opened here.
    */
  def plan(path: String, opened: Option[OmeZarrTable.Pyramid], filters: Seq[Filter]): Plan = {
    val store = new ZarrStore(path, Some(SerializableHadoopConf.fromActiveSession()))
    val keep = (s: Int) => filters.forall(scalePredicate(_).forall(_(s)))
    val keys = filters.flatMap(chunkKeys).reduceOption(_ intersect _)
    val arrays = opened match {
      case Some((_, all)) => all.filter { case (i, _) => keep(i) }
      case None => ZarrArray.openPyramid(store, scales = keep)._2
    }
    val levels = arrays.map { case (i, a) =>
      keys.map(_.filter(a.holds)) match {
        case None => (i, a, a.objects.toVector, None)
        case Some(ks) =>
          (i, a, ks.map(a.objectOf).toVector.sorted(Ordering.Implicits.seqOrdering[Seq, Int]),
            Some(ks))
      }
    }
    val openCost = SQLConf.get.filesOpenCostInBytes
    val maxSplit = FilePartition.maxSplitBytes(SparkSession.active,
      levels.map { case (_, a, objs, _) => objs.size * (objBytes(a) + openCost) }.sum)
    val parts = levels.flatMap { case (i, a, objs, ks) =>
      val perPart = math.max(1L, (maxSplit - objBytes(a)) / (objBytes(a) + openCost) + 1)
      objs.grouped(math.min(perPart, Int.MaxValue).toInt).map(OmeZarrInputPartition(i, _, a, ks))
    }.toArray
    Plan(store, parts, maxSplit)
  }

  /** The scan of `filters`: a read of at most one stored object no
    * heavier than the split size is an [[OmeZarrLocalScan]], planned at
    * once, when it is keyed or its pyramid is already open (why both:
    * see [[OmeZarrTableProvider]]); any other scan plans when Spark
    * first asks.
    */
  def apply(path: String, opened: Option[OmeZarrTable.Pyramid], filters: Seq[Filter],
      required: StructType): OmeZarrScan = {
    lazy val planned = plan(path, opened, filters)
    if ((opened.isDefined || filters.exists(chunkKeys(_).isDefined)) && planned.small)
      new OmeZarrLocalScan(path, filters, required, planned)
    else new OmeZarrScan(path, filters, required, planned)
  }
}

class OmeZarrScan(path: String, val pushedFilters: Seq[Filter], required: StructType,
    plan: => OmeZarrScan.Plan) extends Scan with Batch with SupportsReportStatistics {
  protected lazy val planned: OmeZarrScan.Plan = plan

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** Metadata-only size/row estimate for the optimizer: row count is
    * the planned chunk-row count (inner grid for sharded stores, the
    * named chunks of a keyed scan) and sizeInBytes charges the decoded
    * payload ONLY when the `data` column survives pruning — so a
    * scale-pruned, column-pruned metadata scan reports a few KB and
    * Catalyst broadcasts it in joins instead of shuffling the fact
    * side. Planning reads just the store's JSON docs (already fetched
    * for partition planning); no chunk object is touched.
    */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics = {
    val wantPayload = required.fieldNames.contains("data")
    var rows = 0L
    var bytes = 0L
    planned.partitions.foreach { p =>
      val a = p.array
      val objRows = p.objs.map(a.slots(_).count { case (_, idx) => p.wanted(idx) }.toLong).sum
      val payloadBytes =
        if (!wantPayload) 0L else a.chunks.map(_.toLong).product * Dtypes.itemSize(a.dtype)
      rows += objRows
      // ~64 B of metadata columns per row (scale, idx, origin, shape,
      // dtype) + the decoded payload when selected
      bytes += objRows * (64L + payloadBytes)
    }
    val rowsF = rows
    val bytesF = math.max(1L, bytes)
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(bytesF)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(rowsF)
    }
  }

  override def planInputPartitions(): Array[InputPartition] =
    planned.partitions.map(p => p: InputPartition)

  override def createReaderFactory(): PartitionReaderFactory =
    new OmeZarrReaderFactory(path, required, SerializableHadoopConf.broadcast())
}

/** A point read: a scan of at most one stored object, no heavier than
  * the split size, answered on the driver. Spark plans it as a
  * `LocalTableScanExec`, so collecting it runs no Spark job; `rows()`
  * reads the object through the executor reader's own row builder
  * when the query is planned.
  */
class OmeZarrLocalScan(path: String, pushedFilters: Seq[Filter], required: StructType,
    plan: OmeZarrScan.Plan) extends OmeZarrScan(path, pushedFilters, required, plan)
    with LocalScan {
  override def rows(): Array[InternalRow] =
    planned.partitions.iterator.flatMap(_.rows(required, planned.store)).toArray
}

class OmeZarrReaderFactory(path: String, required: StructType,
    hconf: Broadcast[SerializableHadoopConf]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val rows = partition.asInstanceOf[OmeZarrInputPartition]
      .rows(required, new ZarrStore(path, Some(hconf.value)))
    new PartitionReader[InternalRow] {
      private var current: InternalRow = _

      override def next(): Boolean = {
        if (rows.hasNext) { current = rows.next(); true } else false
      }

      override def get(): InternalRow = current

      override def close(): Unit = ()
    }
  }
}
