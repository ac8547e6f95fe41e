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
  * Scale-pruning: predicates on `scale` push into partition planning
  * (`SupportsPushDownFilters`), so `WHERE scale = 3` lists only that
  * level's chunks — the Spark form of the reference's lazy per-level
  * scan. Column pruning (`SupportsPushDownRequiredColumns`): when
  * `data` isn't selected, readers never fetch or decompress chunk
  * payloads — metadata-only queries cost metadata-only I/O.
  */
class OmeZarrTableProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "omezarr"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    OmeZarrTable.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new OmeZarrTable(properties.get("path"))
}

object OmeZarrTable {
  val Schema: StructType = StructType(Seq(
    StructField("scale", IntegerType, nullable = false),
    StructField("chunk_idx", ArrayType(IntegerType), nullable = false),
    StructField("origin", ArrayType(LongType), nullable = false),
    StructField("shape", ArrayType(IntegerType), nullable = false),
    StructField("dtype", StringType, nullable = false),
    StructField("data", BinaryType, nullable = false)))
}

class OmeZarrTable(path: String) extends Table
    with SupportsRead with org.apache.spark.sql.connector.catalog.SupportsWrite {
  require(path != null, "omezarr requires a path")
  override def name(): String = s"omezarr:$path"
  override def schema(): StructType = OmeZarrTable.Schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new OmeZarrScanBuilder(path)
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new OmeZarrWriteBuilder(path, info.options.asScala.toMap)
}

/** One unit of scan work: the stored objects of `array` at grid
  * positions `objs`, in row-major order — plain chunks, or whole shards
  * whose reader emits one row per in-array inner chunk.
  */
final case class OmeZarrInputPartition(scale: Int, objs: Seq[Seq[Int]], array: ZarrArray)
    extends InputPartition

class OmeZarrScanBuilder(path: String)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var pushed: Array[Filter] = Array.empty
  private var requiredSchema: StructType = OmeZarrTable.Schema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(OmeZarrScan.scalePredicate(_).isDefined)
    // scale predicates are fully handled by partition pruning, but we
    // leave them in the post-scan filter too (cheap, keeps planner honest)
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(required: StructType): Unit = { requiredSchema = required }

  override def build(): Scan = new OmeZarrScan(path, pushed.toSeq, requiredSchema)
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
}

class OmeZarrScan(path: String, val pushedFilters: Seq[Filter],
    required: StructType) extends Scan with Batch with SupportsReportStatistics {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** Metadata-only size/row estimate for the optimizer: row count is
    * the planned chunk-row count (inner grid for sharded stores) and
    * sizeInBytes charges the decoded payload ONLY when the `data`
    * column survives pruning — so a scale-pruned, column-pruned
    * metadata scan reports a few KB and Catalyst broadcasts it in
    * joins instead of shuffling the fact side. Planning reads just
    * the store's JSON docs (already fetched for partition planning);
    * no chunk object is touched.
    */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics = {
    val wantPayload = required.fieldNames.contains("data")
    var rows = 0L
    var bytes = 0L
    planned.foreach { p0 =>
      val p = p0.asInstanceOf[OmeZarrInputPartition]
      val a = p.array
      val objRows = p.objs.map(a.slots(_).size.toLong).sum
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
    */
  private lazy val planned: Array[InputPartition] = {
    val store = new ZarrStore(path, Some(SerializableHadoopConf.fromActiveSession()))
    val keep = (s: Int) => pushedFilters.forall(OmeZarrScan.scalePredicate(_).forall(_(s)))
    val levels = ZarrArray.openPyramid(store, scales = keep)._2
    val openCost = SQLConf.get.filesOpenCostInBytes
    val objBytes = (a: ZarrArray) => a.gridChunks.map(_.toLong).product * Dtypes.itemSize(a.dtype)
    val maxSplit = FilePartition.maxSplitBytes(SparkSession.active,
      levels.map { case (_, a) => a.objects.size * (objBytes(a) + openCost) }.sum)
    levels.flatMap { case (i, a) =>
      val perPart = math.max(1L, (maxSplit - objBytes(a)) / (objBytes(a) + openCost) + 1)
      a.objects.grouped(math.min(perPart, Int.MaxValue).toInt)
        .map(objs => OmeZarrInputPartition(i, objs, a): InputPartition)
    }.toArray
  }

  override def planInputPartitions(): Array[InputPartition] = planned

  override def createReaderFactory(): PartitionReaderFactory =
    new OmeZarrReaderFactory(path, required, SerializableHadoopConf.broadcast())
}

class OmeZarrReaderFactory(path: String, required: StructType,
    hconf: Broadcast[SerializableHadoopConf]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[OmeZarrInputPartition]
    val a = p.array
    // metadata-only scans (`data` pruned) touch no object at all: fill
    // semantics make every in-array chunk a row
    val needData = required.fieldNames.contains("data")
    val rows: Iterator[(Seq[Int], Array[Byte])] =
      if (needData) {
        val store = new ZarrStore(path, Some(hconf.value))
        p.objs.iterator.flatMap(a.read(store, _))
      } else p.objs.iterator.flatMap(a.slots(_).map { case (_, idx) => (idx, null) })
    new PartitionReader[InternalRow] {
      private var current: (Seq[Int], Array[Byte]) = _

      override def next(): Boolean = {
        if (rows.hasNext) { current = rows.next(); true } else false
      }

      override def get(): InternalRow = {
        val (idx, data) = current
        new GenericInternalRow(required.fieldNames.map[Any] {
          case "scale" => p.scale
          case "chunk_idx" => ArrayData.toArrayData(idx.toArray)
          case "origin" => ArrayData.toArrayData(ZarrStore.chunkOriginAt(a.chunks, idx).toArray)
          case "shape" => ArrayData.toArrayData(ZarrStore.chunkShapeAt(a.shape, a.chunks, idx).toArray)
          case "dtype" => UTF8String.fromString(a.dtype)
          case "data" => data
        })
      }

      override def close(): Unit = ()
    }
  }
}
