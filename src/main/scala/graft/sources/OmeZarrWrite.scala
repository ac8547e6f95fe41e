package graft.sources

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import graft.meta.{Dtypes, ZarrJson}
import graft.meta.Model._
import graft.zarr.{SerializableHadoopConf, ZarrArray, ZarrStore}
import scala.jdk.CollectionConverters._

/** DataSource V2 write path (SURVEY S4/M4):
  *
  * {{{
  * chunkDf.write.format("omezarr")
  *   .option("levels", OmeZarrWriteMeta.levelsJson(metas))
  *   .option("dims", "y,x").option("dtype", "uint16")
  *   .option("name", "image").option("version", "0.4")
  *   .option("compressor", "zstd")
  *   .mode("overwrite").save(path)
  * }}}
  *
  * Executor tasks put chunk objects straight into the store (padding
  * ragged edges per the Zarr spec); the driver's `commit()` writes
  * group/array/root/consolidated metadata only after every task
  * succeeded — the DSv2 commit protocol the reference's
  * overwrite/append semantics map onto.
  */
object OmeZarrWriteMeta {

  /** Per-level metadata as a JSON option: shape/chunks/scale/translation. */
  def levelsJson(levels: Seq[ImageMeta]): String = {
    val mapper = ZarrJson.mapper
    val arr = mapper.createArrayNode()
    levels.foreach { m =>
      val n = arr.addObject()
      val sh = n.putArray("shape"); m.shape.foreach(sh.add)
      val ch = n.putArray("chunks"); m.chunks.foreach(c => ch.add(c))
      val sc = n.putArray("scale"); m.dims.foreach(d => sc.add(m.scale(d)))
      val tr = n.putArray("translation"); m.dims.foreach(d => tr.add(m.translation(d)))
    }
    mapper.writeValueAsString(arr)
  }

  def parseLevels(json: String, dims: Seq[String], dtype: String): Seq[ImageMeta] = {
    val arr = ZarrJson.mapper.readTree(json)
    arr.elements().asScala.map { n =>
      def longs(k: String) = n.get(k).elements().asScala.map(_.asLong()).toSeq
      def ints(k: String) = n.get(k).elements().asScala.map(_.asInt()).toSeq
      def doubles(k: String) = n.get(k).elements().asScala.map(_.asDouble()).toSeq
      ImageMeta(dims, longs("shape"), ints("chunks"), dtype,
        dims.zip(doubles("scale")).toMap, dims.zip(doubles("translation")).toMap)
    }.toSeq
  }
}

class OmeZarrWriteBuilder(path: String, options: Map[String, String])
    extends WriteBuilder with SupportsTruncate {
  private var truncated = false
  override def truncate(): WriteBuilder = { truncated = true; this }
  override def build(): Write = new OmeZarrWrite(path, options, truncated)
}

final case class ChunkCount(n: Long) extends WriterCommitMessage

class OmeZarrWrite(path: String, options: Map[String, String],
    truncate: Boolean) extends Write with BatchWrite {

  private val dims = options.getOrElse("dims",
    throw new IllegalArgumentException("omezarr write requires option 'dims'")).split(",").toSeq
  private val dtype = Dtypes.normalize(options.getOrElse("dtype", "float64"))
  private val name = options.getOrElse("name", "image")
  private val version = options.getOrElse("version", "0.4")
  private val compressor: Option[String] =
    options.get("compressor").orElse(Some("zstd")).filter(_ != "none")
  private val levels = OmeZarrWriteMeta.parseLevels(
    options.getOrElse("levels",
      throw new IllegalArgumentException("omezarr write requires option 'levels'")),
    dims, dtype)

  override def toBatch: BatchWrite = this

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val store = new ZarrStore(path, Some(SerializableHadoopConf.fromActiveSession()))
    if (truncate) store.delete("") // mode("overwrite") → Spark called truncate()
    else if (store.exists(".zattrs") || store.exists("zarr.json"))
      throw new UnsupportedOperationException(
        s"omezarr target $path already exists — appending to a pyramid is not " +
          "defined; use mode(\"overwrite\")")
    new OmeZarrDataWriterFactory(path, name, version, compressor,
      levels.map(_.chunks),
      dtype, SerializableHadoopConf.broadcast())
  }

  /** Driver-side metadata commit, after every task succeeded. */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val store = new ZarrStore(path, Some(SerializableHadoopConf.fromActiveSession()))
    val datasets = levels.zipWithIndex.map { case (m, i) =>
      DatasetMeta(s"scale$i/$name", Seq(
        ScaleT(dims.map(m.scale)), TranslationT(dims.map(m.translation))))
    }
    val meta = MultiscalesMeta(dims.map(d => Axis(d, axisType(d))), datasets, version, Some(name))
    ZarrArray.metadataDocs(meta, levels, compressor)
      .foreach { case (k, v) => store.writeString(k, v) }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    new ZarrStore(path, Some(SerializableHadoopConf.fromActiveSession())).delete("")
  }
}

class OmeZarrDataWriterFactory(path: String, name: String, version: String,
    compressor: Option[String], levelChunks: Seq[Seq[Int]],
    dtype: String, hconf: Broadcast[SerializableHadoopConf]) extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private lazy val st = new ZarrStore(path, Some(hconf.value))
      private val zarrFormat = if (version == "0.5") 3 else 2
      private var n = 0L

      override def write(row: InternalRow): Unit = {
        // schema: (scale, chunk_idx, origin, shape, dtype, data)
        val scale = row.getInt(0)
        val idx = row.getArray(1).toIntArray().toSeq
        val cShape = row.getArray(3).toIntArray().toSeq
        st.writeBytes(ZarrStore.chunkKey(zarrFormat, s"scale$scale/$name", idx),
          ZarrArray.encodeChunk(cShape, row.getBinary(5), levelChunks(scale), dtype, compressor))
        n += 1
      }

      override def commit(): WriterCommitMessage = ChunkCount(n)
      override def abort(): Unit = ()
      override def close(): Unit = ()
    }
}
