package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.hcs.Hcs
import graft.meta.Model._
import graft.operators.ChunkOps

/** Structured Streaming surface (SURVEY §2.9):
  *
  *  - the HCS acquisition workflow, [[hcsIngest]]: fields-of-view
  *    arriving on a stream are upserted into the plate store per
  *    micro-batch via foreachBatch (at-least-once idempotent — the
  *    well-attrs merge is last-writer-wins, `py/ngff_zarr/hcs.py:538-765`);
  *  - watermarked stream-stream interval joins, inner
  *    ([[intervalJoin]]) and left-outer ([[intervalJoinOuter]]), with
  *    state on both sides bounded by the watermarks; the batch gates
  *    `q57` and `q65` run the same joins over static frames.
  */
object Streams {

  /** Watermarked stream-stream interval join: match each event on
    * stream A to events on stream B for the same user within
    * `within` AFTER it. State on both sides is bounded by the
    * watermarks + the join time bound.
    */
  def intervalJoin(a: DataFrame, b: DataFrame, within: String = "30 minutes",
      watermark: String = "1 hour"): DataFrame = {
    import org.apache.spark.sql.functions.expr
    val aw = a.withWatermark("ts", watermark).alias("a")
    val bw = b.withWatermark("ts", watermark).alias("b")
    aw.join(bw, expr(
      s"""a.user_id = b.user_id AND
          b.ts >= a.ts AND b.ts <= a.ts + interval $within"""))
      .select(col("a.user_id").as("user_id"),
        col("a.ts").as("ts_a"), col("b.ts").as("ts_b"),
        col("a.event_type").as("type_a"), col("b.event_type").as("type_b"))
  }

  /** Left-outer form of [[intervalJoin]]: stream-A events with NO
    * within-window match emit once with null B columns — but only
    * after the watermark proves no matching B row can still arrive
    * (Spark holds the unmatched left row in state until the time
    * bound expires). The attribution table that also accounts for
    * the non-converting events.
    */
  def intervalJoinOuter(a: DataFrame, b: DataFrame, within: String = "30 minutes",
      watermark: String = "1 hour"): DataFrame = {
    import org.apache.spark.sql.functions.expr
    val aw = a.withWatermark("ts", watermark).alias("a")
    val bw = b.withWatermark("ts", watermark).alias("b")
    aw.join(bw, expr(
      s"""a.user_id = b.user_id AND
          b.ts >= a.ts AND b.ts <= a.ts + interval $within"""), "left_outer")
      .select(col("a.user_id").as("user_id"),
        col("a.ts").as("ts_a"), col("b.ts").as("ts_b"),
        col("a.event_type").as("type_a"), col("b.event_type").as("type_b"))
  }

  /** One arriving field-of-view: which well, which image slot, and a
    * flat payload (the acquisition instrument's output).
    */
  final case class ArrivingField(wellPath: String, imagePath: String,
      height: Int, width: Int, values: Array[Double], acquisition: Option[Int]) {
    def descriptor: FieldDescriptor =
      FieldDescriptor(wellPath, imagePath, height, width, acquisition)
  }

  /** The pixel-free projection of an [[ArrivingField]]: everything the
    * driver needs to plan one well-image upsert.
    */
  final case class FieldDescriptor(wellPath: String, imagePath: String,
      height: Int, width: Int, acquisition: Option[Int]) {
    def meta: ImageMeta = ImageMeta(Seq("y", "x"), Seq(height, width),
      Seq(math.min(256, height), math.min(256, width)), "uint16",
      Map("y" -> 1.0, "x" -> 1.0), Map("y" -> 0.0, "x" -> 0.0))
  }

  /** HCS streaming ingest: drain a stream of arriving fields into the
    * plate store, one idempotent upsert per field per micro-batch.
    * Commit protocol: well attrs merge is last-writer-wins; replays
    * rewrite identical chunk objects, so at-least-once delivery is
    * safe (the reference's implicit semantics).
    *
    * Scale shape: ONE distributed Spark job per micro-batch writes
    * every arriving field's chunk objects (each executor task
    * decomposes + compresses + puts the fields in its partition), and
    * one sequential driver pass writes the metadata-scale JSON tree
    * (group docs, well-attrs merges, per-image multiscale docs). At
    * hundreds of plates the driver schedules O(batches) jobs, not
    * O(fields) — the previous per-field filter+write loop rescanned
    * the cached batch and queued one tiny job per field, a driver
    * throughput ceiling at 345k fields.
    *
    * Only (wellPath, imagePath, shape, acquisition) descriptors ever
    * reach the driver; pixel payloads stay distributed — each field's
    * chunk table is cut from the batch by an executor-side
    * [[ChunkOps.decompose]], so a field larger than
    * `spark.driver.maxResultSize` ingests fine.
    */
  def hcsIngest(spark: SparkSession, fields: Dataset[ArrivingField], platePath: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery = {
    import spark.implicits._
    fields.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[ArrivingField], _: Long) =>
        // at-least-once: replays within a batch collapse to one upsert.
        // dropDuplicates shuffles the batch by (well, image), which
        // also spreads fields across executor tasks for the write job.
        val uniq = batch.dropDuplicates("wellPath", "imagePath")
        // ONE distributed job per micro-batch (r13, VERDICT item 6):
        // each task writes its fields' (task-private) image metadata
        // trees + padded/compressed chunk objects AND emits the
        // pixel-free descriptor, so collecting the descriptors IS the
        // write job's action — the former separate descriptor-collect
        // job, and the per-batch persist/unpersist that fed the two
        // passes, are gone (the batch now executes exactly once). The
        // driver metadata pass moved AFTER the chunk job: ordering is
        // immaterial to the commit protocol (well-attrs merges are
        // last-writer-wins idempotent, replays rewrite identical
        // chunk objects), and a mid-batch failure replays the whole
        // batch either way.
        val hconf = graft.zarr.SerializableHadoopConf.broadcast()
        val pp = platePath
        val descriptors = uniq.mapPartitions { (it: Iterator[ArrivingField]) =>
          val st = new graft.zarr.ZarrStore(pp, Some(hconf.value))
          it.map { f =>
            val meta = f.descriptor.meta
            val image = s"${f.wellPath}/${f.imagePath}"
            // the image's one-level v0.4 metadata tree, consolidated copy
            // included (task-private: no other field shares its keys)
            graft.zarr.ZarrArray.metadataDocs(
              MultiscalesMeta.of(Seq(meta), "image", "0.4", Some(Method.ItkwasmBinShrink)),
              Seq(meta), Some("zstd"))
              .foreach { case (k, v) => st.writeString(s"$image/$k", v) }
            ChunkOps.decompose(f.values, meta).foreach { c =>
              st.writeBytes(graft.zarr.ZarrStore.chunkKey(2, s"$image/scale0/image", c.chunk_idx),
                graft.zarr.ZarrArray.encodeChunk(c.shape, c.data, meta.chunks, meta.dtype, Some("zstd")))
            }
            f.descriptor
          }
        }.collect() // pixel-free descriptors only — metadata-scale
        if (descriptors.nonEmpty) {
          // driver metadata pass: row/well group docs + well-attrs
          // merges (sequential — the shared row-group doc write is
          // not atomic under concurrency on all stores)
          Hcs.upsertWellsMeta(platePath,
            descriptors.toSeq.map(d => (d.wellPath, d.imagePath, d.acquisition)))
        }
      }
      .start()
  }
}
