package graft

import org.apache.spark.sql.SparkSession
import graft.meta.Model._
import graft.meta.Converters
import graft.operators.{ChunkOps, MultiscaleBuilder, OmeZarrIO}
import graft.zarr.SparkSessions

/** S14 — the conversion pipeline driver app (the reference's CLI,
  * `py/ngff_zarr/cli.py:164-450`, re-expressed as a spark-submit
  * main): detect input backend → read → apply metadata overrides →
  * plan scales → downsample cascade → write OME-Zarr.
  *
  * Usage:
  *   Cli <input.ome.zarr> <output.ome.zarr>
  *       [--method=itkwasm_gaussian] [--version=0.4]
  *       [--compressor=zstd] [--chunks-per-shard=2,2]
  *       [--dims=z,y,x] [--name=image]
  *       [--scale=x=1.4,y=1.4] [--translation=x=0.0,y=0.0]
  *       [--units=x=micrometer,y=micrometer]
  *       [--chunks=64,64] [--output-scale=0] [--validate=true]
  *       [--enable-rfc=4] [--ome-series=0] [--hdf5-dataset=<name>]
  *
  * Any other flag is refused with an error that names it and lists
  * the flags above; every subcommand refuses flags it does not read
  * the same way.
  *
  * Flag parity with the reference CLI's metadata/processing groups
  * (`cli.py:178-266`): `--dims` renames axes positionally; `--scale`
  * / `--translation` / `--units` override per-dim values; `--chunks`
  * rechunks the base image before the cascade; `--output-scale`
  * selects one level of a multiscale input. `--local-cluster` /
  * `--memory-target` / `--cache-dir` have no counterpart — Spark's
  * master URL, executor memory and spill management replace them —
  * and `--use-tensorstore` is n/a (one writer implementation).
  *
  * The OME-Zarr, NIfTI, and baseline-TIFF input backends decode
  * pixels in pure JVM; the remaining formats need native codecs
  * absent here (Converters documents the boundary).
  */
object Cli {

  /** The `--key=value` flags the convert path reads. */
  private val ConvertFlags = Seq("method", "version", "compressor", "chunks-per-shard",
    "dims", "name", "scale", "translation", "units", "chunks", "output-scale", "validate",
    "enable-rfc", "ome-series", "hdf5-dataset")

  /** Parse `--key=value` flags into a map. A flag whose key is not in
    * `known`, or an argument without the dashes or the `=`, is refused
    * with an error that names it and lists what `command` reads.
    */
  private def flags(command: String, args: Array[String], known: Seq[String])
      : Map[String, String] =
    args.map { a =>
      a.stripPrefix("--").split("=", 2) match {
        case Array(k, v) if a.startsWith("--") && known.contains(k) => k -> v
        case _ => throw new IllegalArgumentException(
          s"unknown flag '$a'; $command reads ${known.map(f => s"--$f=").mkString(", ")}")
      }
    }.toMap

  /** Parse "x=1.4,y=2" into an ordered map. */
  private def kvMap(s: String): Seq[(String, String)] =
    s.split(",").toSeq.map { p =>
      p.split("=", 2) match {
        case Array(k, v) => k -> v
        case _ => throw new IllegalArgumentException(
          s"expected dim=value pairs, got '$p'")
      }
    }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Cli <input> <output> [--method=..] [--version=..]")
    val spark = SparkSessions.local(SparkSessions.cpus, "graft-cli")
    try run(spark, args)
    finally spark.stop()
  }

  /** The pipeline body, session-injected so tests can drive it. */
  def run(spark: SparkSession, args: Array[String]): Unit = {
    // `corpus-build` subcommand: the crawl→training-shards pipeline
    // (graft.ops.CorpusBuild) next to the reference-parity imaging
    // path — Cli corpus-build <warcDirOrFiles> <outDir>
    //   [--shards=N] [--quality=true|false] [--boilerplate-min-docs=N]
    //   [--robots-file=path] [--user-agent=name]
    if (args(0) == "corpus-build") {
      require(args.length >= 3, "usage: Cli corpus-build <warcDir> <outDir> [--flags]")
      val warcIn = args(1)
      val outDir = args(2)
      val opts = flags("corpus-build", args.drop(3),
        Seq("shards", "quality", "boilerplate-min-docs", "robots-file", "user-agent"))
      val archives =
        if (warcIn.endsWith(".warc") || warcIn.endsWith(".warc.gz")) Seq(warcIn)
        else graft.sources.Warc.listArchives(spark, warcIn)
      val robots = opts.get("robots-file").map { p =>
        val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
        (new String(bytes, "UTF-8"), opts.getOrElse("user-agent", "graftbot"))
      }
      val report = graft.ops.CorpusBuild.fromCrawl(spark, archives, outDir,
        nShards = opts.get("shards").map(_.toInt).getOrElse(16),
        boilerplateMinDocs = opts.get("boilerplate-min-docs").map(_.toInt).getOrElse(100),
        robots = robots,
        qualityGate = !opts.get("quality").contains("false"))
      report.collect().foreach { r =>
        println(s"[corpus-build] stage ${r.getInt(0)} ${r.getString(1)}: ${r.getLong(2)}")
      }
      return
    }
    // `tokenize` subcommand: run a corpus through one of the three
    // tokenizer families — Cli tokenize <docsParquet> <outParquet>
    //   [--tokenizer=bpe|wordpiece|unigram]
    //   [--merges=N]           (bpe: merges trained on the corpus itself)
    //   [--vocab-file=path]    (wordpiece: piece per line;
    //                           unigram: piece<TAB>micro-nat-cost per line)
    // Output parquet: (doc_id, n_words, n_tokens, [n_unk, total_cost,]
    // token_str) — the tokenStats contract of each family.
    if (args(0) == "tokenize") {
      require(args.length >= 3, "usage: Cli tokenize <docsParquet> <outParquet> [--flags]")
      val opts = flags("tokenize", args.drop(3), Seq("tokenizer", "merges", "vocab-file"))
      val docs = spark.read.parquet(args(1))
      def vocabLines(): Seq[String] = {
        val p = opts.getOrElse("vocab-file", throw new IllegalArgumentException(
          s"--tokenizer=${opts("tokenizer")} needs --vocab-file"))
        scala.jdk.CollectionConverters.ListHasAsScala(
          java.nio.file.Files.readAllLines(java.nio.file.Paths.get(p)))
          .asScala.toSeq.filter(_.nonEmpty)
      }
      val out = opts.getOrElse("tokenizer", "bpe") match {
        case "bpe" =>
          val merges = graft.ops.Bpe.train(docs,
            opts.get("merges").map(_.toInt).getOrElse(50))
          graft.ops.Bpe.tokenStats(docs, merges)
        case "wordpiece" =>
          graft.ops.WordPiece.tokenStats(docs, vocabLines())
        case "unigram" =>
          val vocab = vocabLines().map { l =>
            l.split("\t", 2) match {
              case Array(p, c) => p -> c.trim.toLong
              case _ => throw new IllegalArgumentException(
                s"unigram vocab line needs piece<TAB>cost, got '$l'")
            }
          }
          graft.ops.UnigramLm.tokenStats(docs, vocab)
        case other => throw new IllegalArgumentException(
          s"unknown tokenizer '$other' (bpe | wordpiece | unigram)")
      }
      out.write.mode("overwrite").parquet(args(2))
      println(s"[tokenize] wrote ${spark.read.parquet(args(2)).count()} docs")
      return
    }

    // `decontaminate` subcommand: the benchmark screen in one pass —
    // bag-of-grams overlap (exact/bloom plan auto-selected by the
    // corpus/benchmark ratio) PLUS the longest-overlap-run metric —
    //   Cli decontaminate <docsParquet> <benchParquet> <outParquet>
    //     [--ngram=8] [--max-frac=0.05] [--flag-tokens=16]
    // Output parquet: (doc_id, n_ngrams, n_contaminated,
    // contaminated_frac, keep, max_run, max_overlap_tokens, flagged).
    if (args(0) == "decontaminate") {
      require(args.length >= 4,
        "usage: Cli decontaminate <docsParquet> <benchParquet> <outParquet> [--flags]")
      val opts = flags("decontaminate", args.drop(4), Seq("ngram", "max-frac", "flag-tokens"))
      val docs = spark.read.parquet(args(1))
      val bench = spark.read.parquet(args(2))
      val n = opts.get("ngram").map(_.toInt).getOrElse(8)
      val (screen, bloomArmed) = graft.ops.TextDedup.benchmarkOverlapAuto(
        docs, bench, n = n,
        maxFrac = opts.get("max-frac").map(_.toDouble).getOrElse(0.05))
      val runs = graft.ops.TextDedup.overlapRun(docs, bench, n = n,
        flagTokens = opts.get("flag-tokens").map(_.toInt).getOrElse(16))
      screen
        .join(runs.select("doc_id", "max_run", "max_overlap_tokens", "flagged"),
          Seq("doc_id"), "left")
        .write.mode("overwrite").parquet(args(3))
      println(s"[decontaminate] wrote ${spark.read.parquet(args(3)).count()} docs " +
        s"(bloom=$bloomArmed)")
      return
    }

    // `profile` subcommand: ANALYZE-style column stats for any parquet
    // table — Cli profile <tableParquet> <outParquet> [--columns=a,b]
    // (default: every column). Output: one row per column (col_name,
    // n_rows, n_nulls, n_distinct, min_s, max_s, top_val, top_n).
    if (args(0) == "profile") {
      require(args.length >= 3, "usage: Cli profile <tableParquet> <outParquet> [--columns=a,b]")
      val opts = flags("profile", args.drop(3), Seq("columns"))
      val df = spark.read.parquet(args(1))
      val cols = opts.get("columns")
        .map(_.split(",").map(_.trim).toSeq)
        .getOrElse(df.columns.toSeq)
      graft.ops.Profile.profile(df, cols)
        .orderBy(org.apache.spark.sql.functions.col("col_name"))
        .write.mode("overwrite").parquet(args(2))
      println(s"[profile] wrote ${cols.length} column profiles")
      return
    }

    // `label` subcommand: connected-component stats over a real
    // OME-Zarr store — Cli label <in.ome.zarr> <outParquet>
    //   [--threshold=N] [--scale=K]
    // Routes by dimensionality: (y,x) → 4-connectivity,
    // (z,y,x) → 6-connectivity. Output: one row per component
    // (comp, size, bbox, vsum), the object-measurement table the
    // label pyramids exist to feed.
    if (args(0) == "label") {
      require(args.length >= 3, "usage: Cli label <in.ome.zarr> <outParquet> [--threshold=N] [--scale=K]")
      val opts = flags("label", args.drop(3), Seq("threshold", "scale"))
      val levels = OmeZarrIO.readMultiscales(spark, args(1)).levels
      val idx = opts.get("scale").map(_.toInt).getOrElse(0)
      require(idx >= 0 && idx < levels.length,
        s"--scale=$idx out of range (store has ${levels.length} scales)")
      val lvl = levels(idx)
      val thr = opts.get("threshold").map(_.toDouble).getOrElse(1.0)
      val stats = lvl.meta.dims match {
        case Seq("y", "x") =>
          graft.operators.LabelComponents.componentStats2d(spark, lvl.chunks, lvl.meta, thr)
        case Seq("z", "y", "x") =>
          graft.operators.LabelComponents.componentStats3d(spark, lvl.chunks, lvl.meta, thr)
        case other => sys.error(s"label: unsupported axes $other (need (y,x) or (z,y,x))")
      }
      stats.orderBy(org.apache.spark.sql.functions.col("comp"))
        .write.mode("overwrite").parquet(args(2))
      println(s"[label] wrote ${spark.read.parquet(args(2)).count()} components")
      return
    }

    // `svs-assoc` subcommand: enumerate an Aperio SVS slide's
    // associated images (thumbnail/label/macro) — metadata only,
    // one "name WxH" line each; the openslide associated-images
    // surface without decoding a pixel.
    if (args(0) == "svs-assoc") {
      require(args.length >= 2, "usage: Cli svs-assoc <slide.svs>")
      graft.operators.TiffIO.svsAssociated(spark, args(1)).foreach { a =>
        println(s"${a.name} ${a.width}x${a.height}")
      }
      return
    }

    val input = args(0)
    val output = args(1)
    val opts = flags("the convert path", args.drop(2), ConvertFlags)

    val backend = Converters.detectBackend(Seq(input),
      isZarrArrayDir = p => new java.io.File(p, ".zarray").exists())
    val base0: MultiscaleBuilder.Level = backend match {
      case Converters.ConversionBackend.NgffZarr | Converters.ConversionBackend.ZarrArray =>
        val levels = OmeZarrIO.readMultiscales(spark, input,
          validate = opts.get("validate").contains("true")).levels
        val idx = opts.get("output-scale").map(_.toInt).getOrElse(0)
        require(idx >= 0 && idx < levels.length,
          s"--output-scale=$idx out of range (store has ${levels.length} scales)")
        levels(idx)
      case Converters.ConversionBackend.Nibabel =>
        require(opts.get("output-scale").forall(_.toInt == 0),
          "--output-scale: NIfTI inputs are single-scale (only 0 is valid)")
        val img = graft.operators.NiftiIO.read(spark, input)
        MultiscaleBuilder.Level(img.meta, img.chunks)
      case Converters.ConversionBackend.Tifffile =>
        require(opts.get("output-scale").forall(_.toInt == 0),
          "--output-scale: TIFF inputs are single-scale (only 0 is valid)")
        // --ome-series selects one Image of a multi-series OME-TIFF
        val img = graft.operators.TiffIO.read(spark, input,
          omeSeries = opts.get("ome-series").map(_.toInt).getOrElse(0))
        MultiscaleBuilder.Level(img.meta, img.chunks)
      case Converters.ConversionBackend.Itkwasm | Converters.ConversionBackend.Itk
          if input.toLowerCase.endsWith(".hdr") =>
        // Analyze 7.5 / NIfTI-1 dual-file pairs (.hdr + .img)
        require(opts.get("output-scale").forall(_.toInt == 0),
          "--output-scale: Analyze inputs are single-scale (only 0 is valid)")
        val img = graft.operators.NiftiIO.read(spark, input)
        MultiscaleBuilder.Level(img.meta, img.chunks)
      case Converters.ConversionBackend.Itkwasm | Converters.ConversionBackend.Itk
          if (input.contains("*") || input.contains(",")) &&
            input.split(",").forall(p => Seq(".png", ".jpg", ".jpeg", ".bmp", ".gif", ".ppm", ".jp2", ".j2c", ".j2k")
              .exists(p.trim.toLowerCase.endsWith)) =>
        // a glob (`lung_series/*.png`) or comma list of 2-D slices is
        // an image series: distributed file-per-slice stack to (z,y,x)
        // (reference `cli_input_to_ngff_image.py:50-57`)
        require(opts.get("output-scale").forall(_.toInt == 0),
          "--output-scale: image-series inputs are single-scale (only 0 is valid)")
        val parts =
          if (input.contains(",")) input.split(",").toSeq.map(_.trim) else Seq(input)
        val img = graft.operators.Image2dIO.readSeries(spark, parts)
        MultiscaleBuilder.Level(img.meta, img.chunks)
      case Converters.ConversionBackend.Itkwasm | Converters.ConversionBackend.Itk
          if Seq(".png", ".jpg", ".jpeg", ".bmp", ".gif", ".jp2", ".j2c", ".j2k")
            .exists(input.toLowerCase.endsWith) =>
        // 2-D bitmaps decode through the multimodal image stack
        require(opts.get("output-scale").forall(_.toInt == 0),
          "--output-scale: bitmap inputs are single-scale (only 0 is valid)")
        val img = graft.operators.Image2dIO.read(spark, input)
        MultiscaleBuilder.Level(img.meta, img.chunks)
      case Converters.ConversionBackend.Itkwasm | Converters.ConversionBackend.Itk
          if input.toLowerCase.endsWith(".lsm") =>
        // Zeiss LSM is a TIFF with the CZ_LSMINFO private tag —
        // TiffIO handles the thumbnail-IFD skip and voxel sizes
        require(opts.get("output-scale").forall(_.toInt == 0),
          "--output-scale: LSM inputs are single-scale (only 0 is valid)")
        val img = graft.operators.TiffIO.read(spark, input)
        MultiscaleBuilder.Level(img.meta, img.chunks)
      case Converters.ConversionBackend.Itkwasm | Converters.ConversionBackend.Itk
          if input.toLowerCase.endsWith(".dcm") =>
        require(opts.get("output-scale").forall(_.toInt == 0),
          "--output-scale: DICOM inputs are single-scale (only 0 is valid)")
        val img = graft.operators.DicomIO.read(spark, input)
        MultiscaleBuilder.Level(img.meta, img.chunks)
      case Converters.ConversionBackend.Itkwasm | Converters.ConversionBackend.Itk
          if Seq(".hdf5", ".mnc2").exists(input.toLowerCase.endsWith) =>
        // default-layout HDF5 (single numeric dataset, or --hdf5-dataset)
        // and MINC2 read through the Hdf5 subset parser
        require(opts.get("output-scale").forall(_.toInt == 0),
          "--output-scale: HDF5 inputs are single-scale (only 0 is valid)")
        val img =
          if (input.toLowerCase.endsWith(".mnc2"))
            graft.operators.Hdf5IO.readMinc2(spark, input)
          else graft.operators.Hdf5IO.read(spark, input, opts.get("hdf5-dataset"))
        MultiscaleBuilder.Level(img.meta, img.chunks)
      case Converters.ConversionBackend.Itkwasm | Converters.ConversionBackend.Itk
          if Seq(".iwi", ".iwi.cbor", ".iwi.cbor.zst").exists(input.toLowerCase.endsWith) =>
        // the itk-wasm native container family reads through IwiIO
        require(opts.get("output-scale").forall(_.toInt == 0),
          "--output-scale: iwi inputs are single-scale (only 0 is valid)")
        val img = graft.operators.IwiIO.read(spark, input)
        MultiscaleBuilder.Level(img.meta, img.chunks)
      case Converters.ConversionBackend.Itkwasm | Converters.ConversionBackend.Itk
          if Seq(".nrrd", ".nhdr", ".mha", ".mhd", ".mgh", ".mgz", ".vtk",
            ".gipl", ".gipl.gz", ".mrc", ".mnc", ".mnc.gz", ".pic", ".isq", ".fdf")
            .exists(input.toLowerCase.endsWith) =>
        // the itkwasm-routed formats with public header+raw layouts
        // read natively (VolumeFormats); the rest still refuse below
        require(opts.get("output-scale").forall(_.toInt == 0),
          "--output-scale: volume inputs are single-scale (only 0 is valid)")
        val img = graft.operators.VolumeFormats.read(spark, input)
        MultiscaleBuilder.Level(img.meta, img.chunks)
      case _ if new java.io.File(input).isDirectory &&
          Option(new java.io.File(input).list())
            .exists(_.exists(_.toLowerCase.endsWith(".dcm"))) =>
        // a directory of .dcm slices is a DICOM series (the clinical
        // on-disk shape; extension routing can't see inside it)
        require(opts.get("output-scale").forall(_.toInt == 0),
          "--output-scale: DICOM inputs are single-scale (only 0 is valid)")
        val img = graft.operators.DicomIO.readSeriesDir(spark, input)
        MultiscaleBuilder.Level(img.meta, img.chunks)
      case _ if new java.io.File(input).isDirectory &&
          Option(new java.io.File(input).list())
            .exists(_.exists(n => Seq(".png", ".jpg", ".jpeg", ".bmp", ".gif", ".ppm", ".jp2", ".j2c", ".j2k")
              .exists(n.toLowerCase.endsWith))) =>
        // a directory of bitmap slices stacks the same way a glob does
        require(opts.get("output-scale").forall(_.toInt == 0),
          "--output-scale: image-series inputs are single-scale (only 0 is valid)")
        val img = graft.operators.Image2dIO.readSeries(spark, Seq(input))
        MultiscaleBuilder.Level(img.meta, img.chunks)
      case other => throw new UnsupportedOperationException(
        s"backend $other needs native image codecs not present here; " +
          "convert to OME-Zarr, NIfTI, TIFF, NRRD, MetaImage, MGH, " +
          "itk-wasm .iwi/.iwi.cbor, or uncompressed DICOM upstream")
    }

    // metadata overrides (cli.py metadata group): dims rename is
    // positional and re-keys every per-dim map; scale/translation/
    // units override individual dims afterwards
    val base = {
      var meta = base0.meta
      var ds = base0.chunks
      opts.get("dims").foreach { d =>
        val names = d.split(",").toSeq
        require(names.length == meta.dims.length,
          s"--dims needs ${meta.dims.length} names, got $names")
        // canonical OME-NGFF axis names only, no repeats — arbitrary
        // labels would silently disable the spatial downsample plan
        // and mislabel axis types in the written metadata
        require(names.distinct == names && names.forall(SupportedDims.contains),
          s"--dims must be distinct names from ${SupportedDims.mkString(",")}, got $names")
        val rekey = meta.dims.zip(names).toMap
        meta = meta.copy(dims = names,
          scale = meta.scale.map { case (k, v) => rekey(k) -> v },
          translation = meta.translation.map { case (k, v) => rekey(k) -> v },
          axesUnits = meta.axesUnits.map { case (k, v) => rekey(k) -> v },
          axesOrientations = meta.axesOrientations.map { case (k, v) => rekey(k) -> v })
      }
      // per-dim overrides refuse unknown dim names — a typo'd key
      // would otherwise be silently inert
      def checked(flag: String, s: String): Seq[(String, String)] = {
        val kvs = kvMap(s)
        val bad = kvs.map(_._1).filterNot(meta.dims.contains)
        require(bad.isEmpty, s"--$flag names unknown dims $bad (image dims: ${meta.dims})")
        kvs
      }
      opts.get("scale").foreach { s =>
        meta = meta.copy(scale = meta.scale ++
          checked("scale", s).map { case (k, v) => k -> v.toDouble })
      }
      opts.get("translation").foreach { s =>
        meta = meta.copy(translation = meta.translation ++
          checked("translation", s).map { case (k, v) => k -> v.toDouble })
      }
      opts.get("units").foreach { s =>
        meta = meta.copy(axesUnits = meta.axesUnits ++ checked("units", s))
      }
      opts.get("name").foreach(n => meta = meta.copy(name = n))
      opts.get("chunks").foreach { c =>
        val target = c.split(",").map(_.toInt).toSeq
        require(target.length == meta.dims.length,
          s"--chunks needs ${meta.dims.length} values, got $target")
        val (m2, ds2) = ChunkOps.rechunk(spark, ds, meta, target)
        meta = m2
        ds = ds2
      }
      MultiscaleBuilder.Level(meta, ds)
    }

    val method = opts.get("method").fold[Method](Method.ItkwasmGaussian) { v =>
      Method.fromValue(v).getOrElse(throw new IllegalArgumentException(
        s"convert: unknown --method=$v; valid methods: ${Method.all.map(_.value).mkString(", ")}"))
    }
    val ms = MultiscaleBuilder.toMultiscales(spark, base, method = method)
    // --enable-rfc is repeatable (reference `cli.py:220-226` appends);
    // a Map would collapse repeats, so collect from the raw args
    val enabledRfcs = args.drop(2).toSeq.collect {
      case a if a.startsWith("--enable-rfc=") =>
        a.stripPrefix("--enable-rfc=").split(",").map(_.trim.toInt).toSeq
    }.flatten
    val counts = OmeZarrIO.writeMultiscales(spark, output, ms,
      name = base.meta.name,
      version = opts.getOrElse("version", "0.4"),
      compressor = Some(opts.getOrElse("compressor", "zstd")),
      chunksPerShard = opts.get("chunks-per-shard").map(_.split(",").map(_.toInt).toSeq),
      enabledRfcs = enabledRfcs)
    println(s"wrote ${counts.length} scales (${counts.sum} chunks) to $output")
  }
}
