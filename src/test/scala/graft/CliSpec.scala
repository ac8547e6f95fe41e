package graft

import graft.meta.Model._
import graft.operators.{ChunkOps, MultiscaleBuilder, OmeZarrIO}

/** Drives Cli.run end-to-end with the reference CLI's metadata and
  * processing flags (S14 parity, `cli.py:178-266`).
  */
class CliSpec extends SparkSpec {

  private def writeInput(): (String, Array[Double]) = {
    val m = ImageMeta(Seq("y", "x"), Seq(64, 64), Seq(32, 32), "uint8",
      Map("y" -> 1.0, "x" -> 1.0), Map("y" -> 0.0, "x" -> 0.0))
    val r = new scala.util.Random(99)
    val vals = Array.fill(64 * 64)(r.nextInt(256).toDouble)
    val base = MultiscaleBuilder.Level(m, ChunkOps.fromArray(spark, vals, m))
    val ms = MultiscaleBuilder.toMultiscales(spark, base,
      Some(Seq(Map("y" -> 2, "x" -> 2))), Method.ItkwasmBinShrink, cache = false)
    val dir = tempDir("cli-in").toString + "/in.ome.zarr"
    OmeZarrIO.writeMultiscales(spark, dir, ms, version = "0.4")
    (dir, vals)
  }

  test("metadata overrides: scale, translation, units, name flow to the output store") {
    val (in, vals) = writeInput()
    val out = tempDir("cli-out").toString + "/out.ome.zarr"
    Cli.run(spark, Array(in, out,
      "--scale=x=1.4,y=2.5", "--translation=x=10.0",
      "--units=x=micrometer,y=micrometer", "--name=renamed",
      "--method=itkwasm_bin_shrink", "--compressor=gzip"))
    val back = OmeZarrIO.readMultiscales(spark, out)
    val l0 = back.levels.head
    assert(l0.meta.scale == Map("y" -> 2.5, "x" -> 1.4))
    assert(l0.meta.translation == Map("y" -> 0.0, "x" -> 10.0))
    assert(l0.meta.axesUnits == Map("y" -> "micrometer", "x" -> "micrometer"))
    assert(l0.meta.name == "renamed")
    assert(back.method == Method.ItkwasmBinShrink)
    assert(ChunkOps.toArray(l0.chunks, l0.meta).toSeq == vals.toSeq)
  }

  test("--chunks rechunks the base image; --dims renames axes positionally") {
    val (in, vals) = writeInput()
    val out = tempDir("cli-out").toString + "/out.ome.zarr"
    Cli.run(spark, Array(in, out, "--chunks=16,64", "--dims=z,y"))
    val back = OmeZarrIO.readMultiscales(spark, out)
    val l0 = back.levels.head
    assert(l0.meta.dims == Seq("z", "y"))
    assert(l0.meta.chunks == Seq(16, 64))
    assert(ChunkOps.toArray(l0.chunks, l0.meta).toSeq == vals.toSeq)
  }

  test("override validation: non-canonical or duplicate dims and typo'd keys refuse") {
    val (in, _) = writeInput()
    val out = tempDir("cli-out").toString + "/out.ome.zarr"
    // arbitrary labels would disable the spatial plan — refused
    assertThrows[IllegalArgumentException](
      Cli.run(spark, Array(in, out, "--dims=j,i")))
    assertThrows[IllegalArgumentException](
      Cli.run(spark, Array(in, out, "--dims=x,x")))
    // typo'd per-dim keys must not be silently inert
    assertThrows[IllegalArgumentException](
      Cli.run(spark, Array(in, out, "--scale=X=1.4")))
    assertThrows[IllegalArgumentException](
      Cli.run(spark, Array(in, out, "--units=q=micrometer")))
  }

  test("--output-scale selects one level of a multiscale input") {
    val (in, _) = writeInput()
    val out = tempDir("cli-out").toString + "/out.ome.zarr"
    Cli.run(spark, Array(in, out, "--output-scale=1"))
    val back = OmeZarrIO.readMultiscales(spark, out)
    // scale 1 of the 64² input is 32² — the cascade starts from there
    assert(back.levels.head.meta.shape == Seq(32L, 32L))
    // out-of-range refuses
    assertThrows[IllegalArgumentException](
      Cli.run(spark, Array(in, out + "2", "--output-scale=9")))
  }

  test("convert refuses an unknown flag, naming it and the flags it reads") {
    val (in, _) = writeInput()
    val out = tempDir("cli-out").toString + "/out.ome.zarr"
    val chunks = tempDir("cli-chunks").toString + "/chunks"
    val e = intercept[IllegalArgumentException](
      Cli.run(spark, Array(in, out, s"--chunk-store=$chunks")))
    assert(e.getMessage.contains(s"--chunk-store=$chunks"))
    assert(e.getMessage.contains("--chunks-per-shard=") && e.getMessage.contains("--version="))
    // a flag without a value, or without the dashes, is refused too
    assertThrows[IllegalArgumentException](Cli.run(spark, Array(in, out, "--validate")))
    assertThrows[IllegalArgumentException](Cli.run(spark, Array(in, out, "version=0.5")))
    assert(!new java.io.File(out).exists(), "a refused run must write nothing")
  }

  test("convert refuses an unknown --method value, naming it and the valid methods") {
    val (in, _) = writeInput()
    val out = tempDir("cli-out").toString + "/out.ome.zarr"
    val e = intercept[IllegalArgumentException](
      Cli.run(spark, Array(in, out, "--method=itkwasm_bin_shrnk")))
    assert(e.getMessage.contains("itkwasm_bin_shrnk"))
    Method.all.foreach(m => assert(e.getMessage.contains(m.value), s"${m.value} not listed"))
    assert(!new java.io.File(out).exists(), "a refused run must write nothing")
  }

  test("NRRD input converts end-to-end (VolumeFormats route)") {
    val fx = "src/test/resources/fixtures/vol/vol.nrrd"
    val out = tempDir("cli-out").toString + "/out.ome.zarr"
    Cli.run(spark, Array(fx, out))
    val back = OmeZarrIO.readMultiscales(spark, out)
    val l0 = back.levels.head
    assert(l0.meta.dims == Seq("x", "y", "z"))
    assert(l0.meta.shape == Seq(6L, 5L, 4L))
    assert(l0.meta.scale == Map("x" -> 1.5, "y" -> 2.5, "z" -> 3.5))
    val want = for (x <- 0 until 6; y <- 0 until 5; z <- 0 until 4)
      yield ((x * 7 + y * 11 + z * 13) % 200).toDouble
    assert(ChunkOps.toArray(l0.chunks, l0.meta).toSeq == want)
  }

  test("multi-series OME-TIFF converts the --ome-series-selected Image") {
    val fx = "src/test/resources/fixtures/multiseries.ome.tif"
    val out = tempDir("cli-out").toString + "/s1.ome.zarr"
    Cli.run(spark, Array(fx, out, "--ome-series=1"))
    val back = OmeZarrIO.readMultiscales(spark, out)
    val l0 = back.levels.head
    assert(l0.meta.dims == Seq("z", "y", "x"))
    assert(l0.meta.shape == Seq(2L, 4L, 10L))
    val want = for (z <- 0 until 2; y <- 0 until 4; x <- 0 until 10)
      yield ((31 + z * 17 + y * 5 + x * 3) % 251).toDouble
    assert(ChunkOps.toArray(l0.chunks, l0.meta).toSeq == want)
  }

  test("PNG series glob converts end-to-end to a (z, y, x) store") {
    val w = 6; val h = 4; val nz = 3
    val dir = tempDir("cli-series")
    (0 until nz).foreach { z =>
      val buf = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      val raster = buf.getRaster
      for (y <- 0 until h; x <- 0 until w)
        raster.setSample(x, y, 0, (x * 5 + y * 9 + z * 23) % 256)
      val os = java.nio.file.Files.newOutputStream(dir.resolve(f"sl$z%02d.png"))
      javax.imageio.ImageIO.write(buf, "png", os); os.close()
    }
    val out = tempDir("cli-out").toString + "/series.ome.zarr"
    Cli.run(spark, Array(s"$dir/*.png", out))
    val back = OmeZarrIO.readMultiscales(spark, out)
    val l0 = back.levels.head
    assert(l0.meta.dims == Seq("z", "y", "x"))
    assert(l0.meta.shape == Seq(nz.toLong, h.toLong, w.toLong))
    assert(l0.meta.scale == Map("z" -> 1.0, "y" -> 1.0, "x" -> 1.0))
    val want = for (z <- 0 until nz; y <- 0 until h; x <- 0 until w)
      yield ((x * 5 + y * 9 + z * 23) % 256).toDouble
    assert(ChunkOps.toArray(l0.chunks, l0.meta).toSeq == want)
  }

  test("corpus-build subcommand runs the crawl pipeline end to end") {
    val crawl = tempDir("cli_crawl").toString
    graft.sources.CrawlRehearsal.writeCrawl(spark, crawl, 100L, nArchives = 2)
    val out = tempDir("cli_shards").toString
    graft.Cli.run(spark, Array("corpus-build", crawl, out,
      "--shards=2", "--quality=false", "--boilerplate-min-docs=50"))
    val hconf = graft.zarr.SerializableHadoopConf.fromActiveSession()
    val members = (0 until 2).flatMap { k =>
      val p = f"$out/shard-$k%05d.tar"
      if (new java.io.File(p).exists)
        graft.ops.Shards.readTarShard(p, hconf).toList
      else Nil
    }
    assert(members.size === 90) // 100 pages minus the 10 planted copies
  }

  test("tokenize subcommand routes all three tokenizer families") {
    import spark.implicits._
    val docsDir = tempDir("cli_tok_in").toString
    Seq((1L, "data window"), (2L, "xyz data"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(docsDir)
    // wordpiece with a vocab file
    val wpVocab = tempFile("wp", ".vocab")
    java.nio.file.Files.writeString(wpVocab,
      Seq("data", "win", "##dow").mkString("\n"))
    val wpOut = tempDir("cli_tok_wp").toString
    graft.Cli.run(spark, Array("tokenize", docsDir, wpOut,
      "--tokenizer=wordpiece", s"--vocab-file=$wpVocab"))
    val wp = spark.read.parquet(wpOut).orderBy("doc_id").collect()
    assert(wp(0).getAs[String]("token_str") == "data win ##dow")
    assert(wp(1).getAs[Int]("n_unk") == 1) // xyz
    // unigram with piece<TAB>cost lines
    val ulVocab = tempFile("ul", ".vocab")
    java.nio.file.Files.writeString(ulVocab,
      Seq("data\t800", "win\t800", "dow\t700").mkString("\n"))
    val ulOut = tempDir("cli_tok_ul").toString
    graft.Cli.run(spark, Array("tokenize", docsDir, ulOut,
      "--tokenizer=unigram", s"--vocab-file=$ulVocab"))
    val ul = spark.read.parquet(ulOut).orderBy("doc_id").collect()
    assert(ul(0).getAs[String]("token_str") == "data win dow")
    assert(ul(0).getAs[Long]("total_cost") == 800L + 1500L)
    // bpe trains on the corpus itself
    val bpeOut = tempDir("cli_tok_bpe").toString
    graft.Cli.run(spark, Array("tokenize", docsDir, bpeOut,
      "--tokenizer=bpe", "--merges=3"))
    assert(spark.read.parquet(bpeOut).count() == 2)
  }

  test("decontaminate subcommand joins screen verdicts with overlap runs") {
    import spark.implicits._
    val passage = "q1 q2 q3 q4 q5 q6 q7 q8 q9 q10"
    val docsDir = tempDir("cli_dec_docs").toString
    Seq(
      (1L, s"intro words $passage closing words here"), // quotes the benchmark
      (2L, "totally clean text with no benchmark overlap at all in sight"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(docsDir)
    val benchDir = tempDir("cli_dec_bench").toString
    Seq((100L, s"bench padding $passage more padding"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(benchDir)
    val outDir = tempDir("cli_dec_out").toString
    graft.Cli.run(spark, Array("decontaminate", docsDir, benchDir, outDir,
      "--ngram=8", "--max-frac=0.1", "--flag-tokens=10"))
    val out = spark.read.parquet(outDir).orderBy("doc_id").collect()
    assert(out.length == 2)
    assert(out(0).getAs[Long]("n_contaminated") == 3L) // 10-token quote, n=8
    assert(!out(0).getAs[Boolean]("keep"))
    assert(out(0).getAs[Long]("max_overlap_tokens") == 10L)
    assert(out(0).getAs[Boolean]("flagged"))
    assert(out(1).getAs[Long]("n_contaminated") == 0L)
    assert(out(1).getAs[Boolean]("keep") && !out(1).getAs[Boolean]("flagged"))
  }

  test("label subcommand: CCL over a real OME-Zarr store matches local BFS") {
    val (dir, vals) = writeInput()
    val outDir = tempDir("cli_label_out").toString
    graft.Cli.run(spark, Array("label", dir, outDir, "--threshold=128"))
    val got = spark.read.parquet(outDir).orderBy("comp").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    // single-node BFS over the same pixels
    val h = 64; val w = 64
    val lab = Array.fill(h * w)(false)
    val want = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    for (start <- 0 until h * w if vals(start) >= 128 && !lab(start)) {
      val q = scala.collection.mutable.Queue(start); lab(start) = true
      var size = 0L; var minId = Long.MaxValue
      while (q.nonEmpty) {
        val i = q.dequeue(); size += 1; minId = math.min(minId, i.toLong)
        for ((dy, dx) <- Seq((1, 0), (-1, 0), (0, 1), (0, -1))) {
          val ny = i / w + dy; val nx = i % w + dx
          if (ny >= 0 && ny < h && nx >= 0 && nx < w) {
            val j = ny * w + nx
            if (vals(j) >= 128 && !lab(j)) { lab(j) = true; q.enqueue(j) }
          }
        }
      }
      want += ((minId, size))
    }
    assert(got == want.sortBy(_._1).toSeq)
  }

  test("profile subcommand writes column stats; --columns restricts") {
    import spark.implicits._
    val inDir = tempDir("cli_prof_in").toString
    Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0))
      .toDF("id", "tag", "score").write.mode("overwrite").parquet(inDir)
    val outDir = tempDir("cli_prof_out").toString
    graft.Cli.run(spark, Array("profile", inDir, outDir))
    val all = spark.read.parquet(outDir).collect()
      .map(r => r.getAs[String]("col_name") -> r).toMap
    assert(all.keySet == Set("id", "tag", "score"))
    assert(all("tag").getAs[Long]("n_distinct") == 2L)
    assert(all("tag").getAs[String]("top_val") == "a")
    assert(all("id").getAs[String]("max_s") == "3")
    val outDir2 = tempDir("cli_prof_out2").toString
    graft.Cli.run(spark, Array("profile", inDir, outDir2, "--columns=tag"))
    assert(spark.read.parquet(outDir2).collect().map(_.getString(0)).toSeq == Seq("tag"))
  }

  // each subcommand with a misspelled flag and one flag it does read;
  // the inputs need not exist, since flags are parsed before any read
  for ((args, typo, known) <- Seq(
      (Seq("corpus-build", "in", "out"), "--shard=2", "--boilerplate-min-docs="),
      (Seq("tokenize", "in", "out"), "--tokeniser=bpe", "--vocab-file="),
      (Seq("decontaminate", "docs", "bench", "out"), "--n-gram=8", "--max-frac="),
      (Seq("profile", "in", "out"), "--colums=a", "--columns="),
      (Seq("label", "in", "out"), "--treshold=2", "--threshold="))) {
    test(s"${args.head} refuses a misspelled flag, naming it and the flags it reads") {
      val e = intercept[IllegalArgumentException](Cli.run(spark, (args :+ typo).toArray))
      assert(e.getMessage.contains(s"'$typo'") && e.getMessage.contains(known), e.getMessage)
      // a flag without a value is refused too
      assertThrows[IllegalArgumentException](
        Cli.run(spark, (args :+ known.stripSuffix("=")).toArray))
    }
  }
}
