package graft.ops

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpec {

  test("decode kernel computes exact byte statistics") {
    val f = Multimodal.decodeBytes(7L, Array[Byte](0, -1, 16)) // -1 = 0xff = 255
    assert(f.n_bytes == 3 && f.byte_sum == 271L && f.byte_max == 255)
    assert(f.mean_byte == 271.0 / 3)
  }

  test("feature extraction preserves row count and schema plumbing") {
    val docs = Tables.load(spark, sfDir, "documents").limit(50)
    val media = Multimodal.syntheticMedia(docs)
    assert(media.schema.fieldNames.toSeq == Seq("doc_id", "media", "meta"))
    val feats = Multimodal.extractFeatures(spark, media)
    assert(feats.count() == 50)
    assert(feats.filter(col("n_bytes") =!= 16).count() == 0)
  }

  test("PPM decode: P6 header with comments, pixel parity") {
    val header = "P6\n# a comment\n3 2\n255\n".getBytes("US-ASCII")
    val body = Array.tabulate[Byte](18)(i => (i * 10).toByte)
    val img = Multimodal.decodePpm(header ++ body)
    assert(img.width == 3 && img.height == 2 && img.channels == 3)
    assert(img.pixels.toSeq == body.toSeq)
    val gray = Multimodal.decodePpm("P5\n2 2\n255\n".getBytes ++ Array[Byte](1, 2, 3, 4))
    assert(gray.channels == 1 && gray.pixels.toSeq == Seq[Byte](1, 2, 3, 4))
    intercept[IllegalArgumentException](Multimodal.decodePpm("P3\n".getBytes))
  }

  test("BMP decode: bottom-up BGR to top-down RGB with row padding") {
    // 2x2 24-bit BMP: rows padded to 8 bytes
    val bb = java.nio.ByteBuffer.allocate(54 + 16).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put('B'.toByte).put('M'.toByte).putInt(70).putInt(0).putInt(54)
    bb.putInt(40).putInt(2).putInt(2).putShort(1).putShort(24).putInt(0)
    bb.putInt(16).putInt(0).putInt(0).putInt(0).putInt(0)
    // bottom row first: pixel (0,1)=BGR(1,2,3) -> RGB(3,2,1); (1,1)=BGR(4,5,6)
    bb.put(Array[Byte](1, 2, 3, 4, 5, 6, 0, 0))
    // top row: (0,0)=BGR(7,8,9); (1,0)=BGR(10,11,12)
    bb.put(Array[Byte](7, 8, 9, 10, 11, 12, 0, 0))
    val img = Multimodal.decodeBmp(bb.array())
    assert(img.width == 2 && img.height == 2 && img.channels == 3)
    assert(img.pixels.toSeq == Seq[Byte](9, 8, 7, 12, 11, 10, 3, 2, 1, 6, 5, 4))
  }

  test("WAV decode: PCM-16 chunks, features exact") {
    import spark.implicits._
    val media = Multimodal.syntheticWav(Seq(5L).toDF("doc_id"))
    val payload = media.collect().head.getAs[Array[Byte]]("media")
    val a = Multimodal.decodeWav(payload)
    assert(a.sampleRate == 8000 && a.channels == 1 && a.samples.length == 64)
    assert(a.samples(0) == ((5 * 13) % 65536 - 32768).toShort)
    val f = Multimodal.audioFeature(5L, a)
    val expectSq = (0 until 64).map { i =>
      val v = (5L * 13 + i * 7) % 65536 - 32768; v * v
    }.sum.toDouble
    assert(f.sum_sq == expectSq && f.n_samples == 64)
    intercept[IllegalArgumentException](Multimodal.decodeWav(Array[Byte](1, 2, 3)))
  }

  test("image features + thumbnail resize run distributed over PPM blobs") {
    import spark.implicits._
    val media = Multimodal.syntheticPpm(Seq(1L, 2L, 3L).toDF("doc_id"))
    val feats = Multimodal.extractImageFeatures(spark, media).collect()
    assert(feats.length == 3)
    val f1 = feats.find(_.doc_id == 1L).get
    val expMean0 = (0 until 24).map(i => (1 * 37 + (3 * i) * 11) % 256).sum / 24.0
    assert(f1.width == 6 && f1.height == 4 && f1.channels == 3 && f1.mean_c0 == expMean0)
    // thumbnail: constant image stays constant through the box filter
    val const = Multimodal.DecodedImage(8, 8, 3, Array.fill[Byte](192)(50))
    val th = Multimodal.thumbnail(const, 4, 2)
    assert(th.width == 4 && th.height == 2 && th.pixels.forall(_ == 50))
    // a truncated JPEG fails loudly in ImageIO, not a garbage decode
    intercept[Exception](
      Multimodal.decodeImage(Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte)))
  }

  test("JPEG 2000 payloads dispatch by SOC magic and decode exactly") {
    val w = 19; val h = 13
    val img = Array.tabulate(w * h)(i => (i * 37 + 11) % 256)
    val j2c = graft.operators.Jpeg2kEncode.encode(Seq(img), w, h, 8,
      levels = 2, cbw = 8, cbh = 8)
    val dec = Multimodal.decodeImage(j2c)
    assert((dec.width, dec.height, dec.channels) == ((w, h, 1)))
    assert(dec.pixels.map(_ & 0xff).toSeq == img.toSeq)
    // RGB through the same entry point
    val planes = Seq.tabulate(3)(c => Array.tabulate(w * h)(i => (i * (3 + c)) % 256))
    val rgb = Multimodal.decodeImage(graft.operators.Jpeg2kEncode.encode(
      planes, w, h, 8, levels = 1, cbw = 8, cbh = 8, mct = true))
    assert(rgb.channels == 3)
    for (i <- 0 until w * h; c <- 0 until 3)
      assert((rgb.pixels(i * 3 + c) & 0xff) == planes(c)(i), s"($i,$c)")
  }

  test("PNG round-trip through javax.imageio reproduces closed-form pixels exactly") {
    import spark.implicits._
    val ids = Seq(1L, 2L, 7L).toDF("doc_id")
    val feats = Multimodal.extractImageFeatures(spark,
      Multimodal.syntheticPng(ids)).collect()
    assert(feats.length == 3)
    feats.foreach { f =>
      def exp(c: Int) =
        (0 until 24).map(i => (f.doc_id * 37 + (3 * i + c) * 11) % 256).sum / 24.0
      assert(f.width == 6 && f.height == 4 && f.channels == 3)
      assert(f.mean_c0 == exp(0) && f.mean_c1 == exp(1) && f.mean_c2 == exp(2),
        s"doc ${f.doc_id}")
    }
  }

  test("palette GIF expands through the color model (indices are not colors)") {
    // palette: index 0 -> pure red, index 1 -> pure blue; a decoder
    // that returned raster bands would see means near 0.5, not 255/2
    val cmap = new java.awt.image.IndexColorModel(1, 2,
      Array[Byte](255.toByte, 0), Array[Byte](0, 0), Array[Byte](0, 255.toByte))
    val img = new java.awt.image.BufferedImage(8, 8,
      java.awt.image.BufferedImage.TYPE_BYTE_BINARY, cmap)
    for (y <- 0 until 8; x <- 0 until 8)
      img.getRaster.setSample(x, y, 0, if (x < 4) 0 else 1)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "gif", bos)
    val d = Multimodal.decodeImage(bos.toByteArray)
    assert(d.channels == 3 && d.width == 8 && d.height == 8)
    // left half red, right half blue, expanded to real RGB bytes
    assert((d.pixels(0) & 0xff) == 255 && (d.pixels(2) & 0xff) == 0)
    val rightBase = (0 * 8 + 7) * 3
    assert((d.pixels(rightBase) & 0xff) == 0 && (d.pixels(rightBase + 2) & 0xff) == 255)
  }

  test("JPEG decode lands within DC-quantization error of the block pattern") {
    import spark.implicits._
    val ids = Seq(3L, 11L).toDF("doc_id")
    val feats = Multimodal.extractImageFeatures(spark,
      Multimodal.syntheticJpeg(ids)).collect()
    feats.foreach { f =>
      val exp = (0 until 4).map(b => (f.doc_id * 37 + b * 29) % 256).sum / 4.0
      assert(f.width == 16 && f.height == 16 && f.channels == 1)
      assert(math.abs(f.mean_c0 - exp) <= 4.0, s"doc ${f.doc_id}: ${f.mean_c0} vs $exp")
    }
  }

  test("thumbnailPixels emits every box-filtered pixel, exact vs direct call") {
    import spark.implicits._
    val media = Multimodal.syntheticPpm(Seq(5L, 9L).toDF("doc_id"))
    val rows = Multimodal.thumbnailPixels(spark, media, tw = 3, th = 2)
      .collect().map(p => (p.doc_id, p.ty, p.tx, p.c) -> p.v).toMap
    assert(rows.size == 2 * 2 * 3 * 3, "2 docs x 2x3 pixels x 3 channels")
    for (id <- Seq(5L, 9L)) {
      val direct = Multimodal.thumbnail(
        Multimodal.decodePpm(media.filter(col("doc_id") === id)
          .head().getAs[Array[Byte]]("media")), 3, 2)
      for (ty <- 0 until 2; tx <- 0 until 3; c <- 0 until 3)
        assert(rows((id, ty, tx, c)) ==
          (direct.pixels((ty * 3 + tx) * 3 + c) & 0xff))
    }
  }

  test("sceneCuts finds exactly the planted cut across a fleet of clips") {
    import spark.implicits._
    val media = (0L until 24L).toDF("doc_id")
    val out = Multimodal.sceneCuts(spark,
        Multimodal.syntheticAviCut(media, nFrames = 6))
      .collect().map(sc => sc.doc_id -> sc).toMap
    assert(out.size == 24)
    out.foreach { case (id, sc) =>
      val expected = (id % 4).toInt + 1 // nFrames 6 → cut ∈ [1, 4]
      assert(sc.n_frames == 6)
      assert(sc.n_cuts == 1, s"doc $id: ${sc.n_cuts} cuts (smooth ramp misread?)")
      assert(sc.first_cut == expected, s"doc $id: cut ${sc.first_cut} != $expected")
    }
  }

  test("sceneCuts on a smooth (cut-free) clip reports no cut") {
    import spark.implicits._
    // the uniform generator ramps +11/frame mod 256; pick short clips
    // and small ids so no quadrant wraps (id·37 + 2·11 + 3·29 < 256)
    val media = Seq(0L, 1L, 2L).toDF("doc_id")
    val out = Multimodal.sceneCuts(spark,
        Multimodal.syntheticAvi(media, nFrames = 3)).collect()
    out.foreach(sc => assert(sc.n_cuts == 0 && sc.first_cut == -1,
      s"doc ${sc.doc_id} false cut"))
  }
}
