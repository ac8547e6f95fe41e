package graft.ops

import org.scalatest.funsuite.AnyFunSuite

/** MP3 frame-metadata walker (Mp3.scala). Parity is pinned three
  * ways: closed-form facts of our own frame builder, hand-mangled
  * streams for every refuse-loudly branch, and — when present — a
  * REAL LAME/ffmpeg-encoded file shipped with the host's gcloud SDK
  * (an independent encoder neither side of this repo produced; the
  * expected facts below were pinned by an independent Python walk of
  * the same bytes). PCM decode is scope-frozen per COVERAGE.md; this
  * is the metadata surface corpus filters key on.
  */
class Mp3Spec extends AnyFunSuite {

  private def stream(frames: Array[Byte]*): Array[Byte] =
    frames.reduce(_ ++ _)

  test("CBR mono stream: frame count, samples, duration, bitrate") {
    val f = Mp3.silenceFrame(bitrateIndex = 9, srIndex = 0, mono = true,
      padding = false, withCrc = false)
    assert(f.length == 144 * 128000 / 44100)
    val info = Mp3.parse(stream(f, f, f))
    assert(info.version == "MPEG-1" && info.layer == 3)
    assert(info.sampleRate == 44100 && info.channels == 1 && info.mode == "mono")
    assert(info.nFrames == 3 && info.nSamples == 3 * 1152L)
    assert(info.durationMs == 3 * 1152 * 1000.0 / 44100)
    assert(info.bitrateMinKbps == 128 && info.bitrateMaxKbps == 128 && !info.vbr)
    assert(!info.hasCrc && info.vbrTag == "")
  }

  test("VBR stereo with padding and ID3v2 prefix") {
    val a = Mp3.silenceFrame(5, 0, mono = false, padding = true, withCrc = false)
    val b = Mp3.silenceFrame(7, 0, mono = false, padding = false, withCrc = false)
    assert(a.length == 144 * 64000 / 44100 + 1)
    val info = Mp3.parse(Mp3.id3v2(padBytes = 12) ++ stream(a, b))
    assert(info.channels == 2 && info.mode == "stereo")
    assert(info.bitrateMinKbps == 64 && info.bitrateMaxKbps == 96 && info.vbr)
    assert(info.nFrames == 2)
  }

  test("CRC-16 protected frames verify; corruption refuses loudly") {
    val f = Mp3.silenceFrame(9, 0, mono = true, padding = false, withCrc = true)
    val info = Mp3.parse(stream(f, f))
    assert(info.hasCrc && info.nFrames == 2)
    val bad = stream(f, f)
    bad(8) = (bad(8) ^ 0x40).toByte // flip a side-info bit under the CRC span
    val e = intercept[IllegalArgumentException](Mp3.parse(bad))
    assert(e.getMessage.contains("CRC-16 mismatch"))
  }

  test("refuse-loudly branches: free format, truncation, mid-stream drift, garbage") {
    val f = Mp3.silenceFrame(9, 0, mono = true, padding = false, withCrc = false)
    // free-format bitrate index 0
    val free = f.clone(); free(2) = (free(2) & 0x0f).toByte
    assert(intercept[IllegalArgumentException](Mp3.parse(free))
      .getMessage.contains("free-format"))
    // truncated final frame
    assert(intercept[IllegalArgumentException](Mp3.parse(stream(f, f).dropRight(10)))
      .getMessage.contains("truncated"))
    // stream facts drift: second frame switches to stereo
    val st = Mp3.silenceFrame(9, 0, mono = false, padding = false, withCrc = false)
    assert(intercept[IllegalArgumentException](Mp3.parse(stream(f, st)))
      .getMessage.contains("changed mid-stream"))
    // trailing garbage that is neither ID3v1 nor APE
    assert(intercept[IllegalArgumentException](
        Mp3.parse(f ++ Array[Byte](1, 2, 3, 4, 5)))
      .getMessage.contains("lost frame sync"))
  }

  test("ID3v1 and APEv2 trailers are recognized and skipped") {
    val f = Mp3.silenceFrame(9, 0, mono = true, padding = false, withCrc = false)
    val id3v1 = "TAG".getBytes("US-ASCII") ++ new Array[Byte](125)
    assert(Mp3.parse(f ++ id3v1).nFrames == 1)
    val ape = "APETAGEX".getBytes("US-ASCII") ++ new Array[Byte](24)
    assert(Mp3.parse(f ++ ape).nFrames == 1)
  }

  test("Xing/Info tag detected at the post-side-info offset") {
    val f = Mp3.silenceFrame(9, 0, mono = true, padding = false, withCrc = false)
    System.arraycopy("Info".getBytes("US-ASCII"), 0, f, 4 + 17, 4)
    assert(Mp3.parse(f).vbrTag == "Info")
    System.arraycopy("Xing".getBytes("US-ASCII"), 0, f, 4 + 17, 4)
    assert(Mp3.parse(f).vbrTag == "Xing")
  }

  test("real LAME/ffmpeg file (host gcloud SDK fixture): independent-walk parity") {
    val path = java.nio.file.Paths.get(
      "/usr/lib/google-cloud-sdk/platform/gsutil/gslib/tests/test_data/test.mp3")
    assume(java.nio.file.Files.exists(path), "host gcloud SDK fixture absent")
    val info = Mp3.parse(java.nio.file.Files.readAllBytes(path))
    // Pinned by an independent Python frame walk of the same file:
    // 45 frames, MPEG-2 LSF Layer III, 22.05 kHz mono, CBR 64 kbps,
    // frame sizes 208/209 (padding), walk ends exactly at EOF.
    assert(info.version == "MPEG-2" && info.layer == 3)
    assert(info.sampleRate == 22050 && info.channels == 1)
    assert(info.nFrames == 45 && info.nSamples == 45 * 576L)
    assert(info.bitrateMinKbps == 64 && info.bitrateMaxKbps == 64 && !info.vbr)
    assert(!info.hasCrc)
    assert(info.vbrTag == "LAME") // lavf muxer wrote the LAME tag without Xing/Info
    assert(math.abs(info.durationMs - 45 * 576 * 1000.0 / 22050) < 1e-9)
  }

  test("seeded fuzz: every (version, layer) cell round-trips its closed-form facts") {
    val rnd = new scala.util.Random(42)
    val brTables = Map( // kbps, index 1..14, per (version-group, layer)
      (1, 1) -> Array(0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448),
      (1, 2) -> Array(0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384),
      (1, 3) -> Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320),
      (2, 1) -> Array(0, 32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256),
      (2, 2) -> Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),
      (2, 3) -> Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160))
    val srTables = Map(1 -> Array(44100, 48000, 32000), 2 -> Array(22050, 24000, 16000),
      25 -> Array(11025, 12000, 8000))
    for (_ <- 0 until 300) {
      val version = Seq(1, 2, 25)(rnd.nextInt(3))
      val layer = 1 + rnd.nextInt(3)
      val sri = rnd.nextInt(3)
      val mono = rnd.nextBoolean()
      val nFrames = 1 + rnd.nextInt(5)
      val brIdxs = Seq.fill(nFrames)(1 + rnd.nextInt(14))
      val payload = brIdxs.map(bi =>
        Mp3Spec.fillerFrame(version, layer, bi, sri, mono, padding = rnd.nextBoolean()))
        .reduce(_ ++ _)
      val info = Mp3.parse(payload)
      val vGroup = if (version == 1) 1 else 2
      val brs = brIdxs.map(brTables((vGroup, layer))(_))
      assert(info.version == (version match {
        case 1 => "MPEG-1"; case 2 => "MPEG-2"; case _ => "MPEG-2.5" }))
      assert(info.layer == layer && info.sampleRate == srTables(version)(sri))
      assert(info.channels == (if (mono) 1 else 2) && info.nFrames == nFrames)
      assert(info.bitrateMinKbps == brs.min && info.bitrateMaxKbps == brs.max)
      assert(info.vbr == (brs.min != brs.max))
      val spf = layer match { case 1 => 384; case 2 => 1152
        case 3 => if (version == 1) 1152 else 576 }
      assert(info.nSamples == nFrames.toLong * spf)
    }
  }

  test("decodeAudio routes MP3 payloads to a precise scope error") {
    val f = Mp3.silenceFrame(9, 0, mono = true, padding = false, withCrc = false)
    val e = intercept[IllegalArgumentException](Multimodal.decodeAudio(f))
    assert(e.getMessage.contains("Mp3.parse"))
    val e2 = intercept[IllegalArgumentException](
      Multimodal.decodeAudio(Mp3.id3v2(4) ++ f))
    assert(e2.getMessage.contains("out of scope"))
  }
}

object Mp3Spec {
  import Mp3._

  /** A filler frame for any (version, layer) cell of the header
    * matrix — no audio semantics, just a spec-correct header and the
    * exact frame length the tables imply. Exists so fuzz specs can
    * pin all six bitrate tables and all three frame-length formulas,
    * not only the MPEG-1 Layer III cell [[silenceFrame]] covers.
    * `version`: 1 = MPEG-1, 2 = MPEG-2, 25 = MPEG-2.5.
    */
  def fillerFrame(version: Int, layer: Int, bitrateIndex: Int, srIndex: Int,
      mono: Boolean, padding: Boolean): Array[Byte] = {
    require(Set(1, 2, 25)(version), s"version $version")
    require(layer >= 1 && layer <= 3, s"layer $layer")
    require(bitrateIndex >= 1 && bitrateIndex <= 14 && srIndex >= 0 && srIndex <= 2)
    val mpeg1 = version == 1
    val kbps = (layer, mpeg1) match {
      case (1, true) => BrV1L1(bitrateIndex)
      case (2, true) => BrV1L2(bitrateIndex)
      case (3, true) => BrV1L3(bitrateIndex)
      case (1, false) => BrV2L1(bitrateIndex)
      case (_, false) => BrV2L23(bitrateIndex)
    }
    val sr = version match {
      case 1 => SrV1(srIndex); case 2 => SrV2(srIndex); case _ => SrV25(srIndex)
    }
    val pad = if (padding) 1 else 0
    val len = layer match {
      case 1 => (12 * kbps * 1000 / sr + pad) * 4
      case 2 => 144 * kbps * 1000 / sr + pad
      case 3 => if (mpeg1) 144 * kbps * 1000 / sr + pad else 72 * kbps * 1000 / sr + pad
    }
    val f = Array.fill[Byte](len)(0x55)
    val verBits = version match { case 1 => 3; case 2 => 2; case _ => 0 }
    val layBits = 4 - layer // 3=I, 2=II, 1=III
    f(0) = 0xff.toByte
    f(1) = (0xe0 | (verBits << 3) | (layBits << 1) | 1).toByte // no CRC
    f(2) = ((bitrateIndex << 4) | (srIndex << 2) | (pad << 1)).toByte
    f(3) = (((if (mono) 3 else 0) << 6) | 0x04).toByte
    if (layer == 3) { // zero the side info so it cannot sniff as a tag
      val si = sideInfoBytes(mpeg1, if (mono) 1 else 2)
      java.util.Arrays.fill(f, 4, 4 + si, 0.toByte)
    }
    f
  }
}
