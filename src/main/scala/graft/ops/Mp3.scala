package graft.ops

/** Pure-JVM MP3 (MPEG audio) FRAME-METADATA parser — no PCM decode.
  *
  * A training-data pipeline filters audio corpora on container facts
  * long before it decodes samples: duration, sample rate, channel
  * layout, CBR/VBR, encoder tags. All of those live in the public
  * frame-header layout (ISO/IEC 11172-3 §2.4.1 and the 13818-3 LSF
  * extension), which parses exactly on the JVM — unlike Layer III PCM
  * reconstruction, whose ~2000-codeword Huffman tables can't be
  * verified in this offline sandbox (scope freeze in COVERAGE.md; the
  * reference delegates all audio decode to imageio/ffmpeg plugins,
  * `py/ngff_zarr/detect_cli_io_backend.py:21-128`).
  *
  * The walker is strict, refuse-loudly: every frame header must sync,
  * reserved codes (version 01, layer 00, bitrate 1111, sample-rate
  * 11) and free-format streams (bitrate 0000) are errors, stream-wide
  * facts (version/layer/rate/mode) must not change mid-stream, Layer
  * III CRC-protected frames have their CRC-16 verified over the side
  * info, and the walk must land exactly on end-of-stream (ID3v1 /
  * APEv2 trailers are recognized and skipped). Xing/Info/VBRI/LAME
  * tags are detected at their spec offsets.
  *
  * Used from [[Multimodal.extractMp3Meta]]: partition-local map over
  * binary payload columns, no shuffle — the 100 TB posture of every
  * media kernel in this engine.
  */
object Mp3 {

  /** Stream-level facts from a full frame walk. Integer-exact except
    * `duration_ms` (one IEEE double division, deterministic).
    */
  final case class Mp3Info(
      version: String, // "MPEG-1" | "MPEG-2" | "MPEG-2.5"
      layer: Int, // 1 | 2 | 3
      sampleRate: Int,
      channels: Int, // 1 | 2
      mode: String, // "stereo" | "joint_stereo" | "dual_channel" | "mono"
      nFrames: Int,
      nSamples: Long,
      durationMs: Double,
      bitrateMinKbps: Int,
      bitrateMaxKbps: Int,
      vbr: Boolean,
      hasCrc: Boolean,
      vbrTag: String) // "Xing" | "Info" | "VBRI" | "LAME" | ""

  // Bitrate tables, kbps, index 1..14 (0 = free format, 15 = reserved):
  // ISO 11172-3 Table B.1 (MPEG-1) and 13818-3 Table B.1 (LSF).
  private[ops] val BrV1L1 = Array(0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448)
  private[ops] val BrV1L2 = Array(0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384)
  private[ops] val BrV1L3 = Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
  private[ops] val BrV2L1 = Array(0, 32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256)
  private[ops] val BrV2L23 = Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160)

  private[ops] val SrV1 = Array(44100, 48000, 32000)
  private[ops] val SrV2 = Array(22050, 24000, 16000)
  private[ops] val SrV25 = Array(11025, 12000, 8000)

  /** CRC-16, polynomial 0x8005, init 0xFFFF (ISO 11172-3 §2.4.3.1's
    * `crc_check`): covers the last two header bytes plus, for Layer
    * III, the whole side info block.
    */
  private[graft] def crc16(bytes: Array[Byte], offsets: Seq[(Int, Int)]): Int = {
    var crc = 0xffff
    offsets.foreach { case (from, until) =>
      var i = from
      while (i < until) {
        crc ^= (bytes(i) & 0xff) << 8
        var b = 0
        while (b < 8) {
          crc = if ((crc & 0x8000) != 0) ((crc << 1) ^ 0x8005) & 0xffff
            else (crc << 1) & 0xffff
          b += 1
        }
        i += 1
      }
    }
    crc
  }

  /** Layer III side info size in bytes (ISO 11172-3 §2.4.1.7 /
    * 13818-3 LSF): the CRC span and the Xing-tag offset both hang off
    * this.
    */
  private[ops] def sideInfoBytes(mpeg1: Boolean, channels: Int): Int =
    if (mpeg1) { if (channels == 1) 17 else 32 }
    else { if (channels == 1) 9 else 17 }

  /** Walk every frame; returns stream facts. Refuses loudly on any
    * malformed byte — never a silently-wrong duration.
    */
  def parse(payload: Array[Byte]): Mp3Info = {
    require(payload.length >= 4, "MP3 stream shorter than one frame header")
    var pos = 0
    // ID3v2 prefix: 10-byte header, syncsafe size, optional footer.
    if (payload.length >= 10 && payload(0) == 'I' && payload(1) == 'D' && payload(2) == '3') {
      val size = ((payload(6) & 0x7f) << 21) | ((payload(7) & 0x7f) << 14) |
        ((payload(8) & 0x7f) << 7) | (payload(9) & 0x7f)
      val footer = (payload(5) & 0x10) != 0
      pos = 10 + size + (if (footer) 10 else 0)
      require(pos < payload.length, "ID3v2 tag spans the whole payload — no audio frames")
    }

    var version = ""; var layer = 0; var rate = 0; var mode = -1
    var nFrames = 0; var brMin = Int.MaxValue; var brMax = 0
    var anyCrc = false; var vbrTag = ""

    var done = false
    while (!done) {
      val remaining = payload.length - pos
      if (remaining == 0) done = true
      else if (remaining >= 3 && payload(pos) == 'T' && payload(pos + 1) == 'A' &&
          payload(pos + 2) == 'G') {
        require(remaining == 128, s"ID3v1 trailer of $remaining bytes (must be 128)")
        done = true
      } else if (remaining >= 8 && new String(payload, pos, 8, "US-ASCII") == "APETAGEX") {
        done = true // APEv2 trailer: everything after is tag data by spec
      } else {
        require(remaining >= 4, s"$remaining trailing bytes at $pos are not a frame header")
        require((payload(pos) & 0xff) == 0xff && (payload(pos + 1) & 0xe0) == 0xe0,
          s"lost frame sync at byte $pos (refusing to resync-scan: corrupt or not MPEG audio)")
        val b1 = payload(pos + 1) & 0xff
        val b2 = payload(pos + 2) & 0xff
        val b3 = payload(pos + 3) & 0xff

        val verBits = (b1 >> 3) & 3
        val ver = verBits match {
          case 0 => "MPEG-2.5"
          case 1 => throw new IllegalArgumentException(s"reserved MPEG version ID at byte $pos")
          case 2 => "MPEG-2"
          case _ => "MPEG-1"
        }
        val lay = (b1 >> 1) & 3 match {
          case 0 => throw new IllegalArgumentException(s"reserved layer code at byte $pos")
          case 1 => 3
          case 2 => 2
          case _ => 1
        }
        val crcPresent = (b1 & 1) == 0
        val bri = (b2 >> 4) & 15
        require(bri != 0, "free-format bitrate (index 0) unsupported: frame length is " +
          "encoder-defined, walking it safely needs resync heuristics this parser refuses")
        require(bri != 15, s"reserved bitrate index 15 at byte $pos")
        val sri = (b2 >> 2) & 3
        require(sri != 3, s"reserved sample-rate index 3 at byte $pos")
        val padding = (b2 >> 1) & 1
        val md = (b3 >> 6) & 3

        val mpeg1 = ver == "MPEG-1"
        val kbps = (lay, mpeg1) match {
          case (1, true) => BrV1L1(bri)
          case (2, true) => BrV1L2(bri)
          case (3, true) => BrV1L3(bri)
          case (1, false) => BrV2L1(bri)
          case (_, false) => BrV2L23(bri)
        }
        val sr = ver match {
          case "MPEG-1" => SrV1(sri)
          case "MPEG-2" => SrV2(sri)
          case _ => SrV25(sri)
        }
        val frameLen = lay match {
          case 1 => (12 * kbps * 1000 / sr + padding) * 4
          case 2 => 144 * kbps * 1000 / sr + padding
          case 3 => if (mpeg1) 144 * kbps * 1000 / sr + padding
            else 72 * kbps * 1000 / sr + padding
        }
        require(pos + frameLen <= payload.length,
          s"frame $nFrames truncated: needs $frameLen bytes at $pos, have $remaining")

        if (nFrames == 0) { version = ver; layer = lay; rate = sr; mode = md }
        else require(ver == version && lay == layer && sr == rate && md == mode,
          s"stream facts changed mid-stream at frame $nFrames " +
            s"($ver/L$lay/$sr/mode$md vs $version/L$layer/$rate/mode$mode)")

        val channels = if (md == 3) 1 else 2
        if (lay == 3) {
          val si = sideInfoBytes(mpeg1, channels)
          val siStart = pos + 4 + (if (crcPresent) 2 else 0)
          require(siStart + si <= pos + frameLen, s"frame $nFrames shorter than its side info")
          if (crcPresent) {
            anyCrc = true
            val stored = ((payload(pos + 4) & 0xff) << 8) | (payload(pos + 5) & 0xff)
            val computed = crc16(payload, Seq((pos + 2, pos + 4), (siStart, siStart + si)))
            require(stored == computed,
              f"frame $nFrames CRC-16 mismatch: stored 0x$stored%04x, computed 0x$computed%04x")
          }
          if (nFrames == 0) {
            // Xing/Info (LAME) at the post-side-info offset; VBRI fixed at +36.
            val tagAt = siStart + si
            if (tagAt + 4 <= payload.length) {
              val tag = new String(payload, tagAt, 4, "US-ASCII")
              if (tag == "Xing" || tag == "Info") vbrTag = tag
              else if (tag == "LAME") vbrTag = "LAME"
            }
            if (vbrTag.isEmpty && pos + 40 <= payload.length &&
                new String(payload, pos + 36, 4, "US-ASCII") == "VBRI") vbrTag = "VBRI"
          }
        } else if (crcPresent) anyCrc = true // L1/L2 CRC spans bit-alloc; presence only

        if (kbps < brMin) brMin = kbps
        if (kbps > brMax) brMax = kbps
        nFrames += 1
        pos += frameLen
      }
    }
    require(nFrames > 0, "no MPEG audio frames in payload")

    val spf = layer match {
      case 1 => 384
      case 2 => 1152
      case 3 => if (version == "MPEG-1") 1152 else 576
    }
    val nSamples = nFrames.toLong * spf
    Mp3Info(version, layer, rate, if (mode == 3) 1 else 2,
      mode match {
        case 0 => "stereo"; case 1 => "joint_stereo"
        case 2 => "dual_channel"; case _ => "mono"
      },
      nFrames, nSamples, nSamples * 1000.0 / rate,
      brMin, brMax, brMin != brMax, anyCrc, vbrTag)
  }

  /** True when the payload sniffs as MPEG audio (ID3v2 prefix or an
    * 11-bit frame sync) — routing hint for [[Multimodal.decodeAudio]].
    */
  def sniff(payload: Array[Byte]): Boolean =
    payload.length >= 4 && (
      (payload(0) == 'I' && payload(1) == 'D' && payload(2) == '3') ||
      ((payload(0) & 0xff) == 0xff && (payload(1) & 0xe0) == 0xe0))

  // ---- minimal frame builder (fixtures + synthetic gate payloads) ----

  /** One MPEG-1 Layer III silence frame: valid header, all-zero side
    * info (every part2_3_length = 0 is a legal "digital silence"
    * granule), 0x55 filler — the exact shape LAME emits for silent
    * input. `withCrc` writes a correct CRC-16 so the verified-decode
    * path is exercised, not just tolerated.
    */
  def silenceFrame(bitrateIndex: Int, srIndex: Int, mono: Boolean,
      padding: Boolean, withCrc: Boolean): Array[Byte] = {
    require(bitrateIndex >= 1 && bitrateIndex <= 14, s"bitrate index $bitrateIndex")
    require(srIndex >= 0 && srIndex <= 2, s"sample rate index $srIndex")
    val kbps = BrV1L3(bitrateIndex)
    val sr = SrV1(srIndex)
    val len = 144 * kbps * 1000 / sr + (if (padding) 1 else 0)
    val f = Array.fill[Byte](len)(0x55)
    f(0) = 0xff.toByte
    f(1) = (0xfa | (if (withCrc) 0 else 1)).toByte // MPEG-1, Layer III
    f(2) = ((bitrateIndex << 4) | (srIndex << 2) | (if (padding) 2 else 0)).toByte
    f(3) = (((if (mono) 3 else 0) << 6) | 0x04).toByte // mode, original=1
    val si = sideInfoBytes(mpeg1 = true, channels = if (mono) 1 else 2)
    val siStart = 4 + (if (withCrc) 2 else 0)
    java.util.Arrays.fill(f, siStart, siStart + si, 0.toByte)
    if (withCrc) {
      val crc = crc16(f, Seq((2, 4), (siStart, siStart + si)))
      f(4) = ((crc >> 8) & 0xff).toByte
      f(5) = (crc & 0xff).toByte
    }
    f
  }

  /** An ID3v2.4 prefix with `padBytes` of padding (no frames). */
  def id3v2(padBytes: Int): Array[Byte] = {
    val h = new Array[Byte](10 + padBytes)
    h(0) = 'I'; h(1) = 'D'; h(2) = '3'; h(3) = 4
    h(6) = ((padBytes >> 21) & 0x7f).toByte
    h(7) = ((padBytes >> 14) & 0x7f).toByte
    h(8) = ((padBytes >> 7) & 0x7f).toByte
    h(9) = (padBytes & 0x7f).toByte
    h
  }
}
