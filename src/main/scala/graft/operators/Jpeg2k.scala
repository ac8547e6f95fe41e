package graft.operators

/** Pure-JVM JPEG 2000 decoder (ITU-T T.800). Supported surface:
  * reversible 5/3 AND irreversible 9/7 wavelets, scalar quantization
  * (styles: none, scalar-derived, scalar-expounded), multiple tiles
  * at arbitrary origins (general-interval DWT with parity-correct
  * symmetric extension, T.800 B.5–B.7 coordinate geometry), precinct
  * partitions, multiple tile-parts (assembled by Isot/TPsot over
  * Psot-bounded segments), multiple quality layers (per-code-block
  * pass contributions accumulate across packets; the MQ codeword is
  * continuous, so layer segments concatenate before Tier-1), all
  * five progression orders (LRCP/RLCP/RPCL/PCRL/CPRL via one shared
  * packet-ordering key with the B.12 tile-origin clamp for position
  * progressions), image and tile-grid canvas offsets
  * (XOsiz/YOsiz/XTOsiz/YTOsiz from cropped encodes, T.800 B.3),
  * SOP/EPH markers, 1 or 3 components with
  * the reversible (RCT) or irreversible (ICT) color transform. This
  * covers DICOM's "JPEG 2000 Lossless Only" (.4.90) AND lossy
  * "JPEG 2000" (.4.91) transfer syntaxes plus tiled monolithic
  * codestreams; the reference delegates all of it to ITK/GDCM native
  * codecs (`py/ngff_zarr/detect_cli_io_backend.py:21`).
  *
  * Per-component coding and quantization styles (COC/QCC markers —
  * what mainstream encoders emit on color images, e.g. different
  * code-block or quantization parameters for chroma after the color
  * transform) decode fully: code-block sizes, precinct partitions,
  * and quantization (none/derived/expounded) may vary per component;
  * per-component decomposition LEVELS or TRANSFORM (ragged
  * resolution ladders, mixed kernels) are encoder exotica that
  * refuse by name.
  *
  * Component subsampling (SIZ XRsiz/YRsiz lattices, T.800 B.2)
  * decodes on each component's own coordinate grid — packets,
  * precincts, code-blocks, and the DWT all run in component
  * coordinates, and position progressions project packet positions
  * back to the reference grid through the factors. The interleaved
  * output replicates each subsampled sample across its footprint
  * (the viewers' presentation expansion), documented as such.
  *
  * Code-block styles (Table A.19, Kakadu's "Cmodes") decode in any
  * combination: selective arithmetic BYPASS (raw SPP/MRP from the
  * fifth most significant bitplane, stuff-bit packing, terminated
  * raw/MQ segment transitions with per-segment packet-header
  * lengths, B.10.7.2), RESET (per-pass context reinit), RESTART
  * (per-pass MQ termination), vertically stripe-CAUSAL contexts,
  * predictable termination (flush-side — flag accepted), and
  * SEGMENTATION SYMBOLS (1010 verified per cleanup pass).
  *
  * RGN maxshift ROI shifts (Annex H), POC progression order changes
  * (packet space re-ordered segment by segment, B.12.1.7), and
  * PPM/PPT packed packet headers (header bits in main-header Nppm
  * chunks or tile-part PPT segments, bodies carrying only SOP
  * markers and payloads, A.6.4/A.6.5) all decode, and tile-part-0
  * headers may carry tile-scope COD/COC/QCD/QCC overrides applied
  * with the A.6.1 precedence (tile COC > tile COD > main COC > main
  * COD; likewise for quantization) — no still-image T.800 marker
  * refuses anymore. The remaining loud refusals are parameter-level:
  * per-tile or per-component decomposition LEVELS or TRANSFORM
  * (ragged resolution ladders / mixed kernels) and malformed
  * geometry.
  *
  * Lossy exact-parity contract: dequantization reconstructs at the
  * interval midpoint ((q ± 0.5)·Δb with Δb = 2^(Rb−εb)·(1+μb/2^11)),
  * the 9/7 lifting uses the T.800 Table F.4 constants as exact
  * double literals with the same operation order as `tools/j2k.py`,
  * and the final sample is floor(v + shift + 0.5) clamped — so the
  * Scala decode of any codestream is bit-identical to the
  * independent Python decoder the fixtures were pinned with.
  *
  * Independent ground truth: `tools/j2k.py` implements BOTH sides of
  * the same spec in Python with a roundtrip self-test;
  * `tools/make_j2k_fixture.py` commits its encodings, and
  * `Jpeg2kSpec` decodes them bit-exactly.
  */
object Jpeg2k {

  /** `samples` is pixel-interleaved when components > 1 (r,g,b per
    * pixel — after the inverse color transform when the codestream
    * used MCT).
    */
  final case class J2kImage(width: Int, height: Int, precision: Int,
      signed: Boolean, components: Int, samples: Array[Int])

  // ------------------------------------------------------------- MQ

  private val Qe = Array(0x5601, 0x3401, 0x1801, 0x0AC1, 0x0521, 0x0221,
    0x5601, 0x5401, 0x4801, 0x3801, 0x3001, 0x2401, 0x1C01, 0x1601,
    0x5601, 0x5401, 0x5101, 0x4801, 0x3801, 0x3401, 0x3001, 0x2801,
    0x2401, 0x2201, 0x1C01, 0x1801, 0x1601, 0x1401, 0x1201, 0x1101,
    0x0AC1, 0x09C1, 0x08A1, 0x0521, 0x0441, 0x02A1, 0x0221, 0x0141,
    0x0111, 0x0085, 0x0049, 0x0025, 0x0015, 0x0009, 0x0005, 0x0001,
    0x5601)
  private val Nmps = Array(1, 2, 3, 4, 5, 38, 7, 8, 9, 10, 11, 12, 13, 29,
    15, 16, 17, 18, 19, 20, 21, 22, 23, 24, 25, 26, 27, 28, 29, 30, 31, 32,
    33, 34, 35, 36, 37, 38, 39, 40, 41, 42, 43, 44, 45, 45, 46)
  private val Nlps = Array(1, 6, 9, 12, 29, 33, 6, 14, 14, 14, 17, 18, 20,
    21, 14, 14, 15, 16, 17, 18, 19, 19, 20, 21, 22, 23, 24, 25, 26, 27, 28,
    29, 30, 31, 32, 33, 34, 35, 36, 37, 38, 39, 40, 41, 42, 43, 46)
  private val Switch = Array(1, 0, 0, 0, 0, 0, 1, 0, 0, 0, 0, 0, 0, 0, 1,
    0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
    0, 0, 0, 0, 0, 0, 0, 0, 0)

  private val CxRl = 17
  private val CxUni = 18

  /** Fresh MQ context states (D.2: ctx 0 at state 4, run-length at 3,
    * uniform at 46, rest at 0/MPS 0) — shareable across terminated
    * codeword segments (RESTART/BYPASS keep probabilities unless
    * RESET asks otherwise).
    */
  private def freshCx(): (Array[Int], Array[Int]) = {
    val st = new Array[Int](19)
    st(0) = 4; st(CxRl) = 3; st(CxUni) = 46
    (st, new Array[Int](19))
  }

  private final class MQDecoder(data: Array[Byte], from: Int, until: Int,
      cx: (Array[Int], Array[Int])) {
    def this(data: Array[Byte], from: Int, until: Int) =
      this(data, from, until, Jpeg2k.freshCx())
    private val stState = cx._1
    private val stMps = cx._2
    private var bp = from
    private var c = 0L
    private var ct = 0
    private var a = 0

    private def byteAt(i: Int): Int =
      if (i < until && i < data.length) data(i) & 0xff else 0xff

    locally {
      c = byteAt(from).toLong << 16
      byteIn()
      c <<= 7
      ct -= 7
      a = 0x8000
    }

    private def byteIn(): Unit = {
      if (byteAt(bp) == 0xff) {
        if (byteAt(bp + 1) > 0x8f) { c += 0xff00L; ct = 8 }
        else { bp += 1; c += byteAt(bp).toLong << 9; ct = 7 }
      } else { bp += 1; c += byteAt(bp).toLong << 8; ct = 8 }
    }

    private def renorm(): Unit = {
      while ({
        if (ct == 0) byteIn()
        a = (a << 1) & 0xffff
        c = (c << 1) & 0xffffffffL
        ct -= 1
        (a & 0x8000) == 0
      }) ()
    }

    def decode(cxi: Int): Int = {
      val i = stState(cxi)
      val qe = Qe(i)
      a -= qe
      var d = 0
      if (((c >> 16) & 0xffff) < qe) {
        if (a < qe) { d = stMps(cxi); stState(cxi) = Nmps(i) }
        else {
          d = 1 - stMps(cxi)
          if (Switch(i) == 1) stMps(cxi) = 1 - stMps(cxi)
          stState(cxi) = Nlps(i)
        }
        a = qe
        renorm()
      } else {
        c -= qe.toLong << 16
        if ((a & 0x8000) == 0) {
          if (a < qe) {
            d = 1 - stMps(cxi)
            if (Switch(i) == 1) stMps(cxi) = 1 - stMps(cxi)
            stState(cxi) = Nlps(i)
          } else { d = stMps(cxi); stState(cxi) = Nmps(i) }
          renorm()
        } else d = stMps(cxi)
      }
      d
    }
  }

  // ---------------------------------------------------------- Tier-1

  /** Significance context (Table D.1) per orientation. */
  private def sigCtx(band: Int, h0: Int, v0: Int, d: Int): Int = {
    // band: 0 = LL/LH rules, 1 = HL (swap h/v), 2 = HH
    if (band == 2) {
      val hv = h0 + v0
      if (d >= 3) 8
      else if (d == 2) { if (hv >= 1) 7 else 6 }
      else if (d == 1) { if (hv >= 2) 5 else if (hv == 1) 4 else 3 }
      else { if (hv >= 2) 2 else if (hv == 1) 1 else 0 }
    } else {
      val h = if (band == 1) v0 else h0
      val v = if (band == 1) h0 else v0
      if (h == 2) 8
      else if (h == 1) { if (v >= 1) 7 else if (d >= 1) 6 else 5 }
      else if (v == 2) 4
      else if (v == 1) 3
      else if (d >= 2) 2
      else if (d == 1) 1
      else 0
    }
  }

  /** Sign context + xor bit (Table D.3) from clamped contributions. */
  private def signCtx(hc: Int, vc: Int): (Int, Int) = (hc, vc) match {
    case (1, 1) => (13, 0)
    case (1, 0) => (12, 0)
    case (1, -1) => (11, 0)
    case (0, 1) => (10, 0)
    case (0, 0) => (9, 0)
    case (0, -1) => (10, 1)
    case (-1, 1) => (11, 1)
    case (-1, 0) => (12, 1)
    case (-1, -1) => (13, 1)
    case _ => throw new IllegalStateException("unreachable")
  }

  // Code-block styles (SPcod/SPcoc style byte, T.800 Table A.19):
  // BYPASS 0x01 (raw SPP/MRP from the 5th MSB plane), RESET 0x02
  // (contexts reset per pass), RESTART 0x04 (MQ terminated per pass),
  // CAUSAL 0x08 (vertically stripe-causal contexts), ERTERM 0x10
  // (a flush-side property — decodes identically, flag accepted),
  // SEGSYM 0x20 (1010 segmentation symbol ends every cleanup pass).
  private val StyBypass = 0x01
  private val StyReset = 0x02
  private val StyRestart = 0x04
  private val StyCausal = 0x08
  private val StySegsym = 0x20

  /** (plane, passtype 0=SPP/1=MRP/2=cleanup) of coding pass k. */
  private def passPlaneType(nplanes: Int, k: Int): (Int, Int) =
    if (k == 0) (nplanes - 1, 2)
    else (nplanes - 2 - (k - 1) / 3, (k - 1) % 3)

  /** True when pass k is RAW under BYPASS (D.7): SPP/MRP from the
    * fifth most significant bitplane onward.
    */
  private def passRaw(nplanes: Int, style: Int, k: Int): Boolean = {
    val (p, pt) = passPlaneType(nplanes, k)
    (style & StyBypass) != 0 && pt != 2 && p <= nplanes - 5
  }

  /** True when pass k STRUCTURALLY ends a terminated codeword segment
    * (RESTART: every pass; BYPASS: raw/MQ transitions) — the rule the
    * packet-header per-segment length signaling and segment assembly
    * share; the stream's final flush additionally closes whatever
    * segment the last pass leaves open.
    */
  private def segEndAfter(nplanes: Int, style: Int, k: Int): Boolean =
    if ((style & StyRestart) != 0) true
    else if ((style & StyBypass) != 0)
      passRaw(nplanes, style, k) != passRaw(nplanes, style, k + 1)
    else false

  /** Bypass-mode raw bit reader (D.7.2): MSB-first; the byte after an
    * 0xFF carries 7 bits (stuffed 0 MSB); reads 0 past the segment.
    */
  private final class RawDecoder(data: Array[Byte], from: Int, until: Int) {
    private var pos = from
    private var c = 0
    private var nb = 0
    private var prevFF = false
    def bit(): Int = {
      if (nb == 0) {
        val b = if (pos < until) data(pos) & 0xff else 0
        pos += 1
        if (prevFF) { c = b & 0x7f; nb = 7 } else { c = b; nb = 8 }
        prevFF = b == 0xff
      }
      nb -= 1
      (c >> nb) & 1
    }
  }

  /** Decode one code-block (band orientation, terminated codeword
    * segments as (buffer, from, until) ranges, w x h, bit-planes,
    * passes, code-block style) to signed coefficients.
    */
  private def t1Decode(band: Int, segs: IndexedSeq[(Array[Byte], Int, Int)],
      w: Int, h: Int, nplanes: Int, npasses: Int, style: Int,
      roiShift: Int = 0): Array[Int] = {
    val n = w * h
    // magnitudes are LONG: an RGN maxshift of s adds s planes on top
    // of the precision (Mb = G + eb - 1 + SPrgn), so 16-bit data with
    // a large ROI shift legitimately codes > 31 bit-planes — Int
    // magnitudes alias `1 << p` past plane 31 (JVM shifts mask to 5
    // bits) and decode silently-wrong ROI pixels (caught by the r12
    // combination fuzz corpus). The ROI downshift happens HERE, while
    // the value is still wide, before narrowing to Int.
    val mags = new Array[Long](n)
    val sig = new Array[Int](n)
    val sgn = new Array[Int](n)
    val vis = new Array[Int](n)
    val ref = new Array[Int](n)
    if (npasses == 0 || nplanes == 0) return new Array[Int](n)
    // a pass count past 3*nplanes-2 would drive the bit-plane index
    // negative and (with JVM shift-masking) OR in wrong high bits
    require(nplanes >= 1 && nplanes <= 62 && npasses <= 3 * nplanes - 2,
      s"jpeg2000: $npasses passes / $nplanes bit-planes out of range")
    val causal = (style & StyCausal) != 0
    val cxPair = freshCx()
    def resetCx(): Unit = {
      java.util.Arrays.fill(cxPair._1, 0)
      java.util.Arrays.fill(cxPair._2, 0)
      cxPair._1(0) = 4; cxPair._1(CxRl) = 3; cxPair._1(CxUni) = 46
    }
    var mq: MQDecoder = null
    var raw: RawDecoder = null
    var segIdx = 0
    // vertically stripe-causal limit: rows >= causalLim read as
    // insignificant in context formation while a stripe is processed
    var causalLim = Int.MaxValue

    def sigAt(x: Int, y: Int): Int =
      if (x < 0 || y < 0 || x >= w || y >= h || y >= causalLim) 0
      else sig(y * w + x)
    def sgnContrib(x: Int, y: Int): Int =
      if (sigAt(x, y) == 0) 0
      else if (sgn(y * w + x) == 1) -1 else 1
    def hvd(x: Int, y: Int): (Int, Int, Int) = (
      sigAt(x - 1, y) + sigAt(x + 1, y),
      sigAt(x, y - 1) + sigAt(x, y + 1),
      sigAt(x - 1, y - 1) + sigAt(x + 1, y - 1) + sigAt(x - 1, y + 1) +
        sigAt(x + 1, y + 1))
    def decodeSign(x: Int, y: Int): Int = {
      val hc = math.max(-1, math.min(1, sgnContrib(x - 1, y) + sgnContrib(x + 1, y)))
      val vc = math.max(-1, math.min(1, sgnContrib(x, y - 1) + sgnContrib(x, y + 1)))
      val (cx, xor) = signCtx(hc, vc)
      mq.decode(cx) ^ xor
    }
    def magCtx(x: Int, y: Int): Int = {
      if (ref(y * w + x) == 1) 16
      else {
        val (a, b, c) = hvd(x, y)
        if (a + b + c > 0) 15 else 14
      }
    }

    var done = 0
    while (done < npasses) {
      val (p, which) = passPlaneType(nplanes, done)
      val rawMode = passRaw(nplanes, style, done)
      if (mq == null && raw == null) {
        val (buf, f, u) =
          if (segIdx < segs.length) segs(segIdx)
          else (Array.emptyByteArray, 0, 0)
        segIdx += 1
        if (rawMode) raw = new RawDecoder(buf, f, u)
        else mq = new MQDecoder(buf, f, u, cxPair)
      }
      if (which == 0) { // significance propagation
        var y0 = 0
        while (y0 < h) {
          causalLim = if (causal) y0 + 4 else Int.MaxValue
          var x = 0
          while (x < w) {
            var y = y0
            val ylim = math.min(y0 + 4, h)
            while (y < ylim) {
              val i = y * w + x
              if (sig(i) == 0) {
                val (hh, vv, dd) = hvd(x, y)
                if (hh + vv + dd != 0) {
                  vis(i) = 1
                  val b = if (rawMode) raw.bit()
                    else mq.decode(sigCtx(band, hh, vv, dd))
                  if (b == 1) {
                    val s = if (rawMode) raw.bit() else decodeSign(x, y)
                    sig(i) = 1; sgn(i) = s
                    mags(i) |= 1L << p
                  }
                }
              }
              y += 1
            }
            x += 1
          }
          y0 += 4
        }
      } else if (which == 1) { // magnitude refinement
        var y0 = 0
        while (y0 < h) {
          causalLim = if (causal) y0 + 4 else Int.MaxValue
          var x = 0
          while (x < w) {
            var y = y0
            val ylim = math.min(y0 + 4, h)
            while (y < ylim) {
              val i = y * w + x
              if (sig(i) == 1 && vis(i) == 0) {
                val b = if (rawMode) raw.bit() else mq.decode(magCtx(x, y))
                if (b == 1) mags(i) |= 1L << p
                ref(i) = 1
              }
              y += 1
            }
            x += 1
          }
          y0 += 4
        }
      } else { // cleanup (always MQ-coded)
        var y0 = 0
        while (y0 < h) {
          causalLim = if (causal) y0 + 4 else Int.MaxValue
          var x = 0
          while (x < w) {
            var y = y0
            val ylim = math.min(y0 + 4, h)
            var runnable = ylim - y0 == 4
            if (runnable) {
              var k = 0
              while (runnable && k < 4) {
                val i = (y0 + k) * w + x
                if (sig(i) != 0 || vis(i) != 0) runnable = false
                else {
                  val (hh, vv, dd) = hvd(x, y0 + k)
                  if (hh + vv + dd != 0) runnable = false
                }
                k += 1
              }
            }
            var skipStrip = false
            if (runnable) {
              if (mq.decode(CxRl) == 0) skipStrip = true
              else {
                val first = (mq.decode(CxUni) << 1) | mq.decode(CxUni)
                val i = (y0 + first) * w + x
                val s = decodeSign(x, y0 + first)
                sig(i) = 1; sgn(i) = s
                mags(i) |= 1L << p
                y = y0 + first + 1
              }
            }
            if (!skipStrip) {
              var yy = y
              while (yy < ylim) {
                val i = yy * w + x
                if (sig(i) == 0 && vis(i) == 0) {
                  val (hh, vv, dd) = hvd(x, yy)
                  if (mq.decode(sigCtx(band, hh, vv, dd)) == 1) {
                    val s = decodeSign(x, yy)
                    sig(i) = 1; sgn(i) = s
                    mags(i) |= 1L << p
                  }
                }
                yy += 1
              }
            }
            x += 1
          }
          y0 += 4
        }
        if ((style & StySegsym) != 0) {
          // 1010 segmentation symbol, UNI context (D.6)
          val s = (mq.decode(CxUni) << 3) | (mq.decode(CxUni) << 2) |
            (mq.decode(CxUni) << 1) | mq.decode(CxUni)
          require(s == 0xa, s"jpeg2000: bad segmentation symbol $s")
        }
        java.util.Arrays.fill(vis, 0)
      }
      causalLim = Int.MaxValue
      if (done == npasses - 1 || segEndAfter(nplanes, style, done)) {
        mq = null; raw = null
      }
      if ((style & StyReset) != 0) resetCx()
      done += 1
    }
    val out = new Array[Int](n)
    val thr = 1L << roiShift
    var i = 0
    while (i < n) {
      var m = mags(i)
      if (roiShift > 0 && m >= thr) m >>= roiShift
      require(m <= Int.MaxValue, "jpeg2000: coefficient magnitude overflow")
      out(i) = if (sgn(i) == 1) -m.toInt else m.toInt
      i += 1
    }
    out
  }

  // --------------------------------------- general-interval DWT

  private val K97 = 1.230174104914001
  private val IK97 = 1.0 / K97
  private val A97 = -1.586134342059924
  private val B97 = -0.052980118572961
  private val G97 = 0.882911075530934
  private val D97 = 0.443506852043971

  /** Whole-sample symmetric reflection of global index j into
    * [i0, i1), returned as a LOCAL index; reflection about a boundary
    * sample preserves parity (i0−k vs i0+k differ by 2k).
    */
  private def refIdx(j: Int, i0: Int, i1: Int): Int = {
    val n = i1 - i0
    val p = 2 * (n - 1)
    var k = Math.floorMod(j - i0, p)
    if (k >= n) k = p - k
    k
  }

  /** Inverse 5/3 over global interval [i0, i1); `lo` holds the
    * transformed even-position samples, `hi` the odd.
    */
  private def inv53g(lo: Array[Int], hi: Array[Int], i0: Int, i1: Int): Array[Int] = {
    val n = i1 - i0
    if (n == 0) return new Array[Int](0)
    if (n == 1)
      return if ((i0 & 1) == 0) Array(lo(0)) else Array(hi(0) >> 1)
    val y = new Array[Int](n)
    var li = 0
    var hiI = 0
    var j = i0
    while (j < i1) {
      if ((j & 1) == 0) { y(j - i0) = lo(li); li += 1 }
      else { y(j - i0) = hi(hiI); hiI += 1 }
      j += 1
    }
    j = i0
    while (j < i1) {
      if ((j & 1) == 0)
        y(j - i0) -= (y(refIdx(j - 1, i0, i1)) + y(refIdx(j + 1, i0, i1)) + 2) >> 2
      j += 1
    }
    j = i0
    while (j < i1) {
      if ((j & 1) == 1)
        y(j - i0) += (y(refIdx(j - 1, i0, i1)) + y(refIdx(j + 1, i0, i1))) >> 1
      j += 1
    }
    y
  }

  /** Inverse 9/7 (doubles; T.800 F.4.8.2 step order — scale, then the
    * four lifting steps — matching tools/j2k.py operation-for-
    * operation so results are bit-identical).
    */
  private def inv97g(lo: Array[Double], hi: Array[Double], i0: Int, i1: Int): Array[Double] = {
    val n = i1 - i0
    if (n == 0) return new Array[Double](0)
    if (n == 1)
      return if ((i0 & 1) == 0) Array(lo(0)) else Array(hi(0) / 2.0)
    val y = new Array[Double](n)
    var li = 0
    var hiI = 0
    var j = i0
    while (j < i1) {
      if ((j & 1) == 0) { y(j - i0) = lo(li); li += 1 }
      else { y(j - i0) = hi(hiI); hiI += 1 }
      j += 1
    }
    j = i0
    while (j < i1) {
      y(j - i0) *= (if ((j & 1) == 0) K97 else IK97)
      j += 1
    }
    j = i0
    while (j < i1) {
      if ((j & 1) == 0)
        y(j - i0) -= D97 * (y(refIdx(j - 1, i0, i1)) + y(refIdx(j + 1, i0, i1)))
      j += 1
    }
    j = i0
    while (j < i1) {
      if ((j & 1) == 1)
        y(j - i0) -= G97 * (y(refIdx(j - 1, i0, i1)) + y(refIdx(j + 1, i0, i1)))
      j += 1
    }
    j = i0
    while (j < i1) {
      if ((j & 1) == 0)
        y(j - i0) -= B97 * (y(refIdx(j - 1, i0, i1)) + y(refIdx(j + 1, i0, i1)))
      j += 1
    }
    j = i0
    while (j < i1) {
      if ((j & 1) == 1)
        y(j - i0) -= A97 * (y(refIdx(j - 1, i0, i1)) + y(refIdx(j + 1, i0, i1)))
      j += 1
    }
    y
  }

  /** One inverse 2D level over resolution rect [x0,x1)x[y0,y1):
    * columns then rows (mirror of the rows-then-cols analysis).
    */
  private def inv2dG53(ll: Array[Int], hl: Array[Int], lh: Array[Int],
      hh: Array[Int], x0: Int, x1: Int, y0: Int, y1: Int): Array[Int] = {
    val w = x1 - x0
    val h = y1 - y0
    val lw = cdiv(x1, 2) - cdiv(x0, 2)
    val hw = x1 / 2 - x0 / 2
    val lRows = cdiv(y1, 2) - cdiv(y0, 2)
    val hRows = y1 / 2 - y0 / 2
    val rl = Array.ofDim[Int](h, lw)
    val rh = Array.ofDim[Int](h, hw)
    var cx = 0
    while (cx < lw) {
      val col = inv53g(Array.tabulate(lRows)(k => ll(k * lw + cx)),
        Array.tabulate(hRows)(k => lh(k * lw + cx)), y0, y1)
      var yy = 0
      while (yy < h) { rl(yy)(cx) = col(yy); yy += 1 }
      cx += 1
    }
    cx = 0
    while (cx < hw) {
      val col = inv53g(Array.tabulate(lRows)(k => hl(k * hw + cx)),
        Array.tabulate(hRows)(k => hh(k * hw + cx)), y0, y1)
      var yy = 0
      while (yy < h) { rh(yy)(cx) = col(yy); yy += 1 }
      cx += 1
    }
    val out = new Array[Int](w * h)
    var yy = 0
    while (yy < h) {
      val row = inv53g(rl(yy), rh(yy), x0, x1)
      System.arraycopy(row, 0, out, yy * w, w)
      yy += 1
    }
    out
  }

  private def inv2dG97(ll: Array[Double], hl: Array[Double], lh: Array[Double],
      hh: Array[Double], x0: Int, x1: Int, y0: Int, y1: Int): Array[Double] = {
    val w = x1 - x0
    val h = y1 - y0
    val lw = cdiv(x1, 2) - cdiv(x0, 2)
    val hw = x1 / 2 - x0 / 2
    val lRows = cdiv(y1, 2) - cdiv(y0, 2)
    val hRows = y1 / 2 - y0 / 2
    val rl = Array.ofDim[Double](h, lw)
    val rh = Array.ofDim[Double](h, hw)
    var cx = 0
    while (cx < lw) {
      val col = inv97g(Array.tabulate(lRows)(k => ll(k * lw + cx)),
        Array.tabulate(hRows)(k => lh(k * lw + cx)), y0, y1)
      var yy = 0
      while (yy < h) { rl(yy)(cx) = col(yy); yy += 1 }
      cx += 1
    }
    cx = 0
    while (cx < hw) {
      val col = inv97g(Array.tabulate(lRows)(k => hl(k * hw + cx)),
        Array.tabulate(hRows)(k => hh(k * hw + cx)), y0, y1)
      var yy = 0
      while (yy < h) { rh(yy)(cx) = col(yy); yy += 1 }
      cx += 1
    }
    val out = new Array[Double](w * h)
    var yy = 0
    while (yy < h) {
      val row = inv97g(rl(yy), rh(yy), x0, x1)
      System.arraycopy(row, 0, out, yy * w, w)
      yy += 1
    }
    out
  }

  // -------------------------------------------------- header bit I/O

  /** Packet-header bit reader with B.10.1 stuffing (7-bit byte after
    * an 0xFF).
    */
  private final class HdrReader(data: Array[Byte], var pos: Int) {
    private var cur = 0
    private var nb = 0
    private var prevFf = false
    def bit(): Int = {
      if (nb == 0) {
        val b = data(pos) & 0xff
        pos += 1
        if (prevFf) {
          require(b < 0x80, "jpeg2000: packet-header stuffed byte with MSB set")
          cur = b; nb = 7
        } else { cur = b; nb = 8 }
        prevFf = b == 0xff
      }
      nb -= 1
      (cur >> nb) & 1
    }
    def bits(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) { v = (v << 1) | bit(); i += 1 }
      v
    }
    def align(): Unit = {
      if (prevFf) {
        require((data(pos) & 0xff) < 0x80, "jpeg2000: missing trailing stuff byte")
        pos += 1
        prevFf = false
      }
      nb = 0
    }
  }

  /** Decoder-side tag tree (B.10.2): per node a coded lower bound and
    * a resolved flag.
    */
  private final class TagTree(w0: Int, h0: Int) {
    private val dims = {
      val b = Seq.newBuilder[(Int, Int)]
      var w = math.max(1, w0)
      var h = math.max(1, h0)
      var go = true
      while (go) {
        b += ((w, h))
        if (w == 1 && h == 1) go = false
        w = (w + 1) / 2
        h = (h + 1) / 2
      }
      b.result()
    }
    private val base = dims.scanLeft(0)((acc, d) => acc + d._1 * d._2)
    private val low = new Array[Int](base.last)
    private val known = new Array[Boolean](base.last)
    private val value = new Array[Int](base.last)

    def decode(in: HdrReader, x: Int, y: Int, threshold: Int): Boolean = {
      var lowBound = 0
      var leaf = -1
      var lev = dims.length - 1
      while (lev >= 0) {
        val i = base(lev) + (y >> lev) * dims(lev)._1 + (x >> lev)
        if (low(i) < lowBound) low(i) = lowBound else lowBound = low(i)
        var go = !known(i) && lowBound < threshold
        while (go) {
          if (in.bit() == 1) { known(i) = true; go = false }
          else {
            lowBound += 1
            go = lowBound < threshold
          }
        }
        value(i) = lowBound
        low(i) = lowBound
        leaf = i
        lev -= 1
      }
      known(leaf) && value(leaf) < threshold
    }
  }

  private def readNPasses(br: HdrReader): Int =
    if (br.bit() == 0) 1
    else if (br.bit() == 0) 2
    else {
      val v = br.bits(2)
      if (v < 3) 3 + v
      else {
        val v2 = br.bits(5)
        if (v2 < 31) 6 + v2 else 37 + br.bits(7)
      }
    }

  // --------------------------------------------------------- geometry

  private def cdiv(a: Int, b: Int): Int = -Math.floorDiv(-a, b)

  private final case class Rect(x0: Int, x1: Int, y0: Int, y1: Int) {
    def w: Int = x1 - x0
    def h: Int = y1 - y0
    def isEmpty: Boolean = x1 <= x0 || y1 <= y0
  }

  private def resRect(t: Rect, levels: Int, r: Int): Rect = {
    val d = 1 << (levels - r)
    Rect(cdiv(t.x0, d), cdiv(t.x1, d), cdiv(t.y0, d), cdiv(t.y1, d))
  }

  /** Band rect (T.800 B-15). For r >= 1, `bi` is 0=HL, 1=LH, 2=HH. */
  private def bandRect(t: Rect, levels: Int, r: Int, bi: Int): Rect =
    if (r == 0) resRect(t, levels, 0)
    else {
      val nb = levels - r + 1
      val d = 1 << nb
      val ho = 1 << (nb - 1)
      val xo = if (bi == 0 || bi == 2) ho else 0
      val yo = if (bi >= 1) ho else 0
      Rect(cdiv(t.x0 - xo, d), cdiv(t.x1 - xo, d),
        cdiv(t.y0 - yo, d), cdiv(t.y1 - yo, d))
    }

  /** Per-band (r, bi, nb, gain, orient) in QCD signaling order (LL,
    * then HL/LH/HH per resolution); orient feeds sigCtx (LL/LH share
    * the 0 rules, HL swaps h/v, HH is diagonal).
    */
  private def bandList(levels: Int): IndexedSeq[(Int, Int, Int, Int, Int)] = {
    val b = IndexedSeq.newBuilder[(Int, Int, Int, Int, Int)]
    b += ((0, 0, levels, 0, 0))
    var r = 1
    while (r <= levels) {
      val nb = levels - r + 1
      b += ((r, 0, nb, 1, 1)) // HL
      b += ((r, 1, nb, 1, 0)) // LH
      b += ((r, 2, nb, 2, 2)) // HH
      r += 1
    }
    b.result()
  }

  /** Precinct indices (pi, pj) raster order over a resolution rect;
    * the partition is anchored at 0 with cells 2^ppx x 2^ppy.
    */
  private def precGrid(rr: Rect, ppx: Int, ppy: Int): IndexedSeq[(Int, Int)] =
    if (rr.isEmpty) IndexedSeq.empty
    else {
      val px0 = rr.x0 >> ppx
      val px1 = cdiv(rr.x1, 1 << ppx)
      val py0 = rr.y0 >> ppy
      val py1 = cdiv(rr.y1, 1 << ppy)
      for (pj <- py0 until py1; pi <- px0 until px1) yield (pi, pj)
    }

  /** A precinct's intersection with a band, in band coordinates
    * (shift 0 at r=0 where band coords equal resolution coords,
    * else 1).
    */
  private def precBandRect(pi: Int, pj: Int, ppx: Int, ppy: Int,
      shift: Int, b: Rect): Rect = {
    val x0 = math.max(b.x0, (pi << ppx) >> shift)
    val x1 = math.min(b.x1, ((pi + 1) << ppx) >> shift)
    val y0 = math.max(b.y0, (pj << ppy) >> shift)
    val y1 = math.min(b.y1, ((pj + 1) << ppy) >> shift)
    Rect(x0, math.max(x0, x1), y0, math.max(y0, y1))
  }

  /** Code-blocks of a precinct-band: the partition is anchored at 0
    * in band space; cells never straddle precinct boundaries (the
    * effective cell size divides the precinct size). Raster order
    * matches the tag-tree leaf layout.
    */
  private def cbListG(pb: Rect, lcbw: Int, lcbh: Int): (IndexedSeq[Rect], Int, Int) =
    if (pb.isEmpty) (IndexedSeq.empty, 0, 0)
    else {
      val mx0 = pb.x0 >> lcbw
      val mx1 = cdiv(pb.x1, 1 << lcbw)
      val my0 = pb.y0 >> lcbh
      val my1 = cdiv(pb.y1, 1 << lcbh)
      val out = for (my <- my0 until my1; mx <- mx0 until mx1) yield Rect(
        math.max(pb.x0, mx << lcbw), math.min(pb.x1, (mx + 1) << lcbw),
        math.max(pb.y0, my << lcbh), math.min(pb.y1, (my + 1) << lcbh))
      (out, mx1 - mx0, my1 - my0)
    }

  /** Packet ordering key for the five T.800 progressions (B.12).
    * Position progressions (RPCL/PCRL/CPRL) order precincts by the
    * reference-grid projection of their origin (resolution coords
    * scaled by 2^(levels−r)) CLAMPED to the tile origin — B.12's
    * position loops run over [ty0, ty1), so a tile's first partial
    * precinct (grid anchored at 0, tile origin unaligned) is keyed
    * at the tile origin, not at its projected grid origin. Without
    * the clamp, non-first tiles with per-resolution precinct sizes
    * order conformant packets wrong. Identical to tools/j2k.py's
    * pkt_key.
    */
  private def pktKey(order: Int, l: Int, r: Int, c: Int, pi: Int, pj: Int,
      ppx: Int, ppy: Int, levels: Int, tx0: Long, ty0: Long,
      xr: Int = 1, yr: Int = 1): (Long, Long, Long, Long, Long) = {
    // position projections are reference-grid positions: component
    // coords scale back up by that component's subsampling factors
    val ty = math.max(ty0, ((pj.toLong << ppy) << (levels - r)) * yr)
    val tx = math.max(tx0, ((pi.toLong << ppx) << (levels - r)) * xr)
    order match {
      case 0 => (l, r, c, pj, pi)
      case 1 => (r, l, c, pj, pi)
      case 2 => (r, ty, tx, c, l)
      case 3 => (ty, tx, c, r, l)
      case _ => (c, ty, tx, r, l)
    }
  }

  // ----------------------------------------------------------- decode

  /** Parsed main-header state: self-contained and serializable so a
    * distributed reader ([[Jp2IO]]) can parse once on the driver and
    * decode tiles in executor tasks.
    */
  /** `w`/`h` are the reference-grid extents (SIZ Xsiz/Ysiz); the
    * image region is [xo, w) × [yo, h) and the tile grid anchors at
    * (xto, yto) — T.800 B.3 canvas offsets from cropped encodes.
    */
  private[operators] final case class MainHeader(
      w: Int, h: Int, xt: Int, yt: Int, prec: Int, signed: Boolean,
      ncomp: Int, mct: Boolean, levels: Int, lcbw: Int, lcbh: Int,
      prog: Int, layers: Int, useSop: Boolean, useEph: Boolean,
      lossy: Boolean, guard: Int, pairs: IndexedSeq[(Int, Int)],
      pps: IndexedSeq[(Int, Int)], xo: Int = 0, yo: Int = 0,
      xto: Int = 0, yto: Int = 0,
      // COC per-component overrides of the COD coding parameters
      // (decomposition levels and transform must MATCH the COD —
      // validated at parse time; only cb size / precincts may vary)
      cocLcb: Map[Int, (Int, Int)] = Map.empty,
      cocPps: Map[Int, IndexedSeq[(Int, Int)]] = Map.empty,
      // QCC per-component quantization: comp -> (guard, band pairs)
      qcc: Map[Int, (Int, IndexedSeq[(Int, Int)])] = Map.empty,
      // SIZ XRsiz/YRsiz per component (empty = all 1:1): component
      // c's samples live on the reference-grid lattice of multiples
      // of its factors (T.800 B.2)
      subs: IndexedSeq[(Int, Int)] = IndexedSeq.empty,
      // code-block style byte (Table A.19) + per-component COC
      // overrides
      cbsty: Int = 0,
      cocSty: Map[Int, Int] = Map.empty,
      // RGN maxshift ROI shift per component (Annex H)
      rgn: Map[Int, Int] = Map.empty,
      // POC progression segments (RSpoc, CSpoc, LYEpoc, REpoc,
      // CEpoc, Ppoc)
      poc: IndexedSeq[(Int, Int, Int, Int, Int, Int)] = IndexedSeq.empty,
      // PPM packed-packet-header segments in Zppm order (A.6.5)
      ppm: IndexedSeq[Array[Byte]] = IndexedSeq.empty) {
    def ntx: Int = cdiv(w - xto, xt)
    def nty: Int = cdiv(h - yto, yt)
    def nTiles: Int = ntx * nty
    /** decoded image dims (the region, not the canvas) */
    def ow: Int = w - xo
    def oh: Int = h - yo
    def lcbwC(c: Int): Int = cocLcb.get(c).map(_._1).getOrElse(lcbw)
    def lcbhC(c: Int): Int = cocLcb.get(c).map(_._2).getOrElse(lcbh)
    def ppsC(c: Int): IndexedSeq[(Int, Int)] = cocPps.getOrElse(c, pps)
    def guardC(c: Int): Int = qcc.get(c).map(_._1).getOrElse(guard)
    def pairsC(c: Int): IndexedSeq[(Int, Int)] =
      qcc.get(c).map(_._2).getOrElse(pairs)
    def subC(c: Int): (Int, Int) =
      if (subs.isEmpty) (1, 1) else subs(c)
    def cbstyC(c: Int): Int = cocSty.getOrElse(c, cbsty)
  }

  /** tile rect in component c's coordinates (B.3: cdiv by factors) */
  private def compRect(mh: MainHeader, tr: Rect, c: Int): Rect = {
    val (xr, yr) = mh.subC(c)
    Rect(cdiv(tr.x0, xr), cdiv(tr.x1, xr), cdiv(tr.y0, yr), cdiv(tr.y1, yr))
  }

  private def tileRect(mh: MainHeader, t: Int): Rect = {
    val p = t % mh.ntx
    val q = t / mh.ntx
    Rect(math.max(mh.xto + p * mh.xt, mh.xo),
      math.min(mh.xto + (p + 1) * mh.xt, mh.w),
      math.max(mh.yto + q * mh.yt, mh.yo),
      math.min(mh.yto + (q + 1) * mh.yt, mh.h))
  }

  /** Parse the main header (SOC through the last marker before the
    * first SOT). Returns the header and the byte offset of the first
    * SOT. Throws rather than blocking when `data` is only a prefix
    * that ends mid-header — callers reading from large files retry
    * with a longer prefix.
    */
  private[operators] def parseMainHeader(data: Array[Byte]): (MainHeader, Int) = {
    var pos = 0
    def u16(): Int = { val v = ((data(pos) & 0xff) << 8) | (data(pos + 1) & 0xff); pos += 2; v }
    def u32(): Long = { (u16().toLong << 16) | u16() }
    require(data.length > 4 && u16() == 0xff4f, "jpeg2000: missing SOC")

    var w = -1; var h = -1; var prec = -1; var signed = false
    var xt = -1; var yt = -1
    var xo = 0; var yo = 0; var xto = 0; var yto = 0
    var subs = IndexedSeq.empty[(Int, Int)]
    var ncomp = 1; var mct = false
    var levels = -1; var lcbw = -1; var lcbh = -1; var cbsty = 0
    var prog = 0; var layers = 1
    var useSop = false; var useEph = false
    var lossy = false
    var qStyle = -1; var guard = 0
    var qPairs = IndexedSeq.empty[(Int, Int)]
    var pps: Array[(Int, Int)] = null
    // COC/QCC overrides, validated against COD/QCD after the loop
    // (marker order in the main header is not fixed)
    val cocRaw = scala.collection.mutable.Map
      .empty[Int, (Int, Int, Int, Boolean, IndexedSeq[(Int, Int)], Int)]
    val qccRaw = scala.collection.mutable.Map
      .empty[Int, (Int, Int, IndexedSeq[(Int, Int)])]
    val rgnRaw = scala.collection.mutable.Map.empty[Int, Int]
    val pocRaw = scala.collection.mutable.ArrayBuffer
      .empty[(Int, Int, Int, Int, Int, Int)]
    val ppmRaw = scala.collection.mutable.ArrayBuffer
      .empty[(Int, Array[Byte])]
    var sotAt = -1
    while (sotAt < 0) {
      val mk = u16()
      mk match {
        case 0xff51 => // SIZ
          val len = u16()
          val end = pos + len - 2
          u16() // Rsiz
          // SIZ geometry fields are u32 on the wire; anything that
          // does not fit a positive Int is a malformed/hostile header
          // and must refuse by name, not wrap negative into cdiv
          def dim(what: String): Int = {
            val v = u32()
            require(v >= 1 && v <= Int.MaxValue,
              s"jpeg2000: SIZ $what $v out of range")
            v.toInt
          }
          def off(what: String, lim: Int): Int = {
            val v = u32()
            require(v >= 0 && v < lim, s"jpeg2000: SIZ $what $v out of range")
            v.toInt
          }
          w = dim("Xsiz"); h = dim("Ysiz")
          xo = off("XOsiz", w); yo = off("YOsiz", h)
          xt = dim("XTsiz"); yt = dim("YTsiz")
          xto = off("XTOsiz", w); yto = off("YTOsiz", h)
          require(xto <= xo && yto <= yo && xto + xt > xo && yto + yt > yo,
            "jpeg2000: tile grid does not anchor the image origin (B.3)")
          ncomp = u16()
          require(ncomp == 1 || ncomp == 3,
            s"jpeg2000: $ncomp components unsupported (1 gray / 3 color)")
          val sss = (0 until ncomp).map { c =>
            val xr = data(pos + 3 * c + 1) & 0xff
            val yr = data(pos + 3 * c + 2) & 0xff
            require(xr >= 1 && yr >= 1, s"jpeg2000: bad XRsiz/YRsiz $xr/$yr")
            subs = subs :+ ((xr, yr))
            data(pos + 3 * c) & 0xff
          }
          require(sss.distinct.length == 1,
            "jpeg2000: mixed component precisions unsupported")
          prec = (sss.head & 0x7f) + 1
          signed = (sss.head & 0x80) != 0
          pos = end
        case 0xff52 => // COD
          val len = u16()
          val end = pos + len - 2
          val scod = data(pos) & 0xff
          useSop = (scod & 0x2) != 0
          useEph = (scod & 0x4) != 0
          prog = data(pos + 1) & 0xff
          require(prog <= 4, s"jpeg2000: unknown progression order $prog")
          layers = ((data(pos + 2) & 0xff) << 8) | (data(pos + 3) & 0xff)
          require(layers >= 1, "jpeg2000: zero quality layers")
          mct = (data(pos + 4) & 0xff) == 1
          require((data(pos + 4) & 0xff) <= 1, "jpeg2000: unknown MCT value")
          levels = data(pos + 5) & 0xff
          lcbw = (data(pos + 6) & 0xff) + 2
          lcbh = (data(pos + 7) & 0xff) + 2
          cbsty = data(pos + 8) & 0xff
          require((cbsty & ~0x3f) == 0,
            f"jpeg2000: unknown code-block style bits 0x$cbsty%02X")
          // T.800 Table A.20: 0 = irreversible 9/7, 1 = reversible 5/3
          val transform = data(pos + 9) & 0xff
          require(transform <= 1, s"jpeg2000: unknown transform $transform")
          lossy = transform == 0
          pps =
            if ((scod & 0x1) != 0)
              Array.tabulate(levels + 1) { r =>
                val b = data(pos + 10 + r) & 0xff
                val p = (b & 0x0f, b >> 4)
                require(r == 0 || (p._1 >= 1 && p._2 >= 1),
                  "jpeg2000: precinct exponent 0 above resolution 0")
                p
              }
            else Array.fill(levels + 1)((15, 15))
          pos = end
        case 0xff5c => // QCD
          val len = u16()
          val end = pos + len - 2
          val sq = data(pos) & 0xff
          qStyle = sq & 0x1f
          guard = sq >> 5
          require(qStyle <= 2, s"jpeg2000: quantization style $qStyle unsupported")
          val b = IndexedSeq.newBuilder[(Int, Int)]
          if (qStyle == 0) {
            var i = pos + 1
            while (i < end) { b += (((data(i) & 0xff) >> 3, 0)); i += 1 }
          } else {
            var i = pos + 1
            while (i < end) {
              val v = ((data(i) & 0xff) << 8) | (data(i + 1) & 0xff)
              b += ((v >> 11, v & 0x7ff))
              i += 2
            }
          }
          qPairs = b.result()
          pos = end
        case 0xff53 => // COC: per-component coding style
          val len = u16()
          val end = pos + len - 2
          // Ccoc is 1 byte when Csiz < 257 (always here: ncomp <= 3)
          val cc = data(pos) & 0xff
          val scoc = data(pos + 1) & 0xff
          val lv2 = data(pos + 2) & 0xff
          val w2 = (data(pos + 3) & 0xff) + 2
          val h2 = (data(pos + 4) & 0xff) + 2
          val cbsty2 = data(pos + 5) & 0xff
          require((cbsty2 & ~0x3f) == 0,
            f"jpeg2000: unknown code-block style bits 0x$cbsty2%02X")
          val tr2 = data(pos + 6) & 0xff
          require(tr2 <= 1, s"jpeg2000: unknown transform $tr2")
          val pps2: IndexedSeq[(Int, Int)] =
            if ((scoc & 0x1) != 0)
              IndexedSeq.tabulate(lv2 + 1) { r =>
                val b = data(pos + 7 + r) & 0xff
                val p = (b & 0x0f, b >> 4)
                require(r == 0 || (p._1 >= 1 && p._2 >= 1),
                  "jpeg2000: precinct exponent 0 above resolution 0")
                p
              }
            else IndexedSeq.fill(lv2 + 1)((15, 15))
          cocRaw += cc -> ((lv2, w2, h2, tr2 == 0, pps2, cbsty2))
          pos = end
        case 0xff5d => // QCC: per-component quantization
          val len = u16()
          val end = pos + len - 2
          val cc = data(pos) & 0xff
          val sq = data(pos + 1) & 0xff
          val qs2 = sq & 0x1f
          val g2 = sq >> 5
          require(qs2 <= 2, s"jpeg2000: quantization style $qs2 unsupported")
          val b = IndexedSeq.newBuilder[(Int, Int)]
          if (qs2 == 0) {
            var i = pos + 2
            while (i < end) { b += (((data(i) & 0xff) >> 3, 0)); i += 1 }
          } else {
            var i = pos + 2
            while (i < end) {
              val v = ((data(i) & 0xff) << 8) | (data(i + 1) & 0xff)
              b += ((v >> 11, v & 0x7ff))
              i += 2
            }
          }
          qccRaw += cc -> ((qs2, g2, b.result()))
          pos = end
        case 0xff5e => // RGN: maxshift ROI (Annex H)
          val len = u16()
          val end = pos + len - 2
          val cc = data(pos) & 0xff // Crgn (ncomp < 257)
          require((data(pos + 1) & 0xff) == 0,
            "jpeg2000: RGN style 0 (implicit/maxshift) only")
          rgnRaw += cc -> (data(pos + 2) & 0xff)
          pos = end
        case 0xff5f => // POC: progression order changes
          val len = u16()
          val end = pos + len - 2
          require((len - 2) % 7 == 0, "jpeg2000: bad Lpoc")
          (0 until (len - 2) / 7).foreach { s =>
            val o = pos + 7 * s
            val pr = data(o + 6) & 0xff
            require(pr <= 4, s"jpeg2000: POC progression $pr")
            pocRaw += ((data(o) & 0xff, data(o + 1) & 0xff,
              ((data(o + 2) & 0xff) << 8) | (data(o + 3) & 0xff),
              data(o + 4) & 0xff, data(o + 5) & 0xff, pr))
          }
          pos = end
        case 0xff60 => // PPM: packed packet headers (main header)
          val len = u16()
          ppmRaw += ((data(pos) & 0xff,
            java.util.Arrays.copyOfRange(data, pos + 1, pos + len - 2)))
          pos += len - 2
        case 0xff61 =>
          throw new UnsupportedOperationException(
            "jpeg2000: PPT marker outside a tile-part header")
        case 0xff90 =>
          sotAt = pos - 2
        case 0xffd9 =>
          require(false, "jpeg2000: EOC before tile data")
        case _ =>
          val len = u16()
          pos += len - 2
      }
    }
    require(w > 0 && h > 0 && prec >= 1 && prec <= 16 && levels >= 0,
      s"jpeg2000: bad headers ${w}x$h @ $prec bits, $levels levels")
    require((qStyle == 0) == !lossy,
      s"jpeg2000: quantization style $qStyle contradicts transform (lossy=$lossy)")
    require(!mct || ncomp == 3, "jpeg2000: MCT requires 3 components")

    val blist = bandList(levels)
    def expandPairs(qs: Int, raw: IndexedSeq[(Int, Int)],
        what: String): IndexedSeq[(Int, Int)] =
      if (qs == 1) {
        require(raw.length == 1, s"jpeg2000: scalar-derived $what needs one pair")
        val (e0, mu0) = raw.head
        blist.map { case (_, _, nb, _, _) => (e0 - levels + nb, mu0) }
      } else {
        require(raw.length >= blist.length,
          s"jpeg2000: $what signals ${raw.length} bands, need ${blist.length}")
        raw.take(blist.length)
      }
    val pairs = expandPairs(qStyle, qPairs, "QCD")
    // COC/QCC validation: only code-block size / precincts /
    // quantization may vary per component — per-component levels or
    // transform would need ragged resolution loops and mixed kernels
    // no mainstream still-image encoder emits
    val cocLcb = cocRaw.map { case (cc, (lv2, w2, h2, lossy2, _, _)) =>
      require(cc >= 0 && cc < ncomp, s"jpeg2000: COC component $cc of $ncomp")
      require(lv2 == levels,
        "jpeg2000: per-component decomposition levels unsupported")
      require(lossy2 == lossy, "jpeg2000: per-component transform unsupported")
      cc -> ((w2, h2))
    }.toMap
    val cocPps = cocRaw.map { case (cc, (_, _, _, _, pps2, _)) => cc -> pps2 }.toMap
    val cocSty = cocRaw.map { case (cc, (_, _, _, _, _, s2)) => cc -> s2 }.toMap
    val qcc = qccRaw.map { case (cc, (qs2, g2, raw)) =>
      require(cc >= 0 && cc < ncomp, s"jpeg2000: QCC component $cc of $ncomp")
      require((qs2 == 0) == !lossy,
        s"jpeg2000: QCC style $qs2 contradicts transform (lossy=$lossy)")
      cc -> ((g2, expandPairs(qs2, raw, "QCC")))
    }.toMap
    require(!mct || subs.take(3).distinct.length == 1,
      "jpeg2000: MCT requires equal component subsampling")
    (MainHeader(w, h, xt, yt, prec, signed, ncomp, mct, levels, lcbw, lcbh,
      prog, layers, useSop, useEph, lossy, guard, pairs,
      pps.toIndexedSeq, xo, yo, xto, yto, cocLcb, cocPps, qcc, subs,
      cbsty, cocSty, rgnRaw.toMap, pocRaw.toIndexedSeq,
      ppmRaw.sortBy(_._1).map(_._2).toIndexedSeq), sotAt)
  }

  /** Walk the SOT chain from the first SOT to EOC via positioned
    * reads (14 bytes per tile-part header — no payload transits),
    * returning each tile's body ranges in TPsot order. Offsets are
    * relative to the codestream start; `csLen` is the codestream
    * length including EOC.
    */
  /** Parsed COD fields (main- or tile-scope). */
  private final case class CodFields(useSop: Boolean, useEph: Boolean,
      prog: Int, layers: Int, mct: Boolean, levels: Int, lcbw: Int,
      lcbh: Int, cbsty: Int, lossy: Boolean, pps: IndexedSeq[(Int, Int)])

  private def parseCodSeg(b: Array[Byte]): CodFields = {
    val scod = b(0) & 0xff
    val prog = b(1) & 0xff
    require(prog <= 4, s"jpeg2000: unknown progression order $prog")
    val layers = ((b(2) & 0xff) << 8) | (b(3) & 0xff)
    require(layers >= 1, "jpeg2000: zero quality layers")
    require((b(4) & 0xff) <= 1, "jpeg2000: unknown MCT value")
    val levels = b(5) & 0xff
    val cbsty = b(8) & 0xff
    require((cbsty & ~0x3f) == 0,
      f"jpeg2000: unknown code-block style bits 0x$cbsty%02X")
    val transform = b(9) & 0xff
    require(transform <= 1, s"jpeg2000: unknown transform $transform")
    val pps =
      if ((scod & 1) != 0)
        IndexedSeq.tabulate(levels + 1) { r =>
          val v = b(10 + r) & 0xff
          val p = (v & 0x0f, v >> 4)
          require(r == 0 || (p._1 >= 1 && p._2 >= 1),
            "jpeg2000: precinct exponent 0 above resolution 0")
          p
        }
      else IndexedSeq.fill(levels + 1)((15, 15))
    CodFields((scod & 2) != 0, (scod & 4) != 0, prog, layers,
      (b(4) & 0xff) == 1, levels, (b(6) & 0xff) + 2, (b(7) & 0xff) + 2,
      cbsty, transform == 0, pps)
  }

  /** Parse a COC segment body (Ccoc is one byte: ncomp <= 3 here). */
  private def parseCocSeg(b: Array[Byte])
      : (Int, (Int, Int, Int, Boolean, IndexedSeq[(Int, Int)], Int)) = {
    val cc = b(0) & 0xff
    val scoc = b(1) & 0xff
    val lv2 = b(2) & 0xff
    val cbsty2 = b(5) & 0xff
    require((cbsty2 & ~0x3f) == 0,
      f"jpeg2000: unknown code-block style bits 0x$cbsty2%02X")
    val tr2 = b(6) & 0xff
    require(tr2 <= 1, s"jpeg2000: unknown transform $tr2")
    val pps2 =
      if ((scoc & 1) != 0)
        IndexedSeq.tabulate(lv2 + 1) { r =>
          val v = b(7 + r) & 0xff
          val p = (v & 0x0f, v >> 4)
          require(r == 0 || (p._1 >= 1 && p._2 >= 1),
            "jpeg2000: precinct exponent 0 above resolution 0")
          p
        }
      else IndexedSeq.fill(lv2 + 1)((15, 15))
    (cc, (lv2, (b(3) & 0xff) + 2, (b(4) & 0xff) + 2, tr2 == 0, pps2, cbsty2))
  }

  /** Parse Sqcd/Sqcc + pairs from b(off...). */
  private def parseQuantSeg(b: Array[Byte], off: Int)
      : (Int, Int, IndexedSeq[(Int, Int)]) = {
    val sq = b(off) & 0xff
    val qs = sq & 0x1f
    require(qs <= 2, s"jpeg2000: quantization style $qs unsupported")
    val out = IndexedSeq.newBuilder[(Int, Int)]
    var i = off + 1
    if (qs == 0) while (i < b.length) { out += (((b(i) & 0xff) >> 3, 0)); i += 1 }
    else while (i < b.length) {
      val v = ((b(i) & 0xff) << 8) | (b(i + 1) & 0xff)
      out += ((v >> 11, v & 0x7ff))
      i += 2
    }
    (qs, sq >> 5, out.result())
  }

  /** Expand signaled quant pairs to per-band pairs (derived style
    * derives per-band exponents from the single signaled pair).
    */
  private def expandQuant(qs: Int, raw: IndexedSeq[(Int, Int)],
      levels: Int, what: String): IndexedSeq[(Int, Int)] = {
    val blist = bandList(levels)
    if (qs == 1) {
      require(raw.length == 1, s"jpeg2000: scalar-derived $what needs one pair")
      val (e0, mu0) = raw.head
      blist.map { case (_, _, nb, _, _) => (e0 - levels + nb, mu0) }
    } else {
      require(raw.length >= blist.length,
        s"jpeg2000: $what signals ${raw.length} bands, need ${blist.length}")
      raw.take(blist.length)
    }
  }

  /** Apply a tile's first-tile-part COD/COC/QCD/QCC overrides to the
    * main header, with the T.800 A.6.1 precedence (tile COC > tile
    * COD > main COC > main COD; same shape for quantization).
    * Per-tile decomposition levels or transform refuse by name —
    * the same boundary the per-component COC machinery draws.
    */
  private def applyTileOverrides(mh: MainHeader,
      segs: IndexedSeq[(Int, Array[Byte])]): MainHeader = {
    var codOpt: Option[CodFields] = None
    var qcdOpt: Option[(Int, Int, IndexedSeq[(Int, Int)])] = None
    val cocs = scala.collection.mutable.Map
      .empty[Int, (Int, Int, Int, Boolean, IndexedSeq[(Int, Int)], Int)]
    val qccs = scala.collection.mutable.Map
      .empty[Int, (Int, Int, IndexedSeq[(Int, Int)])]
    segs.foreach { case (mk, b) =>
      mk match {
        case 0xff52 => codOpt = Some(parseCodSeg(b))
        case 0xff53 =>
          val (cc, v) = parseCocSeg(b)
          cocs(cc) = v
        case 0xff5c => qcdOpt = Some(parseQuantSeg(b, 0))
        case 0xff5d => qccs(b(0) & 0xff) = parseQuantSeg(b, 1)
        case other => throw new IllegalStateException(s"marker $other")
      }
    }
    codOpt.foreach { cf =>
      require(cf.levels == mh.levels,
        "jpeg2000: per-tile decomposition levels unsupported")
      require(cf.lossy == mh.lossy, "jpeg2000: per-tile transform unsupported")
      require(!cf.mct || mh.ncomp == 3, "jpeg2000: MCT requires 3 components")
    }
    cocs.foreach { case (cc, (lv2, _, _, lossy2, _, _)) =>
      require(cc >= 0 && cc < mh.ncomp, s"jpeg2000: COC component $cc")
      require(lv2 == mh.levels,
        "jpeg2000: per-component decomposition levels unsupported")
      require(lossy2 == mh.lossy, "jpeg2000: per-component transform unsupported")
    }
    val cocLcb2 = (if (codOpt.isDefined) Map.empty[Int, (Int, Int)]
      else mh.cocLcb) ++
      cocs.map { case (cc, (_, w2, h2, _, _, _)) => cc -> ((w2, h2)) }
    val cocPps2 = (if (codOpt.isDefined) Map.empty[Int, IndexedSeq[(Int, Int)]]
      else mh.cocPps) ++
      cocs.map { case (cc, (_, _, _, _, pps2, _)) => cc -> pps2 }
    val cocSty2 = (if (codOpt.isDefined) Map.empty[Int, Int] else mh.cocSty) ++
      cocs.map { case (cc, (_, _, _, _, _, s2)) => cc -> s2 }
    val (guard2, pairs2) = qcdOpt match {
      case Some((qs, g, raw)) =>
        require((qs == 0) == !mh.lossy,
          s"jpeg2000: quantization style $qs contradicts transform (lossy=${mh.lossy})")
        (g, expandQuant(qs, raw, mh.levels, "tile QCD"))
      case None => (mh.guard, mh.pairs)
    }
    val qcc2 = (if (qcdOpt.isDefined)
        Map.empty[Int, (Int, IndexedSeq[(Int, Int)])]
      else mh.qcc) ++
      qccs.map { case (cc, (qs, g, raw)) =>
        require(cc >= 0 && cc < mh.ncomp, s"jpeg2000: QCC component $cc")
        require((qs == 0) == !mh.lossy,
          s"jpeg2000: QCC style $qs contradicts transform (lossy=${mh.lossy})")
        cc -> ((g, expandQuant(qs, raw, mh.levels, "tile QCC")))
      }
    mh.copy(
      prog = codOpt.map(_.prog).getOrElse(mh.prog),
      layers = codOpt.map(_.layers).getOrElse(mh.layers),
      useSop = codOpt.map(_.useSop).getOrElse(mh.useSop),
      useEph = codOpt.map(_.useEph).getOrElse(mh.useEph),
      mct = codOpt.map(_.mct).getOrElse(mh.mct),
      lcbw = codOpt.map(_.lcbw).getOrElse(mh.lcbw),
      lcbh = codOpt.map(_.lcbh).getOrElse(mh.lcbh),
      cbsty = codOpt.map(_.cbsty).getOrElse(mh.cbsty),
      pps = codOpt.map(_.pps).getOrElse(mh.pps),
      cocLcb = cocLcb2, cocPps = cocPps2, cocSty = cocSty2,
      guard = guard2, pairs = pairs2, qcc = qcc2)
  }

  /** Tile-part walk result: body byte ranges per tile, PPT packed
    * packet headers per tile (concatenated in (TPsot, Zppt) order),
    * and the tile-part codestream order (Isot sequence) PPM chunk
    * assignment needs.
    */
  private[operators] final case class TilePartInfo(
      chain: Map[Int, IndexedSeq[(Long, Long)]],
      ppt: Map[Int, Array[Byte]],
      order: IndexedSeq[Int],
      // raw tile-scope COD/COC/QCD/QCC segments from each tile's
      // FIRST tile-part header: tile -> [(marker, body bytes)]
      markers: Map[Int, IndexedSeq[(Int, Array[Byte])]] = Map.empty)

  private[operators] def tilePartChain(readAt: (Long, Int) => Array[Byte],
      firstSot: Long, csLen: Long): TilePartInfo = {
    val acc = scala.collection.mutable.Map
      .empty[Int, scala.collection.mutable.Map[Int, (Long, Long)]]
    val counts = scala.collection.mutable.Map.empty[Int, Int]
    val pptSegs = scala.collection.mutable.ArrayBuffer
      .empty[(Int, Int, Int, Array[Byte])] // (isot, tpsot, zppt, bytes)
    val tileSegs = scala.collection.mutable.ArrayBuffer
      .empty[(Int, Int, Array[Byte])] // (isot, marker, body bytes)
    val order = IndexedSeq.newBuilder[Int]
    var off = firstSot
    var done = false
    while (!done) {
      val mk0 = readAt(off, 2)
      val mk = ((mk0(0) & 0xff) << 8) | (mk0(1) & 0xff)
      if (mk == 0xffd9) done = true
      else {
        require(mk == 0xff90,
          f"jpeg2000: marker 0xFF${mk & 0xff}%02X between tile-parts (expected SOT/EOC)")
        val hdr = readAt(off, 14)
        def u16(i: Int): Int = ((hdr(i) & 0xff) << 8) | (hdr(i + 1) & 0xff)
        require(u16(2) == 10, s"jpeg2000: Lsot ${u16(2)} != 10")
        val isot = u16(4)
        val psot = (u16(6).toLong << 16) | u16(8)
        val tpsot = hdr(10) & 0xff
        val tnsot = hdr(11) & 0xff
        // tile-part header markers between SOT and SOD: PPT segments
        // are collected (packed packet headers); anything else would
        // change coding semantics and refuses by name
        var at = off + 12
        var sod = false
        while (!sod) {
          val m2 = readAt(at, 4)
          val tmk = ((m2(0) & 0xff) << 8) | (m2(1) & 0xff)
          if (tmk == 0xff93) { sod = true; at += 2 }
          else if (tmk == 0xff61) {
            val tln = ((m2(2) & 0xff) << 8) | (m2(3) & 0xff)
            val seg = readAt(at + 4, tln - 2)
            pptSegs += ((isot, tpsot, seg(0) & 0xff,
              java.util.Arrays.copyOfRange(seg, 1, seg.length)))
            at += 2 + tln
          } else if (tmk == 0xff52 || tmk == 0xff53 ||
              tmk == 0xff5c || tmk == 0xff5d) {
            // tile-scope coding/quantization overrides: legal only in
            // the tile's FIRST tile-part (A.6.1-2); parsed in decode()
            require(tpsot == 0,
              "jpeg2000: tile coding markers outside tile-part 0")
            val tln = ((m2(2) & 0xff) << 8) | (m2(3) & 0xff)
            tileSegs += ((isot, tmk, readAt(at + 4, tln - 2)))
            at += 2 + tln
          } else throw new UnsupportedOperationException(
            f"jpeg2000: tile-part header marker 0xFF${tmk & 0xff}%02X unsupported")
        }
        val end = if (psot != 0) off + psot else csLen - 2
        require(end >= at && end <= csLen,
          "jpeg2000: Psot overruns the codestream")
        acc.getOrElseUpdate(isot, scala.collection.mutable.Map.empty)
          .update(tpsot, (at, end))
        if (tnsot != 0) counts(isot) = tnsot
        order += isot
        off = end
      }
    }
    val chain = acc.iterator.map { case (t, parts) =>
      val n = counts.getOrElse(t, parts.keys.max + 1)
      require(parts.keySet == (0 until n).toSet,
        s"jpeg2000: tile $t has tile-parts ${parts.keySet.toSeq.sorted} of $n")
      t -> (0 until n).map(parts).toIndexedSeq
    }.toMap
    val ppt = pptSegs.groupBy(_._1).map { case (t, segs) =>
      val sorted = segs.sortBy(s => (s._2, s._3))
      val total = sorted.iterator.map(_._4.length).sum
      val buf = new Array[Byte](total)
      var o = 0
      sorted.foreach { s =>
        System.arraycopy(s._4, 0, buf, o, s._4.length)
        o += s._4.length
      }
      t -> buf
    }
    val markers = tileSegs.groupBy(_._1).map { case (t, segs) =>
      t -> segs.iterator.map(s => (s._2, s._3)).toIndexedSeq
    }
    TilePartInfo(chain, ppt, order.result(), markers)
  }

  /** Decode ONE tile's concatenated tile-part body to final
    * tile-local pixel planes (inverse DWT + color transform + level
    * shift, rounded and clamped for lossy), one Array[Int] per
    * component — the unit the distributed reader maps over.
    */
  private[operators] def decodeTile(mh: MainHeader, t: Int,
      body: Array[Byte],
      packedHdr: Option[Array[Byte]] = None): Array[Array[Int]] = {
    val trect = tileRect(mh, t)
    val levels = mh.levels
    val ncomp = mh.ncomp
    val lcbw = mh.lcbw
    val lcbh = mh.lcbh
    val prog = mh.prog
    val layers = mh.layers
    val useSop = mh.useSop
    val useEph = mh.useEph
    val lossy = mh.lossy
    val blist = bandList(levels)
    // per-component Mb / quantization steps (QCD defaults overridden
    // by that component's QCC)
    val mbsC = Array.tabulate(ncomp, blist.length)((c, i) =>
      mh.guardC(c) + mh.pairsC(c)(i)._1 - 1 + mh.rgn.getOrElse(c, 0))
    val deltasC: Array[Array[Double]] =
      if (!lossy) null
      else Array.tabulate(ncomp, blist.length) { (c, i) =>
        val (eb, mu) = mh.pairsC(c)(i)
        val gain = blist(i)._4
        math.pow(2.0, (mh.prec + gain) - eb) * (1.0 + mu / 2048.0)
      }
    val shift = if (mh.signed) 0 else 1 << (mh.prec - 1)
    val loCl = if (mh.signed) -(1 << (mh.prec - 1)) else 0
    val hiCl = if (mh.signed) (1 << (mh.prec - 1)) - 1 else (1 << mh.prec) - 1

    // packed packet headers (PPT/PPM): header bits come from the
    // packed stream, the body carries only SOP markers + payloads
    val hsrc = packedHdr.getOrElse(body)
    val packed = packedHdr.isDefined
    var br = new HdrReader(hsrc, 0)
    var bodyAt = 0
    // per-component geometry: subsampled components live on their
    // own coordinate lattice (tile rect cdiv'd by the factors)
    val crects = Array.tabulate(ncomp)(c => compRect(mh, trect, c))
    val bandRects = Array.tabulate(ncomp)(c =>
      blist.map { case (r, bi, _, _, _) => bandRect(crects(c), levels, r, bi) })
    // coefficient planes keyed (component, band index in QCD order)
    val bandCoefs = Array.tabulate(ncomp, blist.length) { (c, i) =>
      new Array[Int](math.max(0, bandRects(c)(i).w) * math.max(0, bandRects(c)(i).h))
    }

    // per-(resolution, precinct, component, band) packet state:
    // inclusion/zero-bitplane tag trees and per-code-block
    // accumulation persist across quality layers
    final class CbSt(val rect: Rect) {
      var included = false
      var lblock = 3
      var npl = 0
      var nps = 0
      // contribution pieces (from, until, endsTerminatedSegment) —
      // T1 reassembles the terminated codeword segments from these
      val segs = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Boolean)]
    }
    val cbState = scala.collection.mutable.Map
      .empty[(Int, Int, Int, Int), (Int, Int, TagTree, TagTree, Array[CbSt])]
    // (l, r, comp, ip, pi, pj, ppx, ppy, xr, yr) per packet
    val pkts = scala.collection.mutable.ArrayBuffer
      .empty[(Int, Int, Int, Int, Int, Int, Int, Int, Int, Int)]
    for (r <- 0 to levels) {
      val pshift = if (r == 0) 0 else 1
      val nBands = if (r == 0) 1 else 3
      for (comp <- 0 until ncomp) {
        val rr = resRect(crects(comp), levels, r)
        val (ppx, ppy) = mh.ppsC(comp)(r)
        val precs = precGrid(rr, ppx, ppy)
        val exw = math.min(mh.lcbwC(comp), ppx - pshift)
        val exh = math.min(mh.lcbhC(comp), ppy - pshift)
        val (sxr, syr) = mh.subC(comp)
        for (((pi, pj), ip) <- precs.zipWithIndex) {
          for (bpos <- 0 until nBands) {
            val bIdx = if (r == 0) 0 else 1 + 3 * (r - 1) + bpos
            val pb = precBandRect(pi, pj, ppx, ppy, pshift, bandRects(comp)(bIdx))
            val (cbs, nx, ny) = cbListG(pb, exw, exh)
            cbState((r, ip, comp, bpos)) =
              (nx, ny, new TagTree(nx, ny), new TagTree(nx, ny),
                cbs.map(new CbSt(_)).toArray)
          }
          for (l <- 0 until layers)
            pkts += ((l, r, comp, ip, pi, pj, ppx, ppy, sxr, syr))
        }
      }
    }
    // packet order: the COD progression, or — with POC segments
    // (A.6.6 / B.12.1.7) — segment by segment, each emitting in ITS
    // progression order the not-yet-emitted packets of its
    // resolution/component/layer volume
    def keyOf(pr: Int, m: (Int, Int, Int, Int, Int, Int, Int, Int, Int, Int)) =
      pktKey(pr, m._1, m._2, m._3, m._5, m._6, m._7, m._8, levels,
        trect.x0, trect.y0, m._9, m._10)
    val ordered: Seq[(Int, Int, Int, Int)] =
      if (mh.poc.isEmpty)
        pkts.sortBy(keyOf(prog, _)).map(m => (m._1, m._2, m._3, m._4)).toSeq
      else {
        val taken = new Array[Boolean](pkts.length)
        val out = Seq.newBuilder[(Int, Int, Int, Int)]
        mh.poc.foreach { case (rs, cs, lye, re, ce, pr) =>
          val batch = pkts.zipWithIndex.filter { case (m, i) =>
            !taken(i) && m._2 >= rs && m._2 < re &&
              m._3 >= cs && m._3 < ce && m._1 < lye
          }.sortBy { case (m, _) => keyOf(pr, m) }
          batch.foreach { case (m, i) =>
            taken(i) = true
            out += ((m._1, m._2, m._3, m._4))
          }
        }
        require(taken.forall(identity),
          "jpeg2000: POC progression does not cover all packets")
        out.result()
      }
    for ((l, r, comp, ip) <- ordered) {
      val nBands = if (r == 0) 1 else 3
      if (useSop) {
        // SOP: FF91, Lsop = 4, 2-byte packet sequence number — in
        // the BITSTREAM (with the payloads), not the packed headers
        if (packed) {
          require((body(bodyAt) & 0xff) == 0xff &&
            (body(bodyAt + 1) & 0xff) == 0x91,
            "jpeg2000: Scod declares SOP but the packet lacks it")
          bodyAt += 6
        } else {
          val at0 = br.pos
          require((body(at0) & 0xff) == 0xff && (body(at0 + 1) & 0xff) == 0x91,
            "jpeg2000: Scod declares SOP but the packet lacks it")
          br = new HdrReader(body, at0 + 6)
        }
      }
      val nonEmpty = br.bit() == 1
      val sty = mh.cbstyC(comp)
      val contribs = Seq.newBuilder[(CbSt, Int, Boolean)]
      if (nonEmpty) {
        var bpos = 0
        while (bpos < nBands) {
          val (nx, ny, incl, zbp, st) = cbState((r, ip, comp, bpos))
          if (nx > 0 && ny > 0) {
            val bIdx = if (r == 0) 0 else 1 + 3 * (r - 1) + bpos
            val mb = mbsC(comp)(bIdx)
            var i = 0
            while (i < st.length) {
              val cb = st(i)
              val gx = i % nx
              val gy = i / nx
              val contrib =
                if (cb.included) br.bit() == 1
                else incl.decode(br, gx, gy, l + 1)
              if (contrib) {
                if (!cb.included) {
                  var tt = 1
                  while (!zbp.decode(br, gx, gy, tt)) tt += 1
                  val z = tt - 1
                  cb.npl = mb - z
                  require(cb.npl >= 0,
                    s"jpeg2000: $z zero bit-planes exceed Mb $mb")
                  cb.included = true
                }
                val npNew = readNPasses(br)
                while (br.bit() == 1) cb.lblock += 1
                // one signaled length per piece: the contribution
                // split at structural terminated-segment boundaries
                // (B.10.7.2), each with Lblock + floor(log2(its
                // passes)) bits; a single piece for default styles
                val a = cb.nps
                var pst = a
                var kk = a
                while (kk < a + npNew) {
                  val endsSeg = segEndAfter(cb.npl, sty, kk)
                  if (endsSeg || kk == a + npNew - 1) {
                    val nbits = cb.lblock +
                      (31 - Integer.numberOfLeadingZeros(kk + 1 - pst))
                    val len = br.bits(nbits)
                    contribs += ((cb, len, endsSeg))
                    pst = kk + 1
                  }
                  kk += 1
                }
                cb.nps += npNew
              }
              i += 1
            }
          }
          bpos += 1
        }
      }
      br.align()
      if (useEph) {
        // EPH: FF92 terminates the packet header
        require((hsrc(br.pos) & 0xff) == 0xff &&
          (hsrc(br.pos + 1) & 0xff) == 0x92,
          "jpeg2000: Scod declares EPH but the packet header lacks it")
        br = new HdrReader(hsrc, br.pos + 2)
      }
      if (!packed) bodyAt = br.pos
      contribs.result().foreach { case (cb, len, endsSeg) =>
        require(bodyAt + len <= body.length,
          "jpeg2000: code-block data overruns the tile-part body")
        cb.segs += ((bodyAt, bodyAt + len, endsSeg))
        bodyAt += len
      }
      if (!packed) br = new HdrReader(body, bodyAt)
    }
    require(bodyAt == body.length,
      s"jpeg2000: ${body.length - bodyAt} trailing bytes after tile $t's last packet")
    // Tier-1 decode each code-block from its concatenated layer
    // segments (the MQ codeword is continuous across layers)
    cbState.foreach { case ((r, _, comp, bpos), (_, _, _, _, st)) =>
      val bIdx = if (r == 0) 0 else 1 + 3 * (r - 1) + bpos
      val brct = bandRects(comp)(bIdx)
      val orient = blist(bIdx)._5
      val plane = bandCoefs(comp)(bIdx)
      val sty = mh.cbstyC(comp)
      st.foreach { cb =>
        // reassemble terminated codeword segments from the flagged
        // pieces; single-piece segments decode in place from the
        // tile body, only genuinely-split ones concatenate
        val segRanges = scala.collection.mutable.ArrayBuffer
          .empty[IndexedSeq[(Int, Int)]]
        var cur = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
        cb.segs.foreach { case (f, u, ends) =>
          cur += ((f, u))
          if (ends) {
            segRanges += cur.toIndexedSeq
            cur = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
          }
        }
        if (cur.nonEmpty || segRanges.isEmpty) segRanges += cur.toIndexedSeq
        val segBufs: IndexedSeq[(Array[Byte], Int, Int)] =
          segRanges.iterator.map { rs =>
            if (rs.isEmpty) (body, 0, 0)
            else if (rs.length == 1) (body, rs.head._1, rs.head._2)
            else {
              val total = rs.iterator.map(r => r._2 - r._1).sum
              val buf = new Array[Byte](total)
              var o = 0
              rs.foreach { case (f, u) =>
                System.arraycopy(body, f, buf, o, u - f)
                o += u - f
              }
              (buf, 0, total)
            }
          }.toIndexedSeq
        // maxshift ROI (H.2) applies inside T1 while magnitudes are
        // still wide: values >= 2^shift are ROI coefficients, scaled
        // back down; background is untouched
        val coefs = t1Decode(orient, segBufs, cb.rect.w, cb.rect.h,
          cb.npl, cb.nps, sty, mh.rgn.getOrElse(comp, 0))
        var yy = 0
        while (yy < cb.rect.h) {
          var xx = 0
          while (xx < cb.rect.w) {
            plane((cb.rect.y0 + yy - brct.y0) * brct.w +
              (cb.rect.x0 + xx - brct.x0)) = coefs(yy * cb.rect.w + xx)
            xx += 1
          }
          yy += 1
        }
      }
    }

    // dequantize, inverse DWT, inverse MCT, level shift — all in
    // component coordinates (equal to tile coords when 1:1; MCT
    // requires equal factors, so its planes always share dims)
    val n0 = crects(0).w * crects(0).h
    val res = Array.ofDim[Array[Int]](ncomp)
    if (lossy) {
      val comps = Array.tabulate(ncomp) { comp =>
        val dPlanes = Array.tabulate(blist.length) { bIdx =>
          val d = deltasC(comp)(bIdx)
          val q = bandCoefs(comp)(bIdx)
          val out = new Array[Double](q.length)
          var i = 0
          while (i < q.length) {
            out(i) = if (q(i) > 0) (q(i) + 0.5) * d
              else if (q(i) < 0) (q(i) - 0.5) * d
              else 0.0
            i += 1
          }
          out
        }
        var cur = dPlanes(0)
        for (r <- 1 to levels) {
          val rrr = resRect(crects(comp), levels, r)
          val b0 = 1 + 3 * (r - 1)
          cur = inv2dG97(cur, dPlanes(b0), dPlanes(b0 + 1), dPlanes(b0 + 2),
            rrr.x0, rrr.x1, rrr.y0, rrr.y1)
        }
        cur
      }
      if (mh.mct) {
        val (cy, cb, cr) = (comps(0), comps(1), comps(2))
        var i = 0
        while (i < n0) {
          // irreversible color transform inverse (T.800 G.3)
          val rr2 = cy(i) + 1.402 * cr(i)
          val gg = cy(i) - 0.344136 * cb(i) - 0.714136 * cr(i)
          val bb = cy(i) + 1.772 * cb(i)
          cy(i) = rr2; cb(i) = gg; cr(i) = bb
          i += 1
        }
      }
      for (comp <- 0 until ncomp) {
        val nC = crects(comp).w * crects(comp).h
        val out = new Array[Int](nC)
        val cur = comps(comp)
        var i = 0
        while (i < nC) {
          var v = math.floor(cur(i) + shift + 0.5).toInt
          if (v < loCl) v = loCl
          if (v > hiCl) v = hiCl
          out(i) = v
          i += 1
        }
        res(comp) = out
      }
    } else {
      val comps = Array.tabulate(ncomp) { comp =>
        var cur = bandCoefs(comp)(0)
        for (r <- 1 to levels) {
          val rrr = resRect(crects(comp), levels, r)
          val b0 = 1 + 3 * (r - 1)
          cur = inv2dG53(cur, bandCoefs(comp)(b0), bandCoefs(comp)(b0 + 1),
            bandCoefs(comp)(b0 + 2), rrr.x0, rrr.x1, rrr.y0, rrr.y1)
        }
        cur
      }
      if (mh.mct) {
        val (py, pu, pv) = (comps(0), comps(1), comps(2))
        var i = 0
        while (i < n0) {
          val g = py(i) - ((pu(i) + pv(i)) >> 2)
          val rr2 = pv(i) + g
          val bb = pu(i) + g
          py(i) = rr2; pu(i) = g; pv(i) = bb
          i += 1
        }
      }
      for (comp <- 0 until ncomp) {
        val nC = crects(comp).w * crects(comp).h
        val out = new Array[Int](nC)
        val cur = comps(comp)
        var i = 0
        while (i < nC) { out(i) = cur(i) + shift; i += 1 }
        res(comp) = out
      }
    }
    res
  }

  def decode(data: Array[Byte]): J2kImage = {
    val (mh, firstSot) = parseMainHeader(data)
    val tpInfo = tilePartChain({ (o, n) =>
      require(o + n <= data.length, "jpeg2000: codestream truncated")
      java.util.Arrays.copyOfRange(data, o.toInt, o.toInt + n)
    }, firstSot.toLong, data.length.toLong)
    val chain = tpInfo.chain
    require(chain.keySet == (0 until mh.nTiles).toSet,
      s"jpeg2000: tile-parts cover tiles ${chain.keySet.toSeq.sorted} of ${mh.nTiles}")
    // per-tile packed packet headers: PPT segments (already tile-
    // keyed) or the PPM stream split into per-tile-part chunks
    // (4-byte Nppm prefixes) in codestream order (A.6.5)
    val packedHdrs: Map[Int, Array[Byte]] =
      if (mh.ppm.isEmpty) tpInfo.ppt
      else {
        require(tpInfo.ppt.isEmpty, "jpeg2000: PPM and PPT both present")
        val stream = mh.ppm.flatten.toArray
        val perTile = scala.collection.mutable.Map
          .empty[Int, scala.collection.mutable.ArrayBuffer[Byte]]
        var at = 0
        tpInfo.order.foreach { isot =>
          require(at + 4 <= stream.length, "jpeg2000: PPM stream truncated")
          val n = ((stream(at) & 0xff) << 24) | ((stream(at + 1) & 0xff) << 16) |
            ((stream(at + 2) & 0xff) << 8) | (stream(at + 3) & 0xff)
          require(at + 4 + n <= stream.length, "jpeg2000: PPM chunk overruns")
          perTile.getOrElseUpdate(isot,
            scala.collection.mutable.ArrayBuffer.empty[Byte]) ++=
            stream.slice(at + 4, at + 4 + n)
          at += 4 + n
        }
        require(at == stream.length, "jpeg2000: PPM stream length mismatch")
        perTile.map { case (k, v) => k -> v.toArray }.toMap
      }
    val w = mh.ow
    val h = mh.oh
    val ncomp = mh.ncomp
    // each component's plane at its OWN subsampled dims (B.2:
    // cdiv(Xsiz, xr) - cdiv(XOsiz, xr) columns); equal to w x h at 1:1
    val compDims = Array.tabulate(ncomp) { c =>
      val (xr, yr) = mh.subC(c)
      (cdiv(mh.w, xr) - cdiv(mh.xo, xr), cdiv(mh.h, yr) - cdiv(mh.yo, yr))
    }
    val outPlanes = Array.tabulate(ncomp)(c =>
      new Array[Int](compDims(c)._1 * compDims(c)._2))
    for (t <- 0 until mh.nTiles) {
      val parts = chain(t)
      val body: Array[Byte] = {
        val total = parts.iterator.map(p => (p._2 - p._1).toInt).sum
        val b = new Array[Byte](total)
        var at = 0
        parts.foreach { case (f, u) =>
          System.arraycopy(data, f.toInt, b, at, (u - f).toInt)
          at += (u - f).toInt
        }
        b
      }
      val mhEff = tpInfo.markers.get(t)
        .map(applyTileOverrides(mh, _)).getOrElse(mh)
      val comps = decodeTile(mhEff, t, body, packedHdrs.get(t))
      val trect = tileRect(mh, t)
      for (comp <- 0 until ncomp) {
        val pl = outPlanes(comp)
        val cur = comps(comp)
        val tc = compRect(mh, trect, comp)
        val (xr, yr) = mh.subC(comp)
        val ox = cdiv(mh.xo, xr)
        val oy = cdiv(mh.yo, yr)
        val cw = compDims(comp)._1
        var yy = 0
        while (yy < tc.h) {
          var xx = 0
          while (xx < tc.w) {
            pl((tc.y0 + yy - oy) * cw + (tc.x0 + xx - ox)) =
              cur(yy * tc.w + xx)
            xx += 1
          }
          yy += 1
        }
      }
    }
    // interleave on the full image grid; a subsampled component
    // replicates each sample across its xr x yr footprint (nearest
    // neighbor, clamped at the region edges) — the presentation
    // expansion viewers apply; the per-component lattice itself is
    // what the codestream carries
    val out = new Array[Int](w * h * ncomp)
    var c = 0
    while (c < ncomp) {
      val (xr, yr) = mh.subC(c)
      val pl = outPlanes(c)
      val (cw, ch) = compDims(c)
      if (xr == 1 && yr == 1) {
        var i = 0
        while (i < w * h) { out(i * ncomp + c) = pl(i); i += 1 }
      } else {
        val ox = cdiv(mh.xo, xr)
        val oy = cdiv(mh.yo, yr)
        var y = 0
        while (y < h) {
          val cy = math.max(0, math.min(ch - 1, (mh.yo + y) / yr - oy))
          var x = 0
          while (x < w) {
            val cx = math.max(0, math.min(cw - 1, (mh.xo + x) / xr - ox))
            out((y * w + x) * ncomp + c) = pl(cy * cw + cx)
            x += 1
          }
          y += 1
        }
      }
      c += 1
    }
    J2kImage(w, h, mh.prec, mh.signed, ncomp, out)
  }
}
