package graft.functions

/**
 * VP8 (lossy WebP) intra-frame decoder — RFC 6386, keyframes only (a WebP
 * still IS a single VP8 keyframe, so no inter-frame machinery exists or is
 * needed). Scope:
 *
 *  - boolean (arithmetic) decoder (sec 7), frame + keyframe headers
 *    (sec 9: segmentation, loop-filter params, token partitions, quantizer
 *    indices, coefficient-probability updates);
 *  - keyframe macroblock prediction records (sec 11: segment ids, skip
 *    flags, 16x16 / B_PRED / chroma intra modes with the above+left
 *    submode contexts);
 *  - DCT/WHT token decoding across multiple token partitions (sec 13),
 *    dequantization (sec 14.1), exact integer inverse WHT + DCT (sec 14.2
 *    / 14.3);
 *  - all intra predictors (sec 12: DC/V/H/TM at 16x16 and 8x8, the ten
 *    4x4 B_PRED submodes with VP8's "stale above-right" rule);
 *  - the in-loop deblocking filter, both normal and simple, with
 *    per-segment / per-mode level adjustments (sec 15).
 *
 * RFC 6386 defines bit-exact integer reconstruction (unlike, say, MP3's
 * floating synthesis), so decode of a given byte array is bit-identical on
 * any JVM AND identical to libwebp's output — Vp8Spec proves both planes
 * bit-equal against real libwebp decodes (fixtures under
 * src/test/resources/vp8, written + ground-truthed by the system libwebp
 * via tools/gen_vp8_fixtures.py). That makes pHash-family signatures over
 * lossy WebP cluster-stable, closing the one gap in the image-dedup tier
 * (VP8L lossless was already exact; lossy VP8 is the majority of crawl
 * WebP).
 *
 * Reference semantics: earthmover has no WebP support (beyond-reference
 * tier); bitstream layout per RFC 6386 sections cited inline; spec
 * constant tables in [[Vp8Tables]].
 */
object Vp8 {

  /** Decoded planes: macroblock-padded Y/U/V with the visible crop
    * `w x h` (chroma crop rounds up). Strides are the padded widths
    * INCLUDING the 1px left border — pixel (0,0) of the image sits at
    * index `yStride + 1`. */
  final case class Planes(w: Int, h: Int, yStride: Int, uvStride: Int,
                          y: Array[Byte], u: Array[Byte], v: Array[Byte]) {
    def yAt(x: Int, yy: Int): Int = y((1 + yy) * yStride + 1 + x) & 0xFF
    def uAt(x: Int, yy: Int): Int = u((1 + yy) * uvStride + 1 + x) & 0xFF
    def vAt(x: Int, yy: Int): Int = v((1 + yy) * uvStride + 1 + x) & 0xFF
  }

  // ------------------------------------------------------ boolean decoder

  /** RFC 6386 sec 7.3: 16-bit-window arithmetic decoder. Reads past the
    * partition end zero-fill (the spec's own convention for the final
    * bits); `overrun` lets callers reject grossly truncated streams.
    *
    * Implementation note (perf, same arithmetic): instead of the spec's
    * bit-at-a-time renormalization, `value` carries the 16-bit active
    * window PLUS `extra` prefetched low bits (value < 2^30, so Int
    * suffices). The window is `value >> extra`; comparing
    * `value >= split << (8+extra)` and subtracting at that scale is
    * integer-identical to the spec's window ops (the subtrahend has zero
    * low bits), and renormalizing is one leading-zeros shift of `range`
    * plus `extra -= s` — bytes load only when the prefetch drains. The
    * byte-consumption order from the stream is unchanged, so decoded
    * output is bit-exact (Vp8Spec pins it against libwebp). */
  private[functions] final class Bool(b: Array[Byte], start: Int, end: Int) {
    private var pos = start
    private var range = 255
    private var value = 0
    private var extra = 0 // prefetched bits below the 16-bit window
    var overrun = 0
    value = (next() << 8) | next()

    private def next(): Int =
      if (pos < end) { val v = b(pos) & 0xFF; pos += 1; v }
      else { overrun += 1; 0 }

    def bool(prob: Int): Int = {
      val split = 1 + (((range - 1) * prob) >> 8)
      val big = split << (8 + extra)
      var ret = 0
      if (value >= big) { ret = 1; range -= split; value -= big }
      else range = split
      if (range < 128) {
        // shift bringing range back into [128,255]: 1..7 bits
        val s = java.lang.Integer.numberOfLeadingZeros(range) - 24
        while (extra < s) { value = (value << 8) | next(); extra += 8 }
        range <<= s
        extra -= s
      }
      ret
    }

    /** Unsigned literal, MSB first (sec 7.4). */
    def lit(n: Int): Int = {
      var v = 0; var i = 0
      while (i < n) { v = (v << 1) | bool(128); i += 1 }
      v
    }

    /** Sign-magnitude literal (sec 7.4): n bits then a sign bit. */
    def sLit(n: Int): Int = { val v = lit(n); if (bool(128) == 1) -v else v }

    /** Flagged value: `flag ? signed-literal : 0` (header idiom). */
    def flagSLit(n: Int): Int = if (bool(128) == 1) sLit(n) else 0

    /** Token-tree read (sec 8.1): leaves encoded as `~value`, so leaf 0 is
      * representable. `start` lets the DCT loop skip the EOB branch after
      * a zero token (sec 13.3). */
    def tree(t: Array[Int], probs: Array[Byte], off: Int, start: Int = 0): Int = {
      var i = t(start + bool(probs(off + (start >> 1)) & 0xFF))
      while (i > 0) i = t(i + bool(probs(off + (i >> 1)) & 0xFF))
      ~i
    }
  }

  // ------------------------------------------------------------ mode trees

  // sec 11.2: keyframe luma modes. DC=0, V=1, H=2, TM=3, B_PRED=4.
  private val KfYModeTree = Array(~4, 2, 4, 6, ~0, ~1, ~2, ~3)
  private val KfYModeProbs: Array[Byte] = Array(145, 156, 163, 128).map(_.toByte)
  // sec 11.2: chroma modes (same numbering, no B_PRED).
  private val UvModeTree = Array(~0, 2, ~1, 4, ~2, ~3)
  private val KfUvModeProbs: Array[Byte] = Array(142, 114, 183).map(_.toByte)
  // sec 11.5: 4x4 submodes. B_DC=0, B_TM=1, B_VE=2, B_HE=3, B_LD=4,
  // B_RD=5, B_VR=6, B_VL=7, B_HD=8, B_HU=9.
  private val BModeTree = Array(
    ~0, 2, ~1, 4, ~2, 6, 8, 12, ~3, 10, ~5, ~6, ~4, 14, ~7, 16, ~8, ~9)
  // sec 10: segment-id tree over 3 probabilities.
  private val SegTree = Array(2, 4, ~0, ~1, ~2, ~3)

  // sec 13.1: DCT token tree. 0=EOB, 1=zero, 2..5 = literal values 1..4,
  // 6..11 = categories 1..6.
  private val CoeffTree = Array(
    ~0, 2, ~1, 4, ~2, 6, 8, 12, ~3, 10, ~4, ~5, 14, 16, ~6, ~7, 18, 20,
    ~8, ~9, ~10, ~11)
  // sec 13.2: category base values and MSB-first extra-bit probabilities.
  private val CatBase = Array(5, 7, 11, 19, 35, 67)
  private val CatProbs: Array[Array[Int]] = Array(
    Array(159), Array(165, 145), Array(173, 148, 140),
    Array(176, 155, 140, 135), Array(180, 157, 141, 134, 130),
    Array(254, 254, 243, 230, 196, 177, 153, 140, 133, 130, 129))

  // sec 13.3: zigzag scan and coefficient-position -> band map.
  private val Zigzag = Array(0, 1, 4, 8, 5, 2, 3, 6, 9, 12, 13, 10, 7, 11, 14, 15)
  private val Bands = Array(0, 1, 2, 3, 6, 4, 5, 6, 6, 6, 6, 6, 6, 6, 6, 7)

  private final val B_PRED = 4
  // the 16x16 mode a non-B_PRED macroblock contributes as submode context
  // for a neighboring B_PRED block (sec 11.3): DC->B_DC, V->B_VE, H->B_HE,
  // TM->B_TM
  private val ModeAsSubmode = Array(0, 2, 3, 1)

  private def dcQ(i: Int): Int = Vp8Tables.DcQLookup(math.max(0, math.min(127, i)))
  private def acQ(i: Int): Int = Vp8Tables.AcQLookup(math.max(0, math.min(127, i)))

  /** Decode the VP8 keyframe at `data(off until off+len)`; `filter=false`
    * skips the loop filter (spec use: validating reconstruction against
    * libwebp's bypass_filtering ground truth). Throws on malformed input. */
  def decode(data: Array[Byte], off: Int, len: Int, filter: Boolean = true): Planes =
    new Decoder(data, off, len).run(filter)

  // =================================================================== impl

  private final class Decoder(data: Array[Byte], off: Int, len: Int) {
    require(len >= 10 && off >= 0 && off.toLong + len <= data.length, "vp8: truncated frame")
    // ---- sec 9.1: 3-byte frame tag + keyframe start code + dimensions
    private val b0 = data(off) & 0xFF
    require((b0 & 1) == 0, "vp8: not a keyframe")
    require(((b0 >> 1) & 7) <= 3, "vp8: bad version")
    private val firstPartSize =
      (b0 >> 5) | ((data(off + 1) & 0xFF) << 3) | ((data(off + 2) & 0xFF) << 11)
    require((data(off + 3) & 0xFF) == 0x9d && (data(off + 4) & 0xFF) == 0x01 &&
      (data(off + 5) & 0xFF) == 0x2a, "vp8: bad start code")
    val w: Int = ((data(off + 6) & 0xFF) | ((data(off + 7) & 0xFF) << 8)) & 0x3FFF
    val h: Int = ((data(off + 8) & 0xFF) | ((data(off + 9) & 0xFF) << 8)) & 0x3FFF
    require(w > 0 && h > 0, "vp8: zero dimension")
    require(w.toLong * h <= 64L * 1024 * 1024, "vp8: frame too large")
    private val part0 = off + 10
    require(firstPartSize > 0 && part0.toLong + firstPartSize <= off + len,
      s"vp8: first partition overruns frame (size $firstPartSize)")

    private val mbW = (w + 15) >> 4
    private val mbH = (h + 15) >> 4
    private val nMb = mbW * mbH
    private val hd = new Bool(data, part0, part0 + firstPartSize)

    // ---- header state
    private var segEnabled = false
    private var segUpdateMap = false
    private var segAbsolute = false
    private val segQuant = new Array[Int](4)
    private val segLf = new Array[Int](4)
    private val segTreeProbs: Array[Byte] = Array.fill(3)(255.toByte)
    private var simpleFilter = false
    private var filterLevel = 0
    private var sharpness = 0
    private var lfDeltaEnabled = false
    private val refLfDelta = new Array[Int](4)
    private val modeLfDelta = new Array[Int](4)
    private var parts: Array[Bool] = _
    private val dq = Array.ofDim[Int](4, 6) // ydc yac y2dc y2ac uvdc uvac
    private var coeffProbs: Array[Byte] = _
    private var useSkip = false
    private var skipProb = 0

    // ---- per-MB records
    private val mbSeg = new Array[Byte](nMb)
    private val mbSkip = new Array[Boolean](nMb)
    private val mbYMode = new Array[Byte](nMb)
    private val mbUvMode = new Array[Byte](nMb)
    private val mbBModes = new Array[Byte](nMb * 16)
    private val mbHasCoeffs = new Array[Boolean](nMb)

    // ---- planes: 1px top border (127) + 1px left border (129) + 4px right
    // border on Y for B_PRED above-right (sec 12.2 edge conventions)
    private val yStride = 1 + mbW * 16 + 4
    private val cStride = 1 + mbW * 8
    private val Y = new Array[Byte](yStride * (1 + mbH * 16))
    private val U = new Array[Byte](cStride * (1 + mbH * 8))
    private val V = new Array[Byte](cStride * (1 + mbH * 8))

    def run(filter: Boolean): Planes = {
      parseHeader()
      parseModes()
      initBorders()
      reconstruct()
      if (filter && filterLevel > 0) loopFilter()
      Planes(w, h, yStride, cStride, Y, U, V)
    }

    // ------------------------------------------------------ header (sec 9)

    private def parseHeader(): Unit = {
      require(hd.lit(1) == 0, "vp8: reserved color space") // sec 9.2
      hd.lit(1) // clamping type: decode is unaffected

      // sec 9.3: segmentation
      if (hd.lit(1) == 1) {
        segEnabled = true
        segUpdateMap = hd.lit(1) == 1
        val updateData = hd.lit(1) == 1
        if (updateData) {
          segAbsolute = hd.lit(1) == 1
          var i = 0
          while (i < 4) { segQuant(i) = hd.flagSLit(7); i += 1 }
          i = 0
          while (i < 4) { segLf(i) = hd.flagSLit(6); i += 1 }
        }
        if (segUpdateMap) {
          var i = 0
          while (i < 3) {
            segTreeProbs(i) = (if (hd.lit(1) == 1) hd.lit(8) else 255).toByte
            i += 1
          }
        }
      }

      // sec 9.4: loop filter
      simpleFilter = hd.lit(1) == 1
      filterLevel = hd.lit(6)
      sharpness = hd.lit(3)
      if (hd.lit(1) == 1) {
        lfDeltaEnabled = true
        if (hd.lit(1) == 1) { // mode_ref_lf_delta_update
          var i = 0
          while (i < 4) { if (hd.lit(1) == 1) refLfDelta(i) = hd.sLit(6); i += 1 }
          i = 0
          while (i < 4) { if (hd.lit(1) == 1) modeLfDelta(i) = hd.sLit(6); i += 1 }
        }
      }

      // sec 9.5: token partitions (sizes are 3-byte LE; the last partition
      // runs to the end of the frame)
      val nParts = 1 << hd.lit(2)
      val sizesAt = part0 + firstPartSize
      var pAt = sizesAt + 3 * (nParts - 1)
      require(pAt <= off + len, "vp8: partition size table overruns frame")
      parts = new Array[Bool](nParts)
      var pi = 0
      while (pi < nParts) {
        val sz =
          if (pi == nParts - 1) off + len - pAt
          else {
            val s = sizesAt + 3 * pi
            (data(s) & 0xFF) | ((data(s + 1) & 0xFF) << 8) | ((data(s + 2) & 0xFF) << 16)
          }
        require(sz >= 0 && pAt.toLong + sz <= off + len, s"vp8: token partition $pi overruns frame")
        parts(pi) = new Bool(data, pAt, pAt + sz)
        pAt += sz
        pi += 1
      }

      // sec 9.6: quantizer indices -> per-segment dequant factors (sec 14.1)
      val yacQi = hd.lit(7)
      val ydcDelta = hd.flagSLit(4)
      val y2dcDelta = hd.flagSLit(4)
      val y2acDelta = hd.flagSLit(4)
      val uvdcDelta = hd.flagSLit(4)
      val uvacDelta = hd.flagSLit(4)
      var s = 0
      while (s < 4) {
        val q =
          if (!segEnabled) yacQi
          else if (segAbsolute) segQuant(s)
          else yacQi + segQuant(s)
        val qc = math.max(0, math.min(127, q))
        dq(s)(0) = dcQ(qc + ydcDelta)
        dq(s)(1) = acQ(qc)
        dq(s)(2) = dcQ(qc + y2dcDelta) * 2
        dq(s)(3) = { val v = acQ(qc + y2acDelta) * 155 / 100; if (v < 8) 8 else v }
        dq(s)(4) = { val v = dcQ(qc + uvdcDelta); if (v > 132) 132 else v }
        dq(s)(5) = acQ(qc + uvacDelta)
        s += 1
      }

      // sec 9.7/9.8: refresh entropy (stateless for a still) + coefficient
      // probability updates (sec 13.4)
      hd.lit(1)
      coeffProbs = Vp8Tables.CoeffProbs.clone()
      var ci = 0
      while (ci < 1056) {
        if (hd.bool(Vp8Tables.CoeffUpdateProbs(ci) & 0xFF) == 1)
          coeffProbs(ci) = hd.lit(8).toByte
        ci += 1
      }

      // sec 9.10/9.11: per-MB skip coding
      useSkip = hd.lit(1) == 1
      if (useSkip) skipProb = hd.lit(8)
      require(hd.overrun == 0, "vp8: header truncated")
    }

    // --------------------------------------- prediction records (sec 11)

    private def parseModes(): Unit = {
      val aboveSub = new Array[Byte](mbW * 4) // init B_DC (=0)
      val leftSub = new Array[Byte](4)
      var my = 0
      while (my < mbH) {
        java.util.Arrays.fill(leftSub, 0.toByte)
        var mx = 0
        while (mx < mbW) {
          val mi = my * mbW + mx
          if (segUpdateMap) mbSeg(mi) = hd.tree(SegTree, segTreeProbs, 0).toByte
          if (useSkip) mbSkip(mi) = hd.bool(skipProb) == 1
          val ym = hd.tree(KfYModeTree, KfYModeProbs, 0)
          mbYMode(mi) = ym.toByte
          if (ym == B_PRED) {
            var sy = 0
            while (sy < 4) {
              var sx = 0
              while (sx < 4) {
                val above =
                  if (sy == 0) aboveSub(mx * 4 + sx)
                  else mbBModes(mi * 16 + (sy - 1) * 4 + sx)
                val left =
                  if (sx == 0) leftSub(sy)
                  else mbBModes(mi * 16 + sy * 4 + sx - 1)
                val m = hd.tree(BModeTree, Vp8Tables.KfBModeProbs,
                  ((above & 0xFF) * 10 + (left & 0xFF)) * 9)
                mbBModes(mi * 16 + sy * 4 + sx) = m.toByte
                sx += 1
              }
              sy += 1
            }
          } else {
            val sub = ModeAsSubmode(ym).toByte
            var k = 0
            while (k < 16) { mbBModes(mi * 16 + k) = sub; k += 1 }
          }
          var k = 0
          while (k < 4) {
            aboveSub(mx * 4 + k) = mbBModes(mi * 16 + 12 + k)
            leftSub(k) = mbBModes(mi * 16 + k * 4 + 3)
            k += 1
          }
          mbUvMode(mi) = hd.tree(UvModeTree, KfUvModeProbs, 0).toByte
          mx += 1
        }
        my += 1
      }
      require(hd.overrun == 0, "vp8: mode records truncated")
    }

    private def initBorders(): Unit = {
      java.util.Arrays.fill(Y, 0, yStride, 127.toByte)
      java.util.Arrays.fill(U, 0, cStride, 127.toByte)
      java.util.Arrays.fill(V, 0, cStride, 127.toByte)
      var r = 1
      while (r <= mbH * 16) { Y(r * yStride) = 129.toByte; r += 1 }
      r = 1
      while (r <= mbH * 8) { U(r * cStride) = 129.toByte; V(r * cStride) = 129.toByte; r += 1 }
    }

    // ----------------------------------------- tokens + transforms (sec 13/14)

    private val scratch = new Array[Int](16)
    private val dct = new Array[Int](16)

    /** Decode one 4x4 block's tokens into `out` (dequantized, raster
      * order); returns the EOB position (sec 13.3). */
    private def decodeBlock(bd: Bool, tpe: Int, first: Int, ctx0: Int,
                            dqDc: Int, dqAc: Int, out: Array[Int]): Int = {
      java.util.Arrays.fill(out, 0)
      var n = first
      var ctx = ctx0
      var prevZero = false
      while (n < 16) {
        val probOff = (tpe * 8 + Bands(n)) * 33 + ctx * 11
        val tok = bd.tree(CoeffTree, coeffProbs, probOff, start = if (prevZero) 2 else 0)
        if (tok == 0) return n // EOB
        if (tok == 1) { ctx = 0; prevZero = true; n += 1 }
        else {
          var v = 0
          if (tok <= 5) v = tok - 1
          else {
            val cat = tok - 6
            val probs = CatProbs(cat)
            var extra = 0
            var i = 0
            while (i < probs.length) { extra = (extra << 1) | bd.bool(probs(i)); i += 1 }
            v = CatBase(cat) + extra
          }
          ctx = if (v == 1) 1 else 2
          if (bd.bool(128) == 1) v = -v
          out(Zigzag(n)) = v * (if (n == 0) dqDc else dqAc)
          prevZero = false
          n += 1
        }
      }
      16
    }

    /** sec 14.3: exact integer inverse DCT of `in(inOff..+16)`; adds the
      * residual to the prediction already in `plane` at `base`. */
    private def idctAdd(in: Array[Int], inOff: Int, plane: Array[Byte],
                        base: Int, stride: Int): Unit = {
      var i = 0
      while (i < 4) {
        val i0 = in(inOff + i); val i4 = in(inOff + 4 + i)
        val i8 = in(inOff + 8 + i); val i12 = in(inOff + 12 + i)
        val a1 = i0 + i8
        val b1 = i0 - i8
        val c1 = ((i4 * 35468) >> 16) - (i12 + ((i12 * 20091) >> 16))
        val d1 = (i4 + ((i4 * 20091) >> 16)) + ((i12 * 35468) >> 16)
        dct(i) = a1 + d1; dct(12 + i) = a1 - d1
        dct(4 + i) = b1 + c1; dct(8 + i) = b1 - c1
        i += 1
      }
      i = 0
      while (i < 4) {
        val r4 = i * 4
        val a1 = dct(r4) + dct(r4 + 2)
        val b1 = dct(r4) - dct(r4 + 2)
        val c1 = ((dct(r4 + 1) * 35468) >> 16) - (dct(r4 + 3) + ((dct(r4 + 3) * 20091) >> 16))
        val d1 = (dct(r4 + 1) + ((dct(r4 + 1) * 20091) >> 16)) + ((dct(r4 + 3) * 35468) >> 16)
        val p = base + i * stride
        var x = (plane(p) & 0xFF) + ((a1 + d1 + 4) >> 3)
        plane(p) = (if (x < 0) 0 else if (x > 255) 255 else x).toByte
        x = (plane(p + 1) & 0xFF) + ((b1 + c1 + 4) >> 3)
        plane(p + 1) = (if (x < 0) 0 else if (x > 255) 255 else x).toByte
        x = (plane(p + 2) & 0xFF) + ((b1 - c1 + 4) >> 3)
        plane(p + 2) = (if (x < 0) 0 else if (x > 255) 255 else x).toByte
        x = (plane(p + 3) & 0xFF) + ((a1 - d1 + 4) >> 3)
        plane(p + 3) = (if (x < 0) 0 else if (x > 255) 255 else x).toByte
        i += 1
      }
    }

    /** sec 14.2: inverse Walsh-Hadamard of the Y2 block -> 16 luma DCs. */
    private def iwht(in: Array[Int], dcs: Array[Int]): Unit = {
      var i = 0
      while (i < 4) {
        val a1 = in(i) + in(12 + i)
        val b1 = in(4 + i) + in(8 + i)
        val c1 = in(4 + i) - in(8 + i)
        val d1 = in(i) - in(12 + i)
        dct(i) = a1 + b1; dct(4 + i) = c1 + d1
        dct(8 + i) = a1 - b1; dct(12 + i) = d1 - c1
        i += 1
      }
      i = 0
      while (i < 4) {
        val r4 = i * 4
        val a1 = dct(r4) + dct(r4 + 3)
        val b1 = dct(r4 + 1) + dct(r4 + 2)
        val c1 = dct(r4 + 1) - dct(r4 + 2)
        val d1 = dct(r4) - dct(r4 + 3)
        dcs(r4) = (a1 + b1 + 3) >> 3; dcs(r4 + 1) = (c1 + d1 + 3) >> 3
        dcs(r4 + 2) = (a1 - b1 + 3) >> 3; dcs(r4 + 3) = (d1 - c1 + 3) >> 3
        i += 1
      }
    }

    // ------------------------------------------------- predictors (sec 12)

    @inline private def clamp8(v: Int): Byte =
      (if (v < 0) 0 else if (v > 255) 255 else v).toByte

    /** Whole-block DC/V/H/TM at size n (16 luma / 8 chroma), sec 12.2.
      * Edge pixels come from the plane borders (127 above / 129 left); DC
      * averages only the sides that exist in-frame. */
    private def predictBlock(plane: Array[Byte], base: Int, stride: Int, n: Int,
                             mode: Int, hasAbove: Boolean, hasLeft: Boolean): Unit =
      mode match {
        case 0 => // DC
          var sum = 0; var cnt = 0
          if (hasAbove) {
            var i = 0
            while (i < n) { sum += plane(base - stride + i) & 0xFF; i += 1 }
            cnt += n
          }
          if (hasLeft) {
            var i = 0
            while (i < n) { sum += plane(base + i * stride - 1) & 0xFF; i += 1 }
            cnt += n
          }
          val dc = if (cnt == 0) 128 else (sum + cnt / 2) / cnt
          var r = 0
          while (r < n) {
            java.util.Arrays.fill(plane, base + r * stride, base + r * stride + n, dc.toByte)
            r += 1
          }
        case 1 => // V
          var r = 0
          while (r < n) {
            System.arraycopy(plane, base - stride, plane, base + r * stride, n)
            r += 1
          }
        case 2 => // H
          var r = 0
          while (r < n) {
            java.util.Arrays.fill(plane, base + r * stride, base + r * stride + n,
              plane(base + r * stride - 1))
            r += 1
          }
        case 3 => // TM
          val p = plane(base - stride - 1) & 0xFF
          var r = 0
          while (r < n) {
            val l = plane(base + r * stride - 1) & 0xFF
            var c = 0
            while (c < n) {
              plane(base + r * stride + c) = clamp8(l + (plane(base - stride + c) & 0xFF) - p)
              c += 1
            }
            r += 1
          }
      }

    /** The ten 4x4 B_PRED submodes (sec 12.3). `base` = subblock top-left;
      * `arOff` = plane offset of its 4 above-right pixels (callers apply
      * VP8's stale-above-right rule). Edge array e(0..8) spans
      * L3,L2,L1,L0,P,A0,A1,A2,A3 as in the spec's pseudo-code. */
    private val e = new Array[Int](13)
    private def predict4(plane: Array[Byte], base: Int, stride: Int, mode: Int,
                         arOff: Int): Unit = {
      e(0) = plane(base + 3 * stride - 1) & 0xFF
      e(1) = plane(base + 2 * stride - 1) & 0xFF
      e(2) = plane(base + stride - 1) & 0xFF
      e(3) = plane(base - 1) & 0xFF
      e(4) = plane(base - stride - 1) & 0xFF
      var i = 0
      while (i < 4) { e(5 + i) = plane(base - stride + i) & 0xFF; i += 1 }
      i = 0
      while (i < 4) { e(9 + i) = plane(arOff + i) & 0xFF; i += 1 }
      @inline def L(k: Int) = e(3 - k) // left pixels top-down
      @inline def A(k: Int) = e(5 + k) // above then above-right, k in 0..7
      @inline def P = e(4)
      @inline def avg3(a: Int, b: Int, c: Int) = (a + 2 * b + c + 2) >> 2
      @inline def avg2(a: Int, b: Int) = (a + b + 1) >> 1
      @inline def set(r: Int, c: Int, v: Int): Unit =
        plane(base + r * stride + c) = v.toByte
      mode match {
        case 0 => // B_DC: always all 8 neighbors (no edge variants)
          var sum = 4; var k = 0
          while (k < 4) { sum += A(k) + L(k); k += 1 }
          val dc = (sum >> 3).toByte
          var r = 0
          while (r < 4) {
            java.util.Arrays.fill(plane, base + r * stride, base + r * stride + 4, dc)
            r += 1
          }
        case 1 => // B_TM
          var r = 0
          while (r < 4) {
            var c = 0
            while (c < 4) {
              set(r, c, math.max(0, math.min(255, L(r) + A(c) - P))); c += 1
            }
            r += 1
          }
        case 2 => // B_VE: filtered above, constant per column
          val v0 = avg3(P, A(0), A(1)); val v1 = avg3(A(0), A(1), A(2))
          val v2 = avg3(A(1), A(2), A(3)); val v3 = avg3(A(2), A(3), A(4))
          var r = 0
          while (r < 4) { set(r, 0, v0); set(r, 1, v1); set(r, 2, v2); set(r, 3, v3); r += 1 }
        case 3 => // B_HE: filtered left, constant per row
          val h0 = avg3(P, L(0), L(1)); val h1 = avg3(L(0), L(1), L(2))
          val h2 = avg3(L(1), L(2), L(3)); val h3 = avg3(L(2), L(3), L(3))
          var c = 0
          while (c < 4) { set(0, c, h0); set(1, c, h1); set(2, c, h2); set(3, c, h3); c += 1 }
        case 4 => // B_LD: down-left diagonal over A0..A7
          var r = 0
          while (r < 4) {
            var c = 0
            while (c < 4) {
              val k = r + c
              set(r, c, if (k == 6) avg3(A(6), A(7), A(7)) else avg3(A(k), A(k + 1), A(k + 2)))
              c += 1
            }
            r += 1
          }
        case 5 => // B_RD: down-right over the edge array e(0..8)
          var r = 0
          while (r < 4) {
            var c = 0
            while (c < 4) { val m = c - r + 3; set(r, c, avg3(e(m), e(m + 1), e(m + 2))); c += 1 }
            r += 1
          }
        case 6 => // B_VR
          set(3, 0, avg3(e(1), e(2), e(3)))
          set(2, 0, avg3(e(2), e(3), e(4)))
          val x1 = avg3(e(3), e(4), e(5)); set(3, 1, x1); set(1, 0, x1)
          val x2 = avg2(e(4), e(5)); set(2, 1, x2); set(0, 0, x2)
          val x3 = avg3(e(4), e(5), e(6)); set(3, 2, x3); set(1, 1, x3)
          val x4 = avg2(e(5), e(6)); set(2, 2, x4); set(0, 1, x4)
          val x5 = avg3(e(5), e(6), e(7)); set(3, 3, x5); set(1, 2, x5)
          val x6 = avg2(e(6), e(7)); set(2, 3, x6); set(0, 2, x6)
          set(1, 3, avg3(e(6), e(7), e(8)))
          set(0, 3, avg2(e(7), e(8)))
        case 7 => // B_VL
          set(0, 0, avg2(A(0), A(1)))
          set(1, 0, avg3(A(0), A(1), A(2)))
          val x1 = avg2(A(1), A(2)); set(2, 0, x1); set(0, 1, x1)
          val x2 = avg3(A(1), A(2), A(3)); set(1, 1, x2); set(3, 0, x2)
          val x3 = avg2(A(2), A(3)); set(2, 1, x3); set(0, 2, x3)
          val x4 = avg3(A(2), A(3), A(4)); set(3, 1, x4); set(1, 2, x4)
          val x5 = avg2(A(3), A(4)); set(2, 2, x5); set(0, 3, x5)
          val x6 = avg3(A(3), A(4), A(5)); set(3, 2, x6); set(1, 3, x6)
          set(2, 3, avg3(A(4), A(5), A(6)))
          set(3, 3, avg3(A(5), A(6), A(7)))
        case 8 => // B_HD
          set(3, 0, avg2(e(0), e(1)))
          set(3, 1, avg3(e(0), e(1), e(2)))
          val x1 = avg2(e(1), e(2)); set(2, 0, x1); set(3, 2, x1)
          val x2 = avg3(e(1), e(2), e(3)); set(2, 1, x2); set(3, 3, x2)
          val x3 = avg2(e(2), e(3)); set(1, 0, x3); set(2, 2, x3)
          val x4 = avg3(e(2), e(3), e(4)); set(1, 1, x4); set(2, 3, x4)
          val x5 = avg2(e(3), e(4)); set(0, 0, x5); set(1, 2, x5)
          val x6 = avg3(e(3), e(4), e(5)); set(0, 1, x6); set(1, 3, x6)
          set(0, 2, avg3(e(4), e(5), e(6)))
          set(0, 3, avg3(e(5), e(6), e(7)))
        case 9 => // B_HU
          set(0, 0, avg2(L(0), L(1)))
          set(0, 1, avg3(L(0), L(1), L(2)))
          val x1 = avg2(L(1), L(2)); set(0, 2, x1); set(1, 0, x1)
          val x2 = avg3(L(1), L(2), L(3)); set(0, 3, x2); set(1, 1, x2)
          val x3 = avg2(L(2), L(3)); set(1, 2, x3); set(2, 0, x3)
          val x4 = avg3(L(2), L(3), L(3)); set(1, 3, x4); set(2, 1, x4)
          val l3 = L(3)
          set(2, 2, l3); set(2, 3, l3)
          set(3, 0, l3); set(3, 1, l3); set(3, 2, l3); set(3, 3, l3)
      }
    }

    // ------------------------------------------------ reconstruction pass

    private def reconstruct(): Unit = {
      // sec 13: nonzero contexts — above spans the frame, left is per-row
      val aboveNzY = new Array[Boolean](mbW * 4)
      val aboveNzU = new Array[Boolean](mbW * 2)
      val aboveNzV = new Array[Boolean](mbW * 2)
      val aboveNzY2 = new Array[Boolean](mbW)
      val leftNzY = new Array[Boolean](4)
      val leftNzU = new Array[Boolean](2)
      val leftNzV = new Array[Boolean](2)
      var leftNzY2 = false

      val yCoeffs = new Array[Int](16 * 16)
      val uCoeffs = new Array[Int](4 * 16)
      val vCoeffs = new Array[Int](4 * 16)
      val y2 = new Array[Int](16)
      val yDcs = new Array[Int](16)

      var my = 0
      while (my < mbH) {
        val bd = parts(my % parts.length)
        java.util.Arrays.fill(leftNzY, false)
        java.util.Arrays.fill(leftNzU, false)
        java.util.Arrays.fill(leftNzV, false)
        leftNzY2 = false
        var mx = 0
        while (mx < mbW) {
          val mi = my * mbW + mx
          val seg = mbSeg(mi) & 0xFF
          val isB = (mbYMode(mi) & 0xFF) == B_PRED
          val hasY2 = !isB
          var anyNz = false

          if (!mbSkip(mi)) {
            // Y2 (block type 1)
            if (hasY2) {
              val ctx = (if (leftNzY2) 1 else 0) + (if (aboveNzY2(mx)) 1 else 0)
              val eob = decodeBlock(bd, 1, 0, ctx, dq(seg)(2), dq(seg)(3), y2)
              val nz = eob > 0
              leftNzY2 = nz; aboveNzY2(mx) = nz
              if (nz) anyNz = true
            }
            // 16 luma blocks: type 0 starting at coeff 1 when Y2 present,
            // type 3 starting at 0 for B_PRED
            val yType = if (hasY2) 0 else 3
            val first = if (hasY2) 1 else 0
            var sb = 0
            while (sb < 16) {
              val sy = sb >> 2; val sx = sb & 3
              val ctx = (if (leftNzY(sy)) 1 else 0) + (if (aboveNzY(mx * 4 + sx)) 1 else 0)
              val eob = decodeBlock(bd, yType, first, ctx, dq(seg)(0), dq(seg)(1), scratch)
              val nz = eob > first
              leftNzY(sy) = nz; aboveNzY(mx * 4 + sx) = nz
              if (nz) anyNz = true
              System.arraycopy(scratch, 0, yCoeffs, sb * 16, 16)
              sb += 1
            }
            // 4 U then 4 V blocks (type 2)
            var pl = 0
            while (pl < 2) {
              val cc = if (pl == 0) uCoeffs else vCoeffs
              val lnz = if (pl == 0) leftNzU else leftNzV
              val anz = if (pl == 0) aboveNzU else aboveNzV
              var cb = 0
              while (cb < 4) {
                val sy = cb >> 1; val sx = cb & 1
                val ctx = (if (lnz(sy)) 1 else 0) + (if (anz(mx * 2 + sx)) 1 else 0)
                val eob = decodeBlock(bd, 2, 0, ctx, dq(seg)(4), dq(seg)(5), scratch)
                val nz = eob > 0
                lnz(sy) = nz; anz(mx * 2 + sx) = nz
                if (nz) anyNz = true
                System.arraycopy(scratch, 0, cc, cb * 16, 16)
                cb += 1
              }
              pl += 1
            }
          } else {
            // sec 13: a skipped MB zeroes its Y/U/V nonzero contexts; the
            // Y2 context is zeroed only when the MB HAS a Y2 block (B_PRED
            // MBs leave it untouched for the next Y2-carrying MB)
            java.util.Arrays.fill(yCoeffs, 0)
            java.util.Arrays.fill(uCoeffs, 0)
            java.util.Arrays.fill(vCoeffs, 0)
            java.util.Arrays.fill(y2, 0)
            java.util.Arrays.fill(leftNzY, false)
            java.util.Arrays.fill(leftNzU, false)
            java.util.Arrays.fill(leftNzV, false)
            var k = 0
            while (k < 4) { aboveNzY(mx * 4 + k) = false; k += 1 }
            aboveNzU(mx * 2) = false; aboveNzU(mx * 2 + 1) = false
            aboveNzV(mx * 2) = false; aboveNzV(mx * 2 + 1) = false
            if (hasY2) { leftNzY2 = false; aboveNzY2(mx) = false }
          }
          mbHasCoeffs(mi) = anyNz

          // Y2 -> luma DC values (sec 14.2)
          if (hasY2 && !mbSkip(mi)) {
            iwht(y2, yDcs)
            var k = 0
            while (k < 16) { yCoeffs(k * 16) = yDcs(k); k += 1 }
          }

          // ---- prediction + residual add
          val yBase = (1 + my * 16) * yStride + 1 + mx * 16
          val hasAbove = my > 0
          val hasLeft = mx > 0
          if (mx == mbW - 1) {
            // replicate the right border of the row above this MB so
            // B_PRED above-right reads past the frame edge see the
            // replicated last column (the top 127-border row already
            // extends across the right border)
            val edge = yBase - yStride + 15
            Y(edge + 1) = Y(edge); Y(edge + 2) = Y(edge)
            Y(edge + 3) = Y(edge); Y(edge + 4) = Y(edge)
          }
          if (!isB) {
            predictBlock(Y, yBase, yStride, 16, mbYMode(mi) & 0xFF, hasAbove, hasLeft)
            if (!mbSkip(mi)) {
              var sb = 0
              while (sb < 16) {
                idctAdd(yCoeffs, sb * 16, Y,
                  yBase + (sb >> 2) * 4 * yStride + (sb & 3) * 4, yStride)
                sb += 1
              }
            }
          } else {
            var sb = 0
            while (sb < 16) {
              val sy = sb >> 2; val sx = sb & 3
              val sbBase = yBase + sy * 4 * yStride + sx * 4
              // above-right: interior subblocks read their own above row
              // +4; right-column subblocks always read the row above the
              // whole MB (VP8's "stale above-right", sec 12.3)
              val ar = if (sx < 3) sbBase - yStride + 4 else yBase - yStride + 16
              predict4(Y, sbBase, yStride, mbBModes(mi * 16 + sb) & 0xFF, ar)
              if (!mbSkip(mi)) idctAdd(yCoeffs, sb * 16, Y, sbBase, yStride)
              sb += 1
            }
          }
          // chroma
          val cBase = (1 + my * 8) * cStride + 1 + mx * 8
          predictBlock(U, cBase, cStride, 8, mbUvMode(mi) & 0xFF, hasAbove, hasLeft)
          predictBlock(V, cBase, cStride, 8, mbUvMode(mi) & 0xFF, hasAbove, hasLeft)
          if (!mbSkip(mi)) {
            var cb = 0
            while (cb < 4) {
              val o = (cb >> 1) * 4 * cStride + (cb & 1) * 4
              idctAdd(uCoeffs, cb * 16, U, cBase + o, cStride)
              idctAdd(vCoeffs, cb * 16, V, cBase + o, cStride)
              cb += 1
            }
          }
          mx += 1
        }
        my += 1
      }
      var pi = 0
      while (pi < parts.length) {
        // <= 3, not <= 2: the prefetched-window renorm consumes up to one
        // byte EARLIER than the bit-at-a-time loader (ceil vs floor of
        // shifts/8), so a valid tight stream that ends exactly at the
        // decoder's 2-byte look-ahead can legitimately read overrun 3.
        require(parts(pi).overrun <= 3, s"vp8: token partition $pi truncated")
        pi += 1
      }
    }

    // ------------------------------------------------- loop filter (sec 15)

    @inline private def sclip(v: Int): Int =
      if (v < -128) -128 else if (v > 127) 127 else v
    @inline private def uclip(v: Int): Byte =
      (if (v < 0) 0 else if (v > 255) 255 else v).toByte

    /** Normal-filter applicability (sec 15.2): edge delta under the edge
      * limit AND all six interior steps under the interior limit. */
    private def filterYes(pl: Array[Byte], o: Int, s: Int, lim: Int, il: Int): Boolean = {
      val p3 = pl(o - 4 * s) & 0xFF; val p2 = pl(o - 3 * s) & 0xFF
      val p1 = pl(o - 2 * s) & 0xFF; val p0 = pl(o - s) & 0xFF
      val q0 = pl(o) & 0xFF; val q1 = pl(o + s) & 0xFF
      val q2 = pl(o + 2 * s) & 0xFF; val q3 = pl(o + 3 * s) & 0xFF
      math.abs(p0 - q0) * 2 + math.abs(p1 - q1) / 2 <= lim &&
        math.abs(p3 - p2) <= il && math.abs(p2 - p1) <= il && math.abs(p1 - p0) <= il &&
        math.abs(q3 - q2) <= il && math.abs(q2 - q1) <= il && math.abs(q1 - q0) <= il
    }

    private def hev(pl: Array[Byte], o: Int, s: Int, t: Int): Boolean =
      math.abs((pl(o - 2 * s) & 0xFF) - (pl(o - s) & 0xFF)) > t ||
        math.abs((pl(o + s) & 0xFF) - (pl(o) & 0xFF)) > t

    /** common_adjust with outer taps (sec 15.3): touches p0/q0 only. */
    private def filter2(pl: Array[Byte], o: Int, s: Int): Unit = {
      val p1 = pl(o - 2 * s) & 0xFF; val p0 = pl(o - s) & 0xFF
      val q0 = pl(o) & 0xFF; val q1 = pl(o + s) & 0xFF
      val a = sclip(sclip(p1 - q1) + 3 * (q0 - p0))
      val f1 = sclip(a + 4) >> 3
      val f2 = sclip(a + 3) >> 3
      pl(o) = uclip(q0 - f1)
      pl(o - s) = uclip(p0 + f2)
    }

    /** Subblock filter, non-hev branch (sec 15.3): no outer taps, and the
      * half-step also moves p1/q1. */
    private def filter4(pl: Array[Byte], o: Int, s: Int): Unit = {
      val p1 = pl(o - 2 * s) & 0xFF; val p0 = pl(o - s) & 0xFF
      val q0 = pl(o) & 0xFF; val q1 = pl(o + s) & 0xFF
      val a = sclip(3 * (q0 - p0))
      val f1 = sclip(a + 4) >> 3
      val f2 = sclip(a + 3) >> 3
      val a3 = (f1 + 1) >> 1
      pl(o) = uclip(q0 - f1)
      pl(o - s) = uclip(p0 + f2)
      pl(o + s) = uclip(q1 - a3)
      pl(o - 2 * s) = uclip(p1 + a3)
    }

    /** Macroblock-edge filter, non-hev branch (sec 15.3): wide 27/18/9
      * taps over three pixels each side. */
    private def filter6(pl: Array[Byte], o: Int, s: Int): Unit = {
      val p2 = pl(o - 3 * s) & 0xFF; val p1 = pl(o - 2 * s) & 0xFF
      val p0 = pl(o - s) & 0xFF; val q0 = pl(o) & 0xFF
      val q1 = pl(o + s) & 0xFF; val q2 = pl(o + 2 * s) & 0xFF
      val wv = sclip(sclip(p1 - q1) + 3 * (q0 - p0))
      val a0 = (27 * wv + 63) >> 7
      val a1 = (18 * wv + 63) >> 7
      val a2 = (9 * wv + 63) >> 7
      pl(o) = uclip(q0 - a0); pl(o - s) = uclip(p0 + a0)
      pl(o + s) = uclip(q1 - a1); pl(o - 2 * s) = uclip(p1 + a1)
      pl(o + 2 * s) = uclip(q2 - a2); pl(o - 3 * s) = uclip(p2 + a2)
    }

    /** One normal-filter edge: `s` steps across the edge, `line` along it.
      * Fused form of filterYes/hev/filter2/4/6 (same arithmetic, see those
      * for the spec mapping) loading each of the 8 edge pixels once —
      * the filter touches every pixel up to 4x otherwise and this loop is
      * a top-three profile entry. */
    private def normalEdge(pl: Array[Byte], base: Int, s: Int, line: Int, n: Int,
                           lim: Int, il: Int, hevT: Int, mbEdge: Boolean): Unit = {
      val s2 = 2 * s; val s3 = 3 * s; val s4 = 4 * s
      var i = 0
      while (i < n) {
        val o = base + i * line
        val p3 = pl(o - s4) & 0xFF; val p2 = pl(o - s3) & 0xFF
        val p1 = pl(o - s2) & 0xFF; val p0 = pl(o - s) & 0xFF
        val q0 = pl(o) & 0xFF; val q1 = pl(o + s) & 0xFF
        val q2 = pl(o + s2) & 0xFF; val q3 = pl(o + s3) & 0xFF
        val dp1p0 = math.abs(p1 - p0); val dq1q0 = math.abs(q1 - q0)
        if (math.abs(p0 - q0) * 2 + math.abs(p1 - q1) / 2 <= lim &&
          math.abs(p3 - p2) <= il && math.abs(p2 - p1) <= il && dp1p0 <= il &&
          math.abs(q3 - q2) <= il && math.abs(q2 - q1) <= il && dq1q0 <= il) {
          if (dp1p0 > hevT || dq1q0 > hevT) { // hev -> common_adjust w/ taps
            val a = sclip(sclip(p1 - q1) + 3 * (q0 - p0))
            pl(o) = uclip(q0 - (sclip(a + 4) >> 3))
            pl(o - s) = uclip(p0 + (sclip(a + 3) >> 3))
          } else if (mbEdge) { // wide 27/18/9 taps
            val wv = sclip(sclip(p1 - q1) + 3 * (q0 - p0))
            val a0 = (27 * wv + 63) >> 7
            val a1 = (18 * wv + 63) >> 7
            val a2 = (9 * wv + 63) >> 7
            pl(o) = uclip(q0 - a0); pl(o - s) = uclip(p0 + a0)
            pl(o + s) = uclip(q1 - a1); pl(o - s2) = uclip(p1 + a1)
            pl(o + s2) = uclip(q2 - a2); pl(o - s3) = uclip(p2 + a2)
          } else { // subblock non-hev: half-step moves p1/q1 too
            val a = sclip(3 * (q0 - p0))
            val f1 = sclip(a + 4) >> 3
            val a3 = (f1 + 1) >> 1
            pl(o) = uclip(q0 - f1)
            pl(o - s) = uclip(p0 + (sclip(a + 3) >> 3))
            pl(o + s) = uclip(q1 - a3)
            pl(o - s2) = uclip(p1 + a3)
          }
        }
        i += 1
      }
    }

    /** One simple-filter edge (sec 15.4): luma only, p0/q0 only. */
    private def simpleEdge(pl: Array[Byte], base: Int, s: Int, line: Int, n: Int,
                           lim: Int): Unit = {
      var i = 0
      while (i < n) {
        val o = base + i * line
        val p1 = pl(o - 2 * s) & 0xFF; val p0 = pl(o - s) & 0xFF
        val q0 = pl(o) & 0xFF; val q1 = pl(o + s) & 0xFF
        if (math.abs(p0 - q0) * 2 + math.abs(p1 - q1) / 2 <= lim) filter2(pl, o, s)
        i += 1
      }
    }

    private def loopFilter(): Unit = {
      var my = 0
      while (my < mbH) {
        var mx = 0
        while (mx < mbW) {
          val mi = my * mbW + mx
          val isB = (mbYMode(mi) & 0xFF) == B_PRED
          // sec 15.2 / 9.4: segment base level, then ref/mode deltas (a
          // keyframe MB is intra -> ref delta 0; mode delta 0 is B_PRED),
          // single clamp at the end
          var lvl =
            if (segEnabled) {
              if (segAbsolute) segLf(mbSeg(mi) & 0xFF)
              else filterLevel + segLf(mbSeg(mi) & 0xFF)
            } else filterLevel
          if (lfDeltaEnabled) {
            lvl += refLfDelta(0)
            if (isB) lvl += modeLfDelta(0)
          }
          if (lvl < 0) lvl = 0 else if (lvl > 63) lvl = 63
          if (lvl > 0) {
            var il = lvl
            if (sharpness > 0) {
              il >>= (if (sharpness > 4) 2 else 1)
              val cap = 9 - sharpness
              if (il > cap) il = cap
            }
            if (il < 1) il = 1
            val hevT = if (lvl >= 40) 2 else if (lvl >= 15) 1 else 0
            val mbLim = (lvl + 2) * 2 + il
            val subLim = lvl * 2 + il
            val inner = mbHasCoeffs(mi) || isB
            val yBase = (1 + my * 16) * yStride + 1 + mx * 16
            val cBase = (1 + my * 8) * cStride + 1 + mx * 8
            if (simpleFilter) {
              if (mx > 0) simpleEdge(Y, yBase, 1, yStride, 16, mbLim)
              if (inner) {
                simpleEdge(Y, yBase + 4, 1, yStride, 16, subLim)
                simpleEdge(Y, yBase + 8, 1, yStride, 16, subLim)
                simpleEdge(Y, yBase + 12, 1, yStride, 16, subLim)
              }
              if (my > 0) simpleEdge(Y, yBase, yStride, 1, 16, mbLim)
              if (inner) {
                simpleEdge(Y, yBase + 4 * yStride, yStride, 1, 16, subLim)
                simpleEdge(Y, yBase + 8 * yStride, yStride, 1, 16, subLim)
                simpleEdge(Y, yBase + 12 * yStride, yStride, 1, 16, subLim)
              }
            } else {
              if (mx > 0) {
                normalEdge(Y, yBase, 1, yStride, 16, mbLim, il, hevT, mbEdge = true)
                normalEdge(U, cBase, 1, cStride, 8, mbLim, il, hevT, mbEdge = true)
                normalEdge(V, cBase, 1, cStride, 8, mbLim, il, hevT, mbEdge = true)
              }
              if (inner) {
                normalEdge(Y, yBase + 4, 1, yStride, 16, subLim, il, hevT, mbEdge = false)
                normalEdge(Y, yBase + 8, 1, yStride, 16, subLim, il, hevT, mbEdge = false)
                normalEdge(Y, yBase + 12, 1, yStride, 16, subLim, il, hevT, mbEdge = false)
                normalEdge(U, cBase + 4, 1, cStride, 8, subLim, il, hevT, mbEdge = false)
                normalEdge(V, cBase + 4, 1, cStride, 8, subLim, il, hevT, mbEdge = false)
              }
              if (my > 0) {
                normalEdge(Y, yBase, yStride, 1, 16, mbLim, il, hevT, mbEdge = true)
                normalEdge(U, cBase, cStride, 1, 8, mbLim, il, hevT, mbEdge = true)
                normalEdge(V, cBase, cStride, 1, 8, mbLim, il, hevT, mbEdge = true)
              }
              if (inner) {
                normalEdge(Y, yBase + 4 * yStride, yStride, 1, 16, subLim, il, hevT, mbEdge = false)
                normalEdge(Y, yBase + 8 * yStride, yStride, 1, 16, subLim, il, hevT, mbEdge = false)
                normalEdge(Y, yBase + 12 * yStride, yStride, 1, 16, subLim, il, hevT, mbEdge = false)
                normalEdge(U, cBase + 4 * cStride, cStride, 1, 8, subLim, il, hevT, mbEdge = false)
                normalEdge(V, cBase + 4 * cStride, cStride, 1, 8, subLim, il, hevT, mbEdge = false)
              }
            }
          }
          mx += 1
        }
        my += 1
      }
    }
  }
}
