package graft.functions

/**
 * CCITT Group 3 / Group 4 fax codecs (public ITU-T T.4 and T.6 specs) —
 * the dominant bilevel compressions in scanned-document TIFF archives
 * (TIFF 6.0 compression 2 = T.4 1-D Modified Huffman with byte-aligned
 * rows, 3 = T.4 Group 3 with EOLs and optional 2-D lines, 4 = T.6
 * Group 4 MMR, pure 2-D). Integer, table-driven, from the spec tables —
 * the same discipline as the LZW/JPEG/WebP work: no platform decoder in
 * the signature path ([[ImageKernels.decodeTiff]] previously bailed all
 * three to ImageIO).
 *
 * Decoders return one byte per pixel (0 = white, 1 = black, the fax
 * convention — photometric mapping is the TIFF layer's job), or null on
 * any invalid bitstream (callers fall back / reject). Encoders exist for
 * fixtures and cross-validation: CcittSpec round-trips AND cross-decodes
 * against the JDK ImageIO TIFF plugin's CCITT implementation.
 *
 * Table sources: T.4 §2 (terminating + make-up code tables 1-3),
 * T.4 §2.2.1 / T.6 §2.2.4 (2-D vertical/horizontal/pass mode codes).
 */
object Ccitt {

  // ---------------------------------------------------------- code tables

  // (runLength, codeBits-as-string) — strings keep the tables reviewable
  // against the spec; parsed once into lookup maps at class-load.
  private val whiteTerm: Seq[(Int, String)] = Seq(
    0 -> "00110101", 1 -> "000111", 2 -> "0111", 3 -> "1000",
    4 -> "1011", 5 -> "1100", 6 -> "1110", 7 -> "1111",
    8 -> "10011", 9 -> "10100", 10 -> "00111", 11 -> "01000",
    12 -> "001000", 13 -> "000011", 14 -> "110100", 15 -> "110101",
    16 -> "101010", 17 -> "101011", 18 -> "0100111", 19 -> "0001100",
    20 -> "0001000", 21 -> "0010111", 22 -> "0000011", 23 -> "0000100",
    24 -> "0101000", 25 -> "0101011", 26 -> "0010011", 27 -> "0100100",
    28 -> "0011000", 29 -> "00000010", 30 -> "00000011", 31 -> "00011010",
    32 -> "00011011", 33 -> "00010010", 34 -> "00010011", 35 -> "00010100",
    36 -> "00010101", 37 -> "00010110", 38 -> "00010111", 39 -> "00101000",
    40 -> "00101001", 41 -> "00101010", 42 -> "00101011", 43 -> "00101100",
    44 -> "00101101", 45 -> "00000100", 46 -> "00000101", 47 -> "00001010",
    48 -> "00001011", 49 -> "01010010", 50 -> "01010011", 51 -> "01010100",
    52 -> "01010101", 53 -> "00100100", 54 -> "00100101", 55 -> "01011000",
    56 -> "01011001", 57 -> "01011010", 58 -> "01011011", 59 -> "01001010",
    60 -> "01001011", 61 -> "00110010", 62 -> "00110011", 63 -> "00110100")

  private val whiteMakeup: Seq[(Int, String)] = Seq(
    64 -> "11011", 128 -> "10010", 192 -> "010111", 256 -> "0110111",
    320 -> "00110110", 384 -> "00110111", 448 -> "01100100",
    512 -> "01100101", 576 -> "01101000", 640 -> "01100111",
    704 -> "011001100", 768 -> "011001101", 832 -> "011010010",
    896 -> "011010011", 960 -> "011010100", 1024 -> "011010101",
    1088 -> "011010110", 1152 -> "011010111", 1216 -> "011011000",
    1280 -> "011011001", 1344 -> "011011010", 1408 -> "011011011",
    1472 -> "010011000", 1536 -> "010011001", 1600 -> "010011010",
    1664 -> "011000", 1728 -> "010011011")

  private val blackTerm: Seq[(Int, String)] = Seq(
    0 -> "0000110111", 1 -> "010", 2 -> "11", 3 -> "10",
    4 -> "011", 5 -> "0011", 6 -> "0010", 7 -> "00011",
    8 -> "000101", 9 -> "000100", 10 -> "0000100", 11 -> "0000101",
    12 -> "0000111", 13 -> "00000100", 14 -> "00000111", 15 -> "000011000",
    16 -> "0000010111", 17 -> "0000011000", 18 -> "0000001000",
    19 -> "00001100111", 20 -> "00001101000", 21 -> "00001101100",
    22 -> "00000110111", 23 -> "00000101000", 24 -> "00000010111",
    25 -> "00000011000", 26 -> "000011001010", 27 -> "000011001011",
    28 -> "000011001100", 29 -> "000011001101", 30 -> "000001101000",
    31 -> "000001101001", 32 -> "000001101010", 33 -> "000001101011",
    34 -> "000011010010", 35 -> "000011010011", 36 -> "000011010100",
    37 -> "000011010101", 38 -> "000011010110", 39 -> "000011010111",
    40 -> "000001101100", 41 -> "000001101101", 42 -> "000011011010",
    43 -> "000011011011", 44 -> "000001010100", 45 -> "000001010101",
    46 -> "000001010110", 47 -> "000001010111", 48 -> "000001100100",
    49 -> "000001100101", 50 -> "000001010010", 51 -> "000001010011",
    52 -> "000000100100", 53 -> "000000110111", 54 -> "000000111000",
    55 -> "000000100111", 56 -> "000000101000", 57 -> "000001011000",
    58 -> "000001011001", 59 -> "000000101011", 60 -> "000000101100",
    61 -> "000001011010", 62 -> "000001100110", 63 -> "000001100111")

  private val blackMakeup: Seq[(Int, String)] = Seq(
    64 -> "0000001111", 128 -> "000011001000", 192 -> "000011001001",
    256 -> "000001011011", 320 -> "000000110011", 384 -> "000000110100",
    448 -> "000000110101", 512 -> "0000001101100", 576 -> "0000001101101",
    640 -> "0000001001010", 704 -> "0000001001011", 768 -> "0000001001100",
    832 -> "0000001001101", 896 -> "0000001110010", 960 -> "0000001110011",
    1024 -> "0000001110100", 1088 -> "0000001110101", 1152 -> "0000001110110",
    1216 -> "0000001110111", 1280 -> "0000001010010", 1344 -> "0000001010011",
    1408 -> "0000001010100", 1472 -> "0000001010101", 1536 -> "0000001011010",
    1600 -> "0000001011011", 1664 -> "0000001100100", 1728 -> "0000001100101")

  // extended make-ups (T.4 Table 3), shared by both colours
  private val extMakeup: Seq[(Int, String)] = Seq(
    1792 -> "00000001000", 1856 -> "00000001100", 1920 -> "00000001101",
    1984 -> "000000010010", 2048 -> "000000010011", 2112 -> "000000010100",
    2176 -> "000000010101", 2240 -> "000000010110", 2304 -> "000000010111",
    2368 -> "000000011100", 2432 -> "000000011101", 2496 -> "000000011110",
    2560 -> "000000011111")

  private def key(code: Int, len: Int): Int = (len << 16) | code

  private def toMap(tables: Seq[(Int, String)]*): java.util.HashMap[Integer, Integer] = {
    val m = new java.util.HashMap[Integer, Integer]()
    tables.flatten.foreach { case (run, bits) =>
      m.put(key(Integer.parseInt(bits, 2), bits.length), run)
    }
    m
  }

  private val whiteMap = toMap(whiteTerm, whiteMakeup, extMakeup)
  private val blackMap = toMap(blackTerm, blackMakeup, extMakeup)

  // encoder-side: run -> (code, len)
  private def toEnc(tables: Seq[(Int, String)]*): java.util.HashMap[Integer, Integer] = {
    val m = new java.util.HashMap[Integer, Integer]()
    tables.flatten.foreach { case (run, bits) =>
      m.put(run, key(Integer.parseInt(bits, 2), bits.length))
    }
    m
  }
  private val whiteEnc = toEnc(whiteTerm, whiteMakeup, extMakeup)
  private val blackEnc = toEnc(blackTerm, blackMakeup, extMakeup)

  private final val MaxCodeLen = 14

  // ------------------------------------------------------------- bit I/O

  private final class Reader(b: Array[Byte]) {
    var pos = 0
    val nbits: Int = b.length * 8
    def bit(): Int = {
      if (pos >= nbits) return -1
      val v = (b(pos >> 3) >> (7 - (pos & 7))) & 1
      pos += 1
      v
    }
    def align(): Unit = pos = (pos + 7) & ~7
  }

  private final class Writer {
    private val out = new java.io.ByteArrayOutputStream()
    private var acc = 0
    private var n = 0
    def put(code: Int, len: Int): Unit = {
      var i = len - 1
      while (i >= 0) {
        acc = (acc << 1) | ((code >> i) & 1)
        n += 1
        if (n == 8) { out.write(acc); acc = 0; n = 0 }
        i -= 1
      }
    }
    def putStr(bits: String): Unit = put(Integer.parseInt(bits, 2), bits.length)
    def align(): Unit = if (n > 0) { out.write(acc << (8 - n)); acc = 0; n = 0 }
    def bytes(): Array[Byte] = { align(); out.toByteArray }
  }

  // ------------------------------------------------------------ decoding

  /** One T.4 code of the given colour: run length, RunEol, or RunBad. */
  private final val RunEol = -2
  private final val RunBad = -1

  private def readCode(r: Reader, white: Boolean): Int = {
    val m = if (white) whiteMap else blackMap
    var code = 0
    var len = 0
    while (len < MaxCodeLen) {
      val b = r.bit()
      if (b < 0) return if (code == 0) RunEol else RunBad // zero-fill tail
      code = (code << 1) | b
      len += 1
      if (code == 1 && len == 12) return RunEol // 000000000001
      // EOLs may carry fill: any all-zero prefix longer than 11 keeps
      // reading until the 1 arrives
      if (code == 0 && len == MaxCodeLen) {
        var guard = r.nbits - r.pos
        while (guard > 0) { val x = r.bit(); if (x < 0) return RunEol; if (x == 1) return RunEol; guard -= 1 }
        return RunEol
      }
      val hit = m.get(key(code, len))
      if (hit != null) return hit.intValue()
    }
    RunBad
  }

  /** Total run of one colour (make-ups + terminating). */
  private def readRun(r: Reader, white: Boolean): Int = {
    var total = 0
    var guard = 0
    while (guard < 64) {
      val c = readCode(r, white)
      if (c < 0) return c
      total += c
      if (c < 64 || c % 64 != 0) return total // terminating code ends the run
      guard += 1 // make-up: same-colour continuation follows
    }
    RunBad
  }

  /** Decode one 1-D (MH) row into `row` (0/1 bytes). */
  private def decode1D(r: Reader, row: Array[Byte], w: Int): Boolean = {
    var x = 0
    var white = true
    while (x < w) {
      val run = readRun(r, white)
      if (run < 0 || x + run > w) return false
      if (!white) java.util.Arrays.fill(row, x, x + run, 1.toByte)
      else java.util.Arrays.fill(row, x, x + run, 0.toByte)
      x += run
      white = !white
    }
    x == w
  }

  /** Changing elements of a 0/1 row: positions where colour differs from
    * the previous pixel (row starts imaginary-white). Terminated by two
    * sentinel `w`s so b2 lookups never overrun. */
  private def changesOf(row: Array[Byte], w: Int, out: Array[Int]): Int = {
    var n = 0
    var prev: Byte = 0
    var x = 0
    while (x < w) {
      if (row(x) != prev) { out(n) = x; n += 1; prev = row(x) }
      x += 1
    }
    out(n) = w
    out(n + 1) = w
    n
  }

  /** Decode one 2-D row against the reference row's changing elements.
    * refChanges has refN entries + sentinels. Returns false on error. */
  private def decode2D(r: Reader, row: Array[Byte], w: Int,
                       refChanges: Array[Int], refN: Int): Boolean = {
    java.util.Arrays.fill(row, 0, w, 0.toByte)
    var a0 = -1
    var white = true
    var ri0 = 0 // first ref change > a0 — a0 is monotone within a row, so
                // this pointer only advances: O(row) total, not O(row²)
    var guard = 0
    while (a0 < w && guard <= 2 * w + 8) {
      guard += 1
      // b1: first changing element on the reference line to the right of
      // a0 with OPPOSITE colour to a0's colour. Changes alternate starting
      // white->black at even indices, so white current colour wants an
      // EVEN index, black wants ODD — at most one step past ri0.
      while (ri0 < refN && refChanges(ri0) <= a0) ri0 += 1
      val wantParity = if (white) 0 else 1
      val ri = if (ri0 >= refN || (ri0 & 1) == wantParity) ri0 else ri0 + 1
      val b1 = if (ri < refN) refChanges(ri) else w
      val b2 = if (ri + 1 < refN) refChanges(ri + 1) else w
      // read a mode code
      val m1 = r.bit()
      if (m1 < 0) return false // bits exhausted with the row incomplete
      if (m1 == 1) { // V0: 1
        val a1 = b1
        if (a1 < a0.max(0) || a1 > w) return false
        if (!white) java.util.Arrays.fill(row, a0.max(0), a1, 1.toByte)
        a0 = a1
        white = !white
      } else {
        val m2 = r.bit()
        if (m2 < 0) return false
        if (m2 == 1) { // 01x: VL1 (010) / VR1 (011)
          val m3 = r.bit()
          if (m3 < 0) return false
          val a1 = if (m3 == 1) b1 + 1 else b1 - 1
          if (a1 < a0.max(0) || a1 > w) return false
          if (!white) java.util.Arrays.fill(row, a0.max(0), a1, 1.toByte)
          a0 = a1
          white = !white
        } else {
          val m3 = r.bit()
          if (m3 < 0) return false
          if (m3 == 1) { // 001: horizontal — two explicit runs
            val start = if (a0 < 0) 0 else a0
            val r1 = readRun(r, white)
            if (r1 < 0) return false
            val r2 = readRun(r, !white)
            if (r2 < 0) return false
            if (start + r1 + r2 > w) return false
            if (!white) java.util.Arrays.fill(row, start, start + r1, 1.toByte)
            else java.util.Arrays.fill(row, start + r1, start + r1 + r2, 1.toByte)
            a0 = start + r1 + r2
            // colour unchanged: both runs consumed
          } else {
            val m4 = r.bit()
            if (m4 < 0) return false
            if (m4 == 1) { // 0001: pass
              if (b2 < a0.max(0) || b2 > w) return false
              if (!white) java.util.Arrays.fill(row, a0.max(0), b2, 1.toByte)
              a0 = b2
            } else { // 00001x / 000001x: VR2/VR3/VL2/VL3 or EOL/ext
              val m5 = r.bit()
              if (m5 < 0) return false
              if (m5 == 1) { // 00001x: x=1 VR2 (000011), x=0 VL2 (000010)
                val m6 = r.bit()
                if (m6 < 0) return false
                val a1 = if (m6 == 1) b1 + 2 else b1 - 2
                if (a1 < a0.max(0) || a1 > w) return false
                if (!white) java.util.Arrays.fill(row, a0.max(0), a1, 1.toByte)
                a0 = a1
                white = !white
              } else {
                val m6 = r.bit()
                if (m6 < 0) return false
                if (m6 == 1) { // 000001x: x=1 VR3, x=0 VL3
                  val m7 = r.bit()
                  if (m7 < 0) return false
                  val a1 = if (m7 == 1) b1 + 3 else b1 - 3
                  if (a1 < a0.max(0) || a1 > w) return false
                  if (!white) java.util.Arrays.fill(row, a0.max(0), a1, 1.toByte)
                  a0 = a1
                  white = !white
                } else {
                  // 0000001+: extension (uncompressed mode) — unsupported;
                  // 000000000001 (EOL/EOFB) where a row was expected:
                  // premature end — reject either way, callers fall back
                  return false
                }
              }
            }
          }
        }
      }
    }
    a0 >= w
  }

  /** Consume fill bits + one EOL if present at the reader position.
    * Returns 1 = EOL consumed, 0 = no EOL here, -1 = bad stream. */
  private def tryEol(r: Reader): Int = {
    val start = r.pos
    var zeros = 0
    var b = r.bit()
    while (b == 0) { zeros += 1; b = r.bit() }
    if (b == 1 && zeros >= 11) 1
    else { r.pos = start; 0 }
  }

  // ------------------------------------------------------- public decode

  /** Compression 2: T.4 1-D MH, every row byte-aligned, no EOLs. */
  def decodeMH(data: Array[Byte], w: Int, h: Int): Array[Byte] = {
    if (w <= 0 || h <= 0) return null
    val out = new Array[Byte](w * h)
    val r = new Reader(data)
    val row = new Array[Byte](w)
    var y = 0
    while (y < h) {
      java.util.Arrays.fill(row, 0.toByte)
      if (!decode1D(r, row, w)) return null
      System.arraycopy(row, 0, out, y * w, w)
      r.align()
      y += 1
    }
    out
  }

  /** Compression 3: T.4 Group 3 — EOL-framed rows; 2-D lines when
    * `twoDim` (T4Options bit 0). */
  def decodeG3(data: Array[Byte], w: Int, h: Int, twoDim: Boolean): Array[Byte] = {
    if (w <= 0 || h <= 0) return null
    val out = new Array[Byte](w * h)
    val r = new Reader(data)
    val row = new Array[Byte](w)
    val ref = new Array[Byte](w) // previous row for 2-D lines
    val refChanges = new Array[Int](w + 2)
    var refN = 0
    var y = 0
    while (y < h) {
      val e = tryEol(r)
      if (e < 0) return null
      val is1D =
        if (!twoDim) true
        else if (e == 1) { val t = r.bit(); if (t < 0) return null; t == 1 }
        else true // no EOL before the first row: writers may omit; 1-D line
      java.util.Arrays.fill(row, 0.toByte)
      val ok =
        if (is1D) decode1D(r, row, w)
        else decode2D(r, row, w, refChanges, refN)
      if (!ok) return null
      System.arraycopy(row, 0, out, y * w, w)
      System.arraycopy(row, 0, ref, 0, w)
      refN = changesOf(ref, w, refChanges)
      y += 1
    }
    out
  }

  /** Compression 4: T.6 Group 4 MMR — all rows 2-D, imaginary white
    * reference line above the first row, optional EOFB tail. */
  def decodeG4(data: Array[Byte], w: Int, h: Int): Array[Byte] = {
    if (w <= 0 || h <= 0) return null
    val out = new Array[Byte](w * h)
    val r = new Reader(data)
    val row = new Array[Byte](w)
    val refChanges = new Array[Int](w + 2)
    refChanges(0) = w
    refChanges(1) = w
    var refN = 0
    var y = 0
    while (y < h) {
      if (!decode2D(r, row, w, refChanges, refN)) return null
      System.arraycopy(row, 0, out, y * w, w)
      refN = changesOf(row, w, refChanges)
      y += 1
    }
    out
  }

  // ------------------------------------------------------------ encoding

  private def putRun(wr: Writer, run0: Int, white: Boolean): Unit = {
    var run = run0
    val enc = if (white) whiteEnc else blackEnc
    // key packs (len << 16) | code — unpack as (code, len)
    def emit(k: Integer): Unit = wr.put(k & 0xFFFF, k >> 16)
    // multiple max make-ups for very long runs
    while (run > 2560 + 63) { emit(enc.get(2560)); run -= 2560 }
    if (run >= 64) {
      val mk = (run / 64) * 64
      emit(enc.get(mk))
      run -= mk
    }
    emit(enc.get(run))
  }

  private def encode1DRow(wr: Writer, row: Array[Byte], w: Int): Unit = {
    var x = 0
    var white = true
    while (x < w) {
      var e = x
      val want: Byte = if (white) 0 else 1
      while (e < w && row(e) == want) e += 1
      putRun(wr, e - x, white)
      x = e
      white = !white
    }
    // a row ending on a white->black boundary with zero-length runs is
    // handled naturally: zero runs have codes in both tables
    if (w == 0) putRun(wr, 0, white)
  }

  /** Compression 2 encoder: byte-aligned MH rows. `bits` = 0/1 bytes. */
  def encodeMH(bits: Array[Byte], w: Int, h: Int): Array[Byte] = {
    val wr = new Writer
    var y = 0
    while (y < h) {
      val row = java.util.Arrays.copyOfRange(bits, y * w, y * w + w)
      encode1DRow(wr, row, w)
      wr.align()
      y += 1
    }
    wr.bytes()
  }

  /** Compression 3 encoder: EOL before every row. 1-D mode by default;
    * `twoDim` writes T.4 2-D (T4Options bit 0) with the standard
    * K-factor discipline — a 1-D line every K rows (here K = 4, a common
    * fax setting), 2-D lines against the previous row between, each EOL
    * followed by the 1/0 tag bit. */
  def encodeG3(bits: Array[Byte], w: Int, h: Int, twoDim: Boolean = false): Array[Byte] = {
    val wr = new Writer
    val refChanges = new Array[Int](w + 2)
    refChanges(0) = w; refChanges(1) = w
    var refN = 0
    val curChanges = new Array[Int](w + 2)
    var y = 0
    while (y < h) {
      wr.putStr("000000000001")
      val row = java.util.Arrays.copyOfRange(bits, y * w, y * w + w)
      val oneD = !twoDim || y % 4 == 0
      if (twoDim) wr.put(if (oneD) 1 else 0, 1) // tag bit after the EOL
      if (oneD) encode1DRow(wr, row, w)
      else {
        val curN = changesOf(row, w, curChanges)
        encode2DRow(wr, row, w, refChanges, refN, curChanges, curN)
      }
      refN = changesOf(row, w, refChanges)
      y += 1
    }
    // RTC: six EOLs (each tag-bitted 1 in 2-D mode per T.4 §4.2.1.3)
    (1 to 6).foreach { _ =>
      wr.putStr("000000000001")
      if (twoDim) wr.put(1, 1)
    }
    wr.bytes()
  }

  /** One 2-D-coded row (pass/vertical/horizontal modes) against the
    * reference line's changing elements — shared by G4 and 2-D G3. */
  private def encode2DRow(wr: Writer, row: Array[Byte], w: Int,
                          refChanges: Array[Int], refN: Int,
                          curChanges: Array[Int], curN: Int): Unit = {
    var a0 = -1
    var white = true
    var ci0 = 0
    var ri0 = 0
    while (a0 < w) {
      while (ci0 < curN && curChanges(ci0) <= a0) ci0 += 1
      val a1 = if (ci0 < curN) curChanges(ci0) else w
      val a2 = if (ci0 + 1 < curN) curChanges(ci0 + 1) else w
      while (ri0 < refN && refChanges(ri0) <= a0) ri0 += 1
      val wantParity = if (white) 0 else 1
      val ri = if (ri0 >= refN || (ri0 & 1) == wantParity) ri0 else ri0 + 1
      val b1 = if (ri < refN) refChanges(ri) else w
      val b2 = if (ri + 1 < refN) refChanges(ri + 1) else w
      if (b2 < a1) {
        wr.putStr("0001") // pass
        a0 = b2
      } else if (math.abs(a1 - b1) <= 3) {
        (a1 - b1) match {
          case 0 => wr.putStr("1")
          case 1 => wr.putStr("011")
          case 2 => wr.putStr("000011")
          case 3 => wr.putStr("0000011")
          case -1 => wr.putStr("010")
          case -2 => wr.putStr("000010")
          case -3 => wr.putStr("0000010")
        }
        a0 = a1
        white = !white
      } else {
        wr.putStr("001") // horizontal
        val start = if (a0 < 0) 0 else a0
        putRun(wr, a1 - start, white)
        putRun(wr, a2 - a1, !white)
        a0 = a2
      }
    }
  }

  /** Compression 4 (T.6) encoder: every row 2-D, imaginary white first
    * reference line, EOFB tail. */
  def encodeG4(bits: Array[Byte], w: Int, h: Int): Array[Byte] = {
    val wr = new Writer
    val refChanges = new Array[Int](w + 2)
    refChanges(0) = w; refChanges(1) = w
    var refN = 0
    val curChanges = new Array[Int](w + 2)
    var y = 0
    while (y < h) {
      val row = java.util.Arrays.copyOfRange(bits, y * w, y * w + w)
      val curN = changesOf(row, w, curChanges)
      encode2DRow(wr, row, w, refChanges, refN, curChanges, curN)
      System.arraycopy(curChanges, 0, refChanges, 0, curN + 2)
      refN = curN
      y += 1
    }
    // EOFB
    wr.putStr("000000000001")
    wr.putStr("000000000001")
    wr.bytes()
  }
}
