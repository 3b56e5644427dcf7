package graft.functions

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.unsafe.types.UTF8String

/**
 * Image kernels for multimodal corpus curation: native header parsers
 * (format/width/height/EXIF-orientation from public byte layouts — no
 * pixel decode on the metadata path, which matters when the pass is a
 * 100 TB scan), native pixel decoders for the deterministic formats
 * (BMP BI_RGB, PNG gray/RGB/RGBA non-interlaced, GIF LZW), and the
 * perceptual hashes (aHash / dHash / pHash-DCT) every image near-dedup
 * pipeline keys on.
 *
 * Every method is a static-call target for the codegen'd Catalyst
 * expressions in [[graft.expressions]] (the TextHashKernels pattern), so
 * header parse and hashing fuse into whole-stage codegen with no
 * Dataset-encoder boundary.
 *
 * Determinism: decode + hash arithmetic is all-integer except the pHash
 * DCT, which uses `StrictMath.cos` (exactly-specified fdlibm results, the
 * same bits on every JVM/platform) — signatures are reproducible across
 * clusters, which the band-join dedup relies on. JPEG (the dominant crawl
 * format) decodes natively via [[Jpeg.decode]] with the same all-integer
 * discipline — baseline-sequential SOF0/SOF1 AND progressive SOF2; only
 * the exotic remainder (arithmetic coding, lossless, 12-bit) falls back
 * to javax.imageio, whose hashes are NOT bit-stable across JVM vendors —
 * pipelines needing stable hashes for those transcode first.
 *
 * Byte layouts follow the public specs: BMP BITMAPINFOHEADER (Windows
 * API docs), PNG (RFC 2083 / W3C PNG), GIF87a/89a (CompuServe spec),
 * JPEG JFIF/EXIF (ITU T.81 §B, EXIF 2.3 tag 0x0112).
 */
object ImageKernels {

  // ======================================================= header parsing

  /** struct(format, width, height, orientation) without pixel decode.
    * Unknown/corrupt payloads → (null, 0, 0, 0); orientation is the EXIF
    * tag when present (JPEG), else 0. */
  def imageMetaRow(bytes: Array[Byte]): GenericInternalRow = {
    val m = imageMeta(bytes)
    new GenericInternalRow(Array[Any](
      if (m == null) null else UTF8String.fromString(m._1),
      if (m == null) 0 else m._2,
      if (m == null) 0 else m._3,
      if (m == null) 0 else m._4))
  }

  /** (format, width, height, orientation) or null when unrecognized. */
  def imageMeta(b: Array[Byte]): (String, Int, Int, Int) = {
    if (b == null || b.length < 10) return null
    if ((b(0) & 0xFF) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G') {
      if (b.length < 24) return null
      ("png", be32(b, 16), be32(b, 20), 0)
    } else if (b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8' &&
      (b(4) == '7' || b(4) == '9') && b(5) == 'a') {
      ("gif", le16(b, 6), le16(b, 8), 0)
    } else if (b(0) == 'B' && b(1) == 'M') {
      if (b.length < 26) return null
      // height may be negative (top-down rows); dimensions are the abs
      ("bmp", math.abs(le32(b, 18)), math.abs(le32(b, 22)), 0)
    } else if ((b(0) & 0xFF) == 0xFF && (b(1) & 0xFF) == 0xD8) {
      jpegMeta(b)
    } else if ((b(0) == 'I' && b(1) == 'I' && b(2) == 42 && b(3) == 0) ||
      (b(0) == 'M' && b(1) == 'M' && b(2) == 0 && b(3) == 42)) {
      tiffMeta(b)
    } else if (b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
      b.length >= 16 && b(8) == 'W' && b(9) == 'E' && b(10) == 'B' && b(11) == 'P') {
      webpMeta(b)
    } else if (b.length >= 16 && b(4) == 'f' && b(5) == 't' &&
      b(6) == 'y' && b(7) == 'p') {
      heifMeta(b)
    } else null
  }

  /** HEIF-family brand of an ftyp box: "avif" / "heic" for the codec
    * brands, "heif" for the generic mif1/msf1 structural brands, null
    * for every non-HEIF brand set (plain MP4 video stays with the
    * video tier). Major, then compatible brands. */
  private def heifBrand(b: Array[Byte]): String = {
    val sz = be32(b, 0)
    if (sz < 16 || sz > b.length) return null
    var generic: String = null
    var p = 8
    while (p + 4 <= sz) {
      if (p != 12) { // 12..15 is minor_version, not a brand
        val brand = new String(b, p, 4, "US-ASCII")
        brand match {
          case "avif" | "avis" => return "avif"
          case "heic" | "heix" | "heim" | "heis" | "hevc" | "hevx" =>
            return "heic"
          case "mif1" | "msf1" => generic = "heif"
          case _ => ()
        }
      }
      p += 4
    }
    generic
  }

  /** AVIF/HEIC still images (ISO-BMFF 14496-12 clause 8.11 + HEIF
    * 23008-12 clause 6): after the ftyp brand gates, meta/pitm/iprp
    * {ipco,ipma} resolve the PRIMARY item's spatial extents (ispe) and
    * its codec-config box (av1C → avif, hvcC → heic) — a thumbnail
    * item's ispe must NOT win. Metadata only: AV1/HEVC sample decode
    * is a documented non-goal (normative coefficient tables with no
    * validation path in this environment); this walk makes the files
    * VISIBLE to image_meta with real dimensions and a codec-bearing
    * format instead of null rows — the diagnosability contract the
    * video tier already keeps for avc1/high-cabac. Pure box grammar,
    * no codec tables. Totality: bounds-checked, capped property count,
    * null on any malformed structure. */
  private def heifMeta(b: Array[Byte]): (String, Int, Int, Int) = {
    val brand = heifBrand(b)
    if (brand == null) return null
    // locate the top-level meta box (unsigned 32-bit sizes as Long so
    // hostile sizes can't wrap the walk negative)
    @inline def usz(p: Int): Long = be32(b, p).toLong & 0xFFFFFFFFL
    var metaD = -1; var metaE = -1
    var p = 0
    while (p + 8 <= b.length && metaD < 0) {
      val sz = usz(p)
      if (sz < 8 || p + sz > b.length) return null
      if (b(p + 4) == 'm' && b(p + 5) == 'e' && b(p + 6) == 't' && b(p + 7) == 'a') {
        metaD = p + 12 // FullBox: skip version/flags
        metaE = (p + sz).toInt
      }
      p += sz.toInt
    }
    if (metaD < 0) return null
    // children of interest inside meta
    var primaryItem = -1L
    var ipcoD = -1; var ipcoE = -1
    var ipmaD = -1; var ipmaE = -1
    def walkMeta(start: Int, end: Int): Unit = {
      var q = start
      while (q + 8 <= end) {
        val sz = usz(q)
        if (sz < 8 || q + sz > end) return
        val typ = new String(b, q + 4, 4, "US-ASCII")
        val d = q + 8
        typ match {
          case "pitm" if sz >= 14 =>
            val v = b(d) & 0xFF
            primaryItem =
              if (v == 0) ((b(d + 4) & 0xFFL) << 8) | (b(d + 5) & 0xFFL)
              else if (sz >= 16) be32(b, d + 4)
              else -1L
          case "iprp" => walkMeta(d, (q + sz).toInt)
          case "ipco" => ipcoD = d; ipcoE = (q + sz).toInt
          case "ipma" => ipmaD = d; ipmaE = (q + sz).toInt
          case _ => ()
        }
        q += sz.toInt
      }
    }
    walkMeta(metaD, metaE)
    if (ipcoD < 0) return null
    // ipco children, in declaration order (property indices are 1-based)
    val propTyp = scala.collection.mutable.ArrayBuffer.empty[String]
    val propOff = scala.collection.mutable.ArrayBuffer.empty[Int]
    var q = ipcoD
    while (q + 8 <= ipcoE && propTyp.length < 256) {
      val sz = usz(q)
      if (sz < 8 || q + sz > ipcoE) return null
      propTyp += new String(b, q + 4, 4, "US-ASCII")
      propOff += q + 8
      q += sz.toInt
    }
    // the primary item's property indices via ipma; fall back to "all"
    // when pitm/ipma are absent (single-item files)
    var indices: Seq[Int] = propTyp.indices.map(_ + 1)
    if (primaryItem > 0 && ipmaD >= 0 && ipmaD + 8 <= ipmaE) {
      val v = b(ipmaD) & 0xFF
      val wide = (b(ipmaD + 3) & 1) != 0 // flags bit 0: 15-bit indices
      val n = be32(b, ipmaD + 4).toInt
      var e = ipmaD + 8
      var i = 0
      var found = false
      while (i < n && !found && e < ipmaE) {
        val itemId =
          if (v < 1) { if (e + 2 > ipmaE) return null else ((b(e) & 0xFFL) << 8) | (b(e + 1) & 0xFFL) }
          else { if (e + 4 > ipmaE) return null else be32(b, e) }
        e += (if (v < 1) 2 else 4)
        if (e >= ipmaE) return null
        val ac = b(e) & 0xFF
        e += 1
        val mine = itemId == primaryItem
        val idx = scala.collection.mutable.ArrayBuffer.empty[Int]
        var k = 0
        while (k < ac) {
          if (wide) {
            if (e + 2 > ipmaE) return null
            idx += ((b(e) & 0x7F) << 8) | (b(e + 1) & 0xFF)
            e += 2
          } else {
            if (e + 1 > ipmaE) return null
            idx += b(e) & 0x7F
            e += 1
          }
          k += 1
        }
        if (mine) { indices = idx.toSeq; found = true }
        i += 1
      }
    }
    var w = 0; var h = 0
    var codec: String = null
    indices.foreach { ix =>
      if (ix >= 1 && ix <= propTyp.length) {
        val t = propTyp(ix - 1)
        val d = propOff(ix - 1)
        if (t == "ispe" && w == 0 && d + 12 <= ipcoE) {
          w = be32(b, d + 4); h = be32(b, d + 8)
        } else if (t == "av1C") codec = "avif"
        else if (t == "hvcC") codec = "heic"
      }
    }
    if (w <= 0 || h <= 0) return null
    val fmt = if (codec != null) codec else brand
    (fmt, w, h, 0)
  }

  /** TIFF baseline: IFD0 tags 0x0100 ImageWidth / 0x0101 ImageLength
    * (SHORT or LONG), either byte order. */
  private def tiffMeta(b: Array[Byte]): (String, Int, Int, Int) = {
    val little = b(0) == 'I'
    def u16(p: Int): Int =
      if (little) le16(b, p) else ((b(p) & 0xFF) << 8) | (b(p + 1) & 0xFF)
    def u32(p: Int): Int =
      if (little) le32(b, p) else be32(b, p)
    if (b.length < 12) return null
    val ifd = u32(4)
    if (ifd < 8 || ifd + 2 > b.length) return null
    val n = u16(ifd)
    var w = 0; var h = 0; var orient = 0
    var i = 0
    while (i < n) {
      val e = ifd + 2 + i * 12
      if (e + 12 > b.length) return null
      val tag = u16(e); val typ = u16(e + 2)
      val value = if (typ == 3) u16(e + 8) else u32(e + 8) // SHORT | LONG
      if (tag == 0x0100) w = value
      else if (tag == 0x0101) h = value
      else if (tag == 0x0112 && value >= 1 && value <= 8) orient = value
      i += 1
    }
    if (w <= 0 || h <= 0) null else ("tiff", w, h, orient)
  }

  /** WebP: VP8X extended header (24-bit canvas-1 dims), VP8L lossless
    * signature (14-bit packed dims-1), VP8 lossy key frame. */
  private def webpMeta(b: Array[Byte]): (String, Int, Int, Int) = {
    var p = 12
    while (p + 8 <= b.length) {
      val tag = new String(b, p, 4, "US-ASCII")
      val len = le32(b, p + 4)
      val d = p + 8
      tag match {
        case "VP8X" if len >= 10 && d + 10 <= b.length =>
          val w = 1 + ((b(d + 4) & 0xFF) | ((b(d + 5) & 0xFF) << 8) | ((b(d + 6) & 0xFF) << 16))
          val h = 1 + ((b(d + 7) & 0xFF) | ((b(d + 8) & 0xFF) << 8) | ((b(d + 9) & 0xFF) << 16))
          return ("webp", w, h, 0)
        case "VP8L" if len >= 5 && d + 5 <= b.length && (b(d) & 0xFF) == 0x2F =>
          val bits = (b(d + 1) & 0xFFL) | ((b(d + 2) & 0xFFL) << 8) |
            ((b(d + 3) & 0xFFL) << 16) | ((b(d + 4) & 0xFFL) << 24)
          val w = 1 + (bits & 0x3FFF).toInt
          val h = 1 + ((bits >> 14) & 0x3FFF).toInt
          return ("webp", w, h, 0)
        case "VP8 " if len >= 10 && d + 10 <= b.length &&
          (b(d + 3) & 0xFF) == 0x9D && (b(d + 4) & 0xFF) == 0x01 && (b(d + 5) & 0xFF) == 0x2A =>
          return ("webp", le16(b, d + 6) & 0x3FFF, le16(b, d + 8) & 0x3FFF, 0)
        case _ => ()
      }
      if (len < 0) return null // corrupt 32-bit length — stop the walk
      p = d + len + (len & 1)
    }
    null
  }

  /** Minimal WebP VP8X metadata fixture. */
  def encodeWebpHeader(w: Int, h: Int): Array[Byte] = {
    val payload = Array[Byte](0, 0, 0, 0,
      ((w - 1) & 0xFF).toByte, (((w - 1) >> 8) & 0xFF).toByte, (((w - 1) >> 16) & 0xFF).toByte,
      ((h - 1) & 0xFF).toByte, (((h - 1) >> 8) & 0xFF).toByte, (((h - 1) >> 16) & 0xFF).toByte)
    val out = new java.io.ByteArrayOutputStream()
    out.write("RIFF".getBytes("US-ASCII"))
    val riffLen = 4 + 8 + payload.length
    out.write(Array[Byte](riffLen.toByte, (riffLen >> 8).toByte, (riffLen >> 16).toByte, (riffLen >> 24).toByte), 0, 4)
    out.write("WEBP".getBytes("US-ASCII"))
    out.write("VP8X".getBytes("US-ASCII"))
    out.write(Array[Byte](payload.length.toByte, 0, 0, 0), 0, 4)
    out.write(payload, 0, payload.length)
    out.toByteArray
  }

  /** AVIF/HEIC metadata fixture (the 23008-12 still-image shape):
    * ftyp(brand) + meta{hdlr pict, pitm → item 1, iprp{ipco[thumbnail
    * ispe FIRST, primary ispe, av1C/hvcC], ipma}} + a stub mdat. The
    * thumbnail item's ispe deliberately precedes the primary's so a
    * naive first-ispe reader picks the WRONG dimensions — the walk
    * must resolve pitm → ipma → the primary's property indices.
    * `codec` is "av01" (AVIF) or "hvc1" (HEIC). */
  def encodeHeifHeader(codec: String, w: Int, h: Int,
                       thumbW: Int, thumbH: Int): Array[Byte] = {
    def u32(v: Long): Array[Byte] =
      Array((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    def u16(v: Int): Array[Byte] = Array((v >> 8).toByte, v.toByte)
    def box(typ: String, payload: Array[Byte]): Array[Byte] =
      u32(8L + payload.length) ++ typ.getBytes("US-ASCII") ++ payload
    def full(typ: String, payload: Array[Byte]): Array[Byte] =
      box(typ, Array[Byte](0, 0, 0, 0) ++ payload)
    val isAv1 = codec == "av01"
    val brand = if (isAv1) "avif" else "heic"
    val ftyp = box("ftyp", brand.getBytes("US-ASCII") ++ u32(0) ++
      (brand + "mif1").getBytes("US-ASCII"))
    val hdlr = full("hdlr", u32(0) ++ "pict".getBytes("US-ASCII") ++
      new Array[Byte](13))
    val pitm = full("pitm", u16(1))
    val ispeThumb = full("ispe", u32(thumbW.toLong) ++ u32(thumbH.toLong))
    val ispeMain = full("ispe", u32(w.toLong) ++ u32(h.toLong))
    // config payload is opaque to the metadata walk; 4 stub bytes
    val cfg = box(if (isAv1) "av1C" else "hvcC",
      Array[Byte](0x81.toByte, 0, 0, 0))
    val ipco = box("ipco", ispeThumb ++ ispeMain ++ cfg)
    def assoc(essential: Boolean, idx: Int): Byte =
      (((if (essential) 1 else 0) << 7) | idx).toByte
    val ipma = full("ipma", u32(2) ++
      u16(1) ++ Array[Byte](2, assoc(essential = false, 2), assoc(essential = true, 3)) ++
      u16(2) ++ Array[Byte](1, assoc(essential = false, 1)))
    val meta = full("meta", hdlr ++ pitm ++ box("iprp", ipco ++ ipma))
    ftyp ++ meta ++ box("mdat", Array[Byte](0x5A, 0x5A, 0x5A, 0x5A))
  }

  /** Little-endian uncompressed 8-bit grayscale TIFF (single strip) —
    * fixture encoder for the native strip decoder. */
  def encodeTiffGray(w: Int, h: Int, px: Array[Int]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def u16(v: Int): Unit = { out.write(v & 0xFF); out.write((v >> 8) & 0xFF) }
    def u32(v: Int): Unit = { u16(v & 0xFFFF); u16((v >> 16) & 0xFFFF) }
    out.write('I'); out.write('I'); u16(42); u32(8) // IFD0 at 8
    val nTags = 8
    val dataOff = 8 + 2 + nTags * 12 + 4
    u16(nTags)
    def tag(id: Int, typ: Int, count: Int, value: Int): Unit = {
      u16(id); u16(typ); u32(count); u32(value)
    }
    tag(256, 4, 1, w)            // ImageWidth
    tag(257, 4, 1, h)            // ImageLength
    tag(258, 3, 1, 8)            // BitsPerSample
    tag(259, 3, 1, 1)            // Compression: none
    tag(262, 3, 1, 1)            // Photometric: BlackIsZero
    tag(273, 4, 1, dataOff)      // StripOffsets
    tag(278, 4, 1, h)            // RowsPerStrip
    tag(279, 4, 1, w * h)        // StripByteCounts
    u32(0) // no next IFD
    px.foreach(v => out.write(v & 0xFF))
    out.toByteArray
  }

  /** Bilevel TIFF fixture writer: 1-bit samples, single strip, WhiteIsZero
    * (the fax norm), compression 1 (packed rows), 2 (T.4 MH), 3 (Group 3
    * 1-D with EOLs) or 4 (Group 4 MMR) through the native [[Ccitt]]
    * encoders. `bits` = 0/1 bytes row-major (0 = white). */
  def encodeTiffBilevel(w: Int, h: Int, bits: Array[Byte], comp: Int,
                        t4TwoDim: Boolean = false): Array[Byte] = {
    val payload = comp match {
      case 1 =>
        val rb = (w + 7) / 8
        val out = new Array[Byte](rb * h)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            if (bits(y * w + x) != 0)
              out(y * rb + (x >> 3)) = (out(y * rb + (x >> 3)) | (1 << (7 - (x & 7)))).toByte
            x += 1
          }
          y += 1
        }
        out
      case 2 => Ccitt.encodeMH(bits, w, h)
      case 3 => Ccitt.encodeG3(bits, w, h, twoDim = t4TwoDim)
      case 4 => Ccitt.encodeG4(bits, w, h)
      case other => throw new IllegalArgumentException(s"bilevel fixture comp $other")
    }
    val out = new java.io.ByteArrayOutputStream()
    def u16(v: Int): Unit = { out.write(v & 0xFF); out.write((v >> 8) & 0xFF) }
    def u32(v: Int): Unit = { u16(v & 0xFFFF); u16((v >> 16) & 0xFFFF) }
    out.write('I'); out.write('I'); u16(42); u32(8)
    val nTags = if (comp == 3) 9 else 8
    val dataOff = 8 + 2 + nTags * 12 + 4
    u16(nTags)
    def tag(id: Int, typ: Int, count: Int, value: Int): Unit = {
      u16(id); u16(typ); u32(count); u32(value)
    }
    tag(256, 4, 1, w)
    tag(257, 4, 1, h)
    tag(258, 3, 1, 1)            // BitsPerSample: 1
    tag(259, 3, 1, comp)
    tag(262, 3, 1, 0)            // Photometric: WhiteIsZero
    tag(273, 4, 1, dataOff)
    tag(278, 4, 1, h)
    tag(279, 4, 1, payload.length)
    if (comp == 3) tag(292, 4, 1, if (t4TwoDim) 1 else 0) // T4Options
    u32(0)
    out.write(payload)
    out.toByteArray
  }

  /** JPEG-in-TIFF fixture writer (compression 7): gray plane encoded as
    * per-strip YCbCr JPEG streams through the native T.81 encoder;
    * `abbreviated` hoists the (identical) DQT/DHT segments into a
    * JPEGTables tag and leaves abbreviated per-strip streams, the shape
    * scanner output actually takes. */
  def encodeTiffJpeg(w: Int, h: Int, px: Array[Int], rowsPerStrip: Int,
                     abbreviated: Boolean): Array[Byte] = {
    val jpegs = (0 until h by rowsPerStrip).map { y0 =>
      val rows = math.min(rowsPerStrip, h - y0)
      Jpeg.encodeYcc420(w, rows, Array.tabulate(w * rows)(i => px((y0 + i / w) * w + i % w)))
    }
    // hoist DQT/DHT into a standalone tables stream (SOI tables EOI)
    def split(j: Array[Byte]): (Array[Byte], Array[Byte]) = {
      val tb = new java.io.ByteArrayOutputStream()
      val rest = new java.io.ByteArrayOutputStream()
      tb.write(0xFF); tb.write(0xD8)
      rest.write(0xFF); rest.write(0xD8)
      var p = 2
      var done = false
      while (!done && p + 3 < j.length) {
        val marker = j(p + 1) & 0xFF
        if (marker == 0xDA) { rest.write(j, p, j.length - p); done = true }
        else {
          val len = ((j(p + 2) & 0xFF) << 8) | (j(p + 3) & 0xFF)
          if (marker == 0xDB || marker == 0xC4) tb.write(j, p, 2 + len)
          else rest.write(j, p, 2 + len)
          p += 2 + len
        }
      }
      tb.write(0xFF); tb.write(0xD9)
      (tb.toByteArray, rest.toByteArray)
    }
    val (tables, strips) =
      if (!abbreviated) (null: Array[Byte], jpegs)
      else { val parts = jpegs.map(split); (parts.head._1, parts.map(_._2)) }
    val n = strips.length
    val nTags = if (abbreviated) 10 else 9
    val ifdOff = 8
    var dataOff = ifdOff + 2 + nTags * 12 + 4
    val bitsOff = dataOff; dataOff += 6
    val soOff = dataOff; dataOff += 4 * n
    val scOff = dataOff; dataOff += 4 * n
    val tablesOff = dataOff
    if (abbreviated) dataOff += tables.length + (tables.length & 1)
    val stripOffs = new Array[Int](n)
    strips.zipWithIndex.foreach { case (s, i) =>
      stripOffs(i) = dataOff; dataOff += s.length + (s.length & 1)
    }
    val out = new java.io.ByteArrayOutputStream(dataOff)
    def u16(v: Int): Unit = { out.write(v & 0xFF); out.write((v >> 8) & 0xFF) }
    def u32(v: Int): Unit = { u16(v & 0xFFFF); u16((v >> 16) & 0xFFFF) }
    out.write('I'); out.write('I'); u16(42); u32(ifdOff)
    u16(nTags)
    def tag(id: Int, typ: Int, count: Int, value: Int): Unit = {
      u16(id); u16(typ); u32(count); u32(value)
    }
    tag(256, 4, 1, w)
    tag(257, 4, 1, h)
    tag(258, 3, 3, bitsOff)
    tag(259, 3, 1, 7)
    tag(262, 3, 1, 6)              // YCbCr
    tag(273, 4, n, if (n == 1) stripOffs(0) else soOff)
    tag(277, 3, 1, 3)
    tag(278, 4, 1, rowsPerStrip)
    tag(279, 4, n, if (n == 1) strips.head.length else scOff)
    if (abbreviated) tag(347, 7, tables.length, tablesOff)
    u32(0)
    u16(8); u16(8); u16(8)         // BitsPerSample data
    stripOffs.foreach(u32)         // strip offsets array (unused if n==1)
    strips.foreach(s => u32(s.length))
    if (abbreviated) { out.write(tables); if ((tables.length & 1) == 1) out.write(0) }
    strips.foreach { s => out.write(s); if ((s.length & 1) == 1) out.write(0) }
    out.toByteArray
  }

  /** Old-style JPEG-in-TIFF fixture writer (compression 6, TIFF 6.0 §22):
    * one complete interchange JPEG stream framed by tags 513/514 — the
    * only old-JPEG shape the native path accepts (and the only one that
    * survived in the wild; fragmented variants are ImageIO's problem). */
  def encodeTiffOldJpeg(w: Int, h: Int, px: Array[Int]): Array[Byte] = {
    val jpeg = Jpeg.encodeYcc420(w, h, px)
    val nTags = 8
    val ifdOff = 8
    var dataOff = ifdOff + 2 + nTags * 12 + 4
    val bitsOff = dataOff; dataOff += 6
    val jifOff = dataOff
    val out = new java.io.ByteArrayOutputStream(dataOff + jpeg.length)
    def u16(v: Int): Unit = { out.write(v & 0xFF); out.write((v >> 8) & 0xFF) }
    def u32(v: Int): Unit = { u16(v & 0xFFFF); u16((v >> 16) & 0xFFFF) }
    out.write('I'); out.write('I'); u16(42); u32(ifdOff)
    u16(nTags)
    def tag(id: Int, typ: Int, count: Int, value: Int): Unit = {
      u16(id); u16(typ); u32(count); u32(value)
    }
    tag(256, 4, 1, w)
    tag(257, 4, 1, h)
    tag(258, 3, 3, bitsOff)
    tag(259, 3, 1, 6)              // old-style JPEG
    tag(262, 3, 1, 6)              // YCbCr
    tag(277, 3, 1, 3)
    tag(513, 4, 1, jifOff)         // JPEGInterchangeFormat
    tag(514, 4, 1, jpeg.length)    // JPEGInterchangeFormatLength
    u32(0)
    u16(8); u16(8); u16(8)
    out.write(jpeg)
    out.toByteArray
  }

  /** Minimal little-endian TIFF metadata fixture (IFD0 width/height). */
  def encodeTiffHeader(w: Int, h: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def u16(v: Int): Unit = { out.write(v & 0xFF); out.write((v >> 8) & 0xFF) }
    def u32(v: Int): Unit = { u16(v & 0xFFFF); u16((v >> 16) & 0xFFFF) }
    out.write('I'); out.write('I'); u16(42); u32(8) // IFD0 at 8
    u16(2) // two entries
    u16(0x0100); u16(4); u32(1); u32(w)
    u16(0x0101); u16(4); u32(1); u32(h)
    u32(0) // no next IFD
    out.toByteArray
  }

  /** Walk JPEG marker segments: dimensions from the first SOFn, orientation
    * from an EXIF APP1 IFD0 tag 0x0112 if present. */
  private def jpegMeta(b: Array[Byte]): (String, Int, Int, Int) = {
    var w = 0; var h = 0; var orient = 0
    var p = 2
    var done = false
    while (!done && p + 3 < b.length) {
      if ((b(p) & 0xFF) != 0xFF) return null // desynced marker stream
      // ITU T.81 B.1.1.2: any number of 0xFF fill bytes may precede a
      // marker — skip them so padded files keep their metadata (and a
      // doubled 0xFF is not misread as marker 0xFF with a bogus length)
      while (p + 3 < b.length && (b(p + 1) & 0xFF) == 0xFF) p += 1
      if (p + 3 >= b.length) done = true
      else {
        val marker = b(p + 1) & 0xFF
        if (marker == 0xD8 || (marker >= 0xD0 && marker <= 0xD7)) p += 2 // no payload
        else if (marker == 0xD9 || marker == 0xDA) done = true // EOI / scan data
        else {
          val len = ((b(p + 2) & 0xFF) << 8) | (b(p + 3) & 0xFF)
          if (len < 2 || p + 2 + len > b.length) done = true
          else {
            val isSof = (marker >= 0xC0 && marker <= 0xCF) &&
              marker != 0xC4 && marker != 0xC8 && marker != 0xCC
            if (isSof && w == 0 && len >= 7) {
              h = ((b(p + 5) & 0xFF) << 8) | (b(p + 6) & 0xFF)
              w = ((b(p + 7) & 0xFF) << 8) | (b(p + 8) & 0xFF)
            } else if (marker == 0xE1 && len >= 10 &&
              b(p + 4) == 'E' && b(p + 5) == 'x' && b(p + 6) == 'i' &&
              b(p + 7) == 'f' && b(p + 8) == 0 && b(p + 9) == 0) {
              orient = exifOrientation(b, p + 10, len - 8)
            }
            p += 2 + len
          }
        }
      }
    }
    if (w == 0 && h == 0) null else ("jpeg", w, h, orient)
  }

  /** EXIF orientation (tag 0x0112) from the TIFF structure at `off`. */
  private def exifOrientation(b: Array[Byte], off: Int, len: Int): Int = {
    if (len < 14) return 0
    val little = b(off) == 'I' && b(off + 1) == 'I'
    val big = b(off) == 'M' && b(off + 1) == 'M'
    if (!little && !big) return 0
    def u16(p: Int): Int =
      if (little) le16(b, p) else ((b(p) & 0xFF) << 8) | (b(p + 1) & 0xFF)
    def u32(p: Int): Int =
      if (little) le32(b, p)
      else ((b(p) & 0xFF) << 24) | ((b(p + 1) & 0xFF) << 16) | ((b(p + 2) & 0xFF) << 8) | (b(p + 3) & 0xFF)
    if (u16(off + 2) != 42) return 0
    val ifd = off + u32(off + 4)
    // u32 reads a signed Int: a corrupt offset can be negative or wrap —
    // it must land strictly inside the TIFF slice
    if (ifd < off || ifd + 2 > off + len) return 0
    val n = u16(ifd)
    var i = 0
    while (i < n) {
      val e = ifd + 2 + i * 12
      if (e + 12 > off + len) return 0
      if (u16(e) == 0x0112 && u16(e + 2) == 3) return u16(e + 8)
      i += 1
    }
    0
  }

  private def be32(b: Array[Byte], p: Int): Int =
    ((b(p) & 0xFF) << 24) | ((b(p + 1) & 0xFF) << 16) | ((b(p + 2) & 0xFF) << 8) | (b(p + 3) & 0xFF)
  private def le16(b: Array[Byte], p: Int): Int =
    (b(p) & 0xFF) | ((b(p + 1) & 0xFF) << 8)
  private def le32(b: Array[Byte], p: Int): Int =
    (b(p) & 0xFF) | ((b(p + 1) & 0xFF) << 8) | ((b(p + 2) & 0xFF) << 16) | ((b(p + 3) & 0xFF) << 24)

  // ========================================================= pixel decode

  /** Decoded image: width, height, row-major 8-bit grayscale (integer luma
    * `(299r + 587g + 114b) / 1000`). */
  final case class Gray(w: Int, h: Int, px: Array[Int])

  /** Test face for [[decodeGray]]. */
  def decodeGrayPublic(b: Array[Byte]): Gray = decodeGray(b)

  /** Test face for the native TIFF path alone (no ImageIO fallback) — lets
    * specs prove a layout decodes natively rather than silently falling
    * back. */
  private[functions] def decodeTiffNative(b: Array[Byte]): Gray = decodeTiff(b)

  /** Decode to grayscale: native for BMP/PNG/GIF/JPEG/TIFF
    * (bit-deterministic), javax.imageio fallback otherwise; null when
    * undecodable. */
  private[functions] def decodeGray(b: Array[Byte]): Gray = {
    val m = imageMeta(b)
    try {
      // native decoders first (bit-deterministic); a variant they don't
      // cover (tiled TIFF, arithmetic JPEG, ...) falls back to ImageIO
      // rather than failing the row
      val native = m match {
        case ("bmp", _, _, _) => decodeBmp(b)
        case ("png", _, _, _) => decodePng(b)
        case ("gif", _, _, _) => decodeGif(b)
        case ("jpeg", _, _, _) => Jpeg.decode(b)
        case ("tiff", _, _, _) => decodeTiff(b)
        case ("webp", _, _, _) => Webp.decodeGray(b) // VP8L lossless or VP8 lossy
        case null => return null
        case _ => null
      }
      val g = if (native != null) native else decodeImageIo(b)
      // Normalize through EXIF orientation (r13 VERDICT #8): a
      // pixel-rotated copy and an orientation-flagged copy of the same
      // photo must produce the SAME signature, so pHash dedup and
      // thumbnails see upright pixels. Neither the native decoders nor
      // ImageIO apply it, so one uniform post-step covers both paths.
      // (JPEG EXIF is the case that occurs in crawls; TIFF tag 274 with a
      // non-default value is vanishingly rare and stays unapplied.)
      if (g != null && m != null && m._4 >= 2 && m._4 <= 8)
        applyOrientation(g, m._4)
      else g
    } catch { case _: Exception => null }
  }

  /** Remap to upright per EXIF orientation 2-8 (1 = identity). */
  private def applyOrientation(g: Gray, o: Int): Gray = {
    val w = g.w; val h = g.h; val src = g.px
    val swap = o >= 5 // transpose family swaps dimensions
    val ow = if (swap) h else w
    val oh = if (swap) w else h
    val out = new Array[Int](w * h)
    var y = 0
    while (y < oh) {
      var x = 0
      while (x < ow) {
        val v = o match {
          case 2 => src(y * w + (w - 1 - x))          // mirror horizontal
          case 3 => src((h - 1 - y) * w + (w - 1 - x)) // rotate 180
          case 4 => src((h - 1 - y) * w + x)           // mirror vertical
          case 5 => src(x * w + y)                     // transpose
          case 6 => src((h - 1 - x) * w + y)           // rotate 90 CW
          case 7 => src((h - 1 - x) * w + (w - 1 - y)) // transverse
          case _ => src(x * w + (w - 1 - y))           // 8: rotate 270 CW
        }
        out(y * ow + x) = v
        x += 1
      }
      y += 1
    }
    Gray(ow, oh, out)
  }

  private def luma(r: Int, g: Int, bl: Int): Int = (299 * r + 587 * g + 114 * bl) / 1000

  /** BMP: BI_RGB 24/32 bpp, BI_RGB 8 bpp palette, and BI_RLE8 —
    * bottom-up or top-down (RLE is bottom-up only, per the format). */
  private def decodeBmp(b: Array[Byte]): Gray = {
    val off = le32(b, 10)
    val w = le32(b, 18)
    val rawH = le32(b, 22)
    val h = math.abs(rawH)
    val bpp = le16(b, 28)
    val comp = le32(b, 30)
    if (w <= 0 || h == 0) return null
    if (bpp == 8 && (comp == 0 || comp == 1)) return decodeBmp8(b, off, w, rawH, comp)
    if (comp != 0 || (bpp != 24 && bpp != 32)) return null
    val bytesPp = bpp / 8
    val stride = ((w * bytesPp + 3) / 4) * 4
    if (off + stride.toLong * h > b.length) return null
    val px = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      val srcRow = if (rawH > 0) h - 1 - y else y // positive height = bottom-up
      val ro = off + srcRow * stride
      var x = 0
      while (x < w) {
        val p = ro + x * bytesPp // BGR(A) order
        px(y * w + x) = luma(b(p + 2) & 0xFF, b(p + 1) & 0xFF, b(p) & 0xFF)
        x += 1
      }
      y += 1
    }
    Gray(w, h, px)
  }

  /** 8-bpp BMP: palette right after the 40-byte BITMAPINFOHEADER
    * (biClrUsed entries, 256 when 0), uncompressed or BI_RLE8 (encoded
    * runs, absolute runs word-padded, EOL/EOF/delta escapes). */
  private def decodeBmp8(b: Array[Byte], off: Int, w: Int, rawH: Int, comp: Int): Gray = {
    val h = math.abs(rawH)
    val headerSize = le32(b, 14)
    val clrUsed = le32(b, 46)
    val nColors = if (clrUsed > 0) clrUsed else 256
    val palOff = 14 + headerSize
    if (palOff + nColors * 4 > b.length) return null
    val pal = Array.tabulate(nColors)(i => luma(
      b(palOff + i * 4 + 2) & 0xFF, b(palOff + i * 4 + 1) & 0xFF, b(palOff + i * 4) & 0xFF))
    val px = new Array[Int](w * h)
    if (comp == 0) {
      val stride = ((w + 3) / 4) * 4
      if (off + stride.toLong * h > b.length) return null
      var y = 0
      while (y < h) {
        val srcRow = if (rawH > 0) h - 1 - y else y
        val ro = off + srcRow * stride
        var x = 0
        while (x < w) { px(y * w + x) = pal((b(ro + x) & 0xFF) % nColors); x += 1 }
        y += 1
      }
    } else {
      // BI_RLE8: rows are bottom-up; untouched pixels stay 0 (the format
      // allows skipped regions via delta/EOL)
      var p = off
      var x = 0
      var row = h - 1 // bottom-up
      var done = false
      while (!done && p + 1 < b.length) {
        val count = b(p) & 0xFF
        val value = b(p + 1) & 0xFF
        p += 2
        if (count > 0) { // encoded run
          var i = 0
          while (i < count && x < w) {
            if (row >= 0) px(row * w + x) = pal(value % nColors)
            x += 1; i += 1
          }
        } else value match {
          case 0 => x = 0; row -= 1 // end of line
          case 1 => done = true     // end of bitmap
          case 2 =>                 // delta (dx, dy up the image)
            if (p + 1 >= b.length) return null
            x += b(p) & 0xFF; row -= b(p + 1) & 0xFF; p += 2
          case n => // absolute run of n indices, word-aligned
            if (p + n > b.length) return null
            var i = 0
            while (i < n) {
              if (x < w && row >= 0) px(row * w + x) = pal((b(p + i) & 0xFF) % nColors)
              x += 1; i += 1
            }
            p += n + (n & 1)
        }
        if (row < -1) return null
      }
    }
    Gray(w, h, px)
  }

  /** 8-bpp palette BMP fixture encoder (uncompressed or RLE8). */
  def encodeBmp8(w: Int, h: Int, px: Array[Int], rle: Boolean = false): Array[Byte] = {
    val pal = Array.tabulate(256)(identity) // grayscale identity palette
    val body = new java.io.ByteArrayOutputStream()
    if (!rle) {
      val stride = ((w + 3) / 4) * 4
      var y = h - 1
      while (y >= 0) { // bottom-up
        var x = 0
        while (x < stride) {
          body.write(if (x < w) px(y * w + x) & 0xFF else 0)
          x += 1
        }
        y -= 1
      }
    } else {
      var y = h - 1
      while (y >= 0) {
        var x = 0
        while (x < w) {
          var run = 1
          val v = px(y * w + x) & 0xFF
          while (x + run < w && run < 255 && (px(y * w + x + run) & 0xFF) == v) run += 1
          body.write(run); body.write(v)
          x += run
        }
        body.write(0); body.write(0) // EOL
        y -= 1
      }
      body.write(0); body.write(1) // EOF
    }
    val data = body.toByteArray
    val palBytes = 256 * 4
    val off = 14 + 40 + palBytes
    val out = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit = { out.write(v & 0xFF); out.write((v >> 8) & 0xFF) }
    def w32(v: Int): Unit = { w16(v & 0xFFFF); w16((v >> 16) & 0xFFFF) }
    out.write('B'); out.write('M')
    w32(off + data.length); w32(0); w32(off)
    w32(40); w32(w); w32(h); w16(1); w16(8)
    w32(if (rle) 1 else 0) // BI_RGB | BI_RLE8
    w32(data.length); w32(2835); w32(2835); w32(256); w32(0)
    pal.foreach { v => out.write(v); out.write(v); out.write(v); out.write(0) } // BGRA
    out.write(data, 0, data.length)
    out.toByteArray
  }

  /** PNG: 8-bit gray (0), RGB (2), palette (3, PLTE-mapped), gray+alpha
    * (4), RGBA (6), plus 1/2/4-bit gray and palette (the icon/diagram
    * depths); filters 0-4; non-interlaced AND Adam7 interlaced. */
  /** `alphaOut`, when non-null (length w*h, caller-filled with 255),
    * receives the alpha channel for gray+alpha / RGBA color types —
    * the APNG compositor's OVER blend needs it; plain decode ignores it. */
  private def decodePng(b: Array[Byte], alphaOut: Array[Int] = null): Gray = {
    val w = be32(b, 16); val h = be32(b, 20)
    val bitDepth = b(24) & 0xFF; val colorType = b(25) & 0xFF; val interlace = b(28) & 0xFF
    if (interlace > 1) return null
    val subByte = bitDepth == 1 || bitDepth == 2 || bitDepth == 4
    if (subByte && colorType != 0 && colorType != 3) return null
    // 16-bit samples reduce to their high byte (the spec's sBIT-free 8-bit
    // downconversion); palette is 8-bit-indexed only per the PNG spec
    val wide = bitDepth == 16
    if (wide && colorType == 3) return null
    if (!subByte && !wide && bitDepth != 8) return null
    val channels = colorType match {
      case 0 | 3 => 1; case 2 => 3; case 4 => 2; case 6 => 4; case _ => return null
    }
    // concatenate IDAT payloads; capture PLTE for palette images
    val idat = new java.io.ByteArrayOutputStream()
    var paletteLuma: Array[Int] = null
    var p = 8
    var stop = false
    while (!stop && p + 8 <= b.length) {
      val len = be32(b, p)
      val typ = new String(b, p + 4, 4, "US-ASCII")
      if (typ == "IDAT" && p + 8 + len <= b.length) idat.write(b, p + 8, len)
      if (typ == "PLTE" && p + 8 + len <= b.length)
        paletteLuma = Array.tabulate(len / 3)(i => luma(
          b(p + 8 + i * 3) & 0xFF, b(p + 8 + i * 3 + 1) & 0xFF, b(p + 8 + i * 3 + 2) & 0xFF))
      if (typ == "IEND") stop = true
      p += 12 + len
    }
    if (colorType == 3 && paletteLuma == null) return null
    // Adam7 pass geometry: (xStart, yStart, xStep, yStep); non-interlaced
    // is the single full pass
    val passes: Array[(Int, Int, Int, Int)] =
      if (interlace == 0) Array((0, 0, 1, 1))
      else Array((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
        (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))
    def passDims(p: (Int, Int, Int, Int)): (Int, Int) = {
      val (x0, y0, xs, ys) = p
      ((w - x0 + xs - 1) / xs, (h - y0 + ys - 1) / ys)
    }
    val sampleBytes = if (wide) 2 else 1
    def rowBytes(pw: Int): Int =
      if (subByte) (pw * bitDepth + 7) / 8 else pw * channels * sampleBytes
    val rawLen = passes.map { p =>
      val (pw, ph) = passDims(p)
      if (pw == 0 || ph == 0) 0L else (rowBytes(pw).toLong + 1) * ph
    }.sum
    if (rawLen > Int.MaxValue) return null
    val inf = new java.util.zip.Inflater()
    inf.setInput(idat.toByteArray)
    val raw = new Array[Byte](rawLen.toInt)
    var got = 0
    while (got < raw.length && !inf.finished()) {
      val n = inf.inflate(raw, got, raw.length - got)
      if (n == 0 && inf.needsInput()) return null // truncated
      got += n
    }
    inf.end()
    if (got < raw.length) return null
    val px = new Array[Int](w * h)
    val bpp = channels
    var passOff = 0
    passes.foreach { pass =>
      val (x0, y0, xs, ys) = pass
      val (pw, ph) = passDims(pass)
      if (pw > 0 && ph > 0) {
        val stride = rowBytes(pw)
        // filters operate on BYTES; at sub-byte depths the "corresponding
        // byte" distance is one byte (PNG spec: filtering is byte-wise
        // with bpp rounded up to 1); at 16-bit it is channels*2
        val fbpp = if (subByte) 1 else bpp * sampleBytes
        // undo per-row filters (prev = reconstructed previous row OF THE
        // SAME PASS), then scatter into the image grid
        val cur = new Array[Int](stride)
        val prev = new Array[Int](stride)
        java.util.Arrays.fill(prev, 0)
        var y = 0
        while (y < ph) {
          val ro = passOff + y * (stride + 1)
          val filter = raw(ro) & 0xFF
          var i = 0
          while (i < stride) {
            val x = raw(ro + 1 + i) & 0xFF
            val a = if (i >= fbpp) cur(i - fbpp) else 0
            val up = prev(i)
            val c = if (i >= fbpp) prev(i - fbpp) else 0
            cur(i) = filter match {
              case 0 => x
              case 1 => (x + a) & 0xFF
              case 2 => (x + up) & 0xFF
              case 3 => (x + ((a + up) / 2)) & 0xFF
              case 4 =>
                val pp = a + up - c
                val pa = math.abs(pp - a); val pb = math.abs(pp - up); val pc = math.abs(pp - c)
                val pred = if (pa <= pb && pa <= pc) a else if (pb <= pc) up else c
                (x + pred) & 0xFF
              case _ => return null
            }
            i += 1
          }
          var x = 0
          while (x < pw) {
            val o = x * channels * sampleBytes // high byte first (big-endian)
            val v =
              if (subByte) {
                val bitPos = x * bitDepth
                val shift = 8 - bitDepth - (bitPos & 7)
                (cur(bitPos >> 3) >> shift) & ((1 << bitDepth) - 1)
              } else cur(o)
            px((y0 + y * ys) * w + (x0 + x * xs)) =
              if (colorType == 3) paletteLuma(v % paletteLuma.length)
              else if (subByte) v * 255 / ((1 << bitDepth) - 1) // gray scale-up
              else channels match {
                case 1 => v
                case 2 => v // gray+alpha: luma is the gray sample
                case _ => luma(cur(o), cur(o + sampleBytes), cur(o + 2 * sampleBytes))
              }
            if (alphaOut != null && (channels == 2 || channels == 4))
              alphaOut((y0 + y * ys) * w + (x0 + x * xs)) =
                cur(o + (channels - 1) * sampleBytes)
            x += 1
          }
          System.arraycopy(cur, 0, prev, 0, stride)
          y += 1
        }
        passOff += (stride + 1) * ph
      }
    }
    Gray(w, h, px)
  }

  /** Minimal Adam7-interlaced grayscale PNG (filter 0 rows per pass) —
    * fixture encoder for the interlaced decode path. */
  def encodePngInterlaced(w: Int, h: Int, px: Array[Int]): Array[Byte] = {
    val passes = Array((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
      (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))
    val raw = new java.io.ByteArrayOutputStream()
    passes.foreach { case (x0, y0, xs, ys) =>
      val pw = (w - x0 + xs - 1) / xs
      val ph = (h - y0 + ys - 1) / ys
      if (pw > 0 && ph > 0) {
        var y = 0
        while (y < ph) {
          raw.write(0) // filter: none
          var x = 0
          while (x < pw) {
            raw.write(px((y0 + y * ys) * w + (x0 + x * xs)) & 0xFF)
            x += 1
          }
          y += 1
        }
      }
    }
    val d = new java.util.zip.Deflater()
    d.setInput(raw.toByteArray); d.finish()
    val z = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!d.finished()) z.write(buf, 0, d.deflate(buf))
    d.end()
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A), 0, 8)
    def chunk(typ: String, payload: Array[Byte]): Unit = {
      val lenB = Array((payload.length >> 24).toByte, (payload.length >> 16).toByte,
        (payload.length >> 8).toByte, payload.length.toByte)
      out.write(lenB, 0, 4)
      val tb = typ.getBytes("US-ASCII")
      out.write(tb, 0, 4)
      out.write(payload, 0, payload.length)
      val crc = new java.util.zip.CRC32()
      crc.update(tb); crc.update(payload)
      val cv = crc.getValue
      out.write(Array((cv >> 24).toByte, (cv >> 16).toByte, (cv >> 8).toByte, cv.toByte), 0, 4)
    }
    chunk("IHDR", Array((w >> 24).toByte, (w >> 16).toByte, (w >> 8).toByte, w.toByte,
      (h >> 24).toByte, (h >> 16).toByte, (h >> 8).toByte, h.toByte,
      8, 0, 0, 0, 1)) // depth 8, gray, interlace Adam7
    chunk("IDAT", z.toByteArray)
    chunk("IEND", Array.empty[Byte])
    out.toByteArray
  }

  /** Baseline TIFF (TIFF 6.0, first IFD, both byte orders): 8-bit gray /
    * RGB / palette, strip layout, compressions 1 (none), 5 (LZW — the
    * same TIFF-convention coder as PDF §7.4.4, shared), 8 (Deflate) and
    * 32773 (PackBits), horizontal-differencing predictor, WhiteIsZero
    * inversion. Both strip (tags 273/279) and tile (tags 322-325, TIFF
    * 6.0 §15 — edge tiles padded to full tile size) layouts. Bilevel
    * (1-bit) images decode natively for compressions 1/32773 (packed
    * rows) and the CCITT fax family 2/3/4 via [[Ccitt]]; JPEG-in-TIFF
    * (compression 7, incl. abbreviated streams + JPEGTables; AND the
    * deprecated old-style 6 when tags 513/514 frame an interchange
    * stream) decodes through the native [[Jpeg]] codec — together the
    * scanned-document archive cases. 16-bit gray/RGB decodes natively via
    * the high byte. The only remaining ImageIO fallbacks are pre-TN2
    * fragmented old-JPEG (no interchange stream) and JPEG variants the
    * T.81 decoder rejects by design (arithmetic/lossless/12-bit). */
  private def decodeTiff(b: Array[Byte]): Gray = {
    if (b == null || b.length < 8) return null
    val little = b(0) == 'I'
    def u16(p: Int): Int =
      if (little) le16(b, p) else ((b(p) & 0xFF) << 8) | (b(p + 1) & 0xFF)
    def u32(p: Int): Int = if (little) le32(b, p) else be32(b, p)
    val ifd = u32(4)
    if (ifd < 8 || ifd + 2 > b.length) return null
    val n = u16(ifd)
    // tag -> (type, count, valueOffsetField)
    var w = 0; var h = 0; var comp = 1; var photo = 1; var spp = 1
    var rowsPerStrip = Int.MaxValue; var predictor = 1
    var bits = 1 // TIFF 6.0 default BitsPerSample = 1 (bilevel writers —
                 // ImageIO's CCITT included — omit tag 258 entirely)
    var bitsOk = true
    var t4opts = 0
    var stripOffsets: Array[Int] = null
    var stripCounts: Array[Int] = null
    var colorMapOff = -1; var colorMapCount = 0
    var tileW = 0; var tileH = 0
    var tileOffsets: Array[Int] = null
    var tileCounts: Array[Int] = null
    var jpegTablesOff = -1; var jpegTablesLen = 0
    var jifOff = -1; var jifLen = 0 // old-style JPEG (tags 513/514)
    var i = 0
    while (i < n) {
      val e = ifd + 2 + i * 12
      if (e + 12 > b.length) return null
      val tag = u16(e); val typ = u16(e + 2); val count = u32(e + 4)
      def scalar: Int = if (typ == 3) u16(e + 8) else u32(e + 8)
      def intArray: Array[Int] = {
        val size = if (typ == 3) 2 else 4
        // Long math: a crafted count near 2^30 wraps count*size negative in
        // Int, which would pass the bounds check and allocate gigabytes.
        val bytes = count.toLong * size
        val off = if (bytes <= 4) e + 8 else u32(e + 8)
        if (count < 0 || off < 0 || off.toLong + bytes > b.length) return null
        Array.tabulate(count)(k => if (typ == 3) u16(off + k * 2) else u32(off + k * 4))
      }
      tag match {
        case 256 => w = scalar
        case 257 => h = scalar
        case 258 =>
          val ba = intArray
          if (ba == null) return null
          if (ba.forall(_ == 8)) bits = 8
          else if (ba.forall(_ == 16)) bits = 16
          else if (ba.length == 1 && ba(0) == 1) bits = 1
          else bitsOk = false // mixed depths: ImageIO fallback
        case 259 => comp = scalar
        case 262 => photo = scalar
        case 273 => stripOffsets = intArray
        case 277 => spp = scalar
        case 278 => rowsPerStrip = scalar
        case 279 => stripCounts = intArray
        case 284 => if (scalar != 1) return null // planar: ImageIO fallback
        case 292 => t4opts = scalar // T4Options: bit0 = 2-D lines
        case 317 => predictor = scalar
        case 320 => colorMapOff = u32(e + 8); colorMapCount = count
        case 347 => // JPEGTables: shared abbreviated-stream tables
          jpegTablesOff = if (count <= 4) e + 8 else u32(e + 8)
          jpegTablesLen = count
        case 513 => jifOff = u32(e + 8) // JPEGInterchangeFormat (old-style)
        case 514 => jifLen = u32(e + 8) // JPEGInterchangeFormatLength
        case 322 => tileW = scalar
        case 323 => tileH = scalar
        case 324 => tileOffsets = intArray
        case 325 => tileCounts = intArray
        case _ => ()
      }
      i += 1
    }
    val tiled = tileOffsets != null && tileCounts != null && tileW > 0 && tileH > 0
    if (w <= 0 || h <= 0 || !bitsOk) return null
    // old-style JPEG files may carry ONLY the interchange pointer, no strips
    val oldJpeg = comp == 6 && jifOff > 0 && jifLen >= 4
    if (!tiled && !oldJpeg && (stripOffsets == null || stripCounts == null)) return null
    if (!tiled && !oldJpeg && stripOffsets.length != stripCounts.length) return null
    if (tiled && tileOffsets.length != tileCounts.length) return null
    if (predictor != 1 && predictor != 2) return null
    if (w.toLong * h > (1L << 26)) return null
    if (tiled && tileW.toLong * tileH > (1L << 26)) return null
    val channels = spp
    // Bound SamplesPerPixel: RGB(A) tops out at 4 (extra samples beyond
    // alpha go to ImageIO); unbounded spp would overflow the Int
    // expect = tileW*tileH*channels below and allocate per-tile GBs
    // from a hostile tag before the generic catch fires.
    if (photo == 2 && (channels < 3 || channels > 4)) return null
    if ((photo == 0 || photo == 1 || photo == 3) && channels != 1) return null

    // Bilevel path: 1-bit samples — uncompressed packed rows, PackBits,
    // or the CCITT fax family (compression 2 = T.4 MH byte-aligned rows,
    // 3 = Group 3 with EOLs, 4 = Group 4 MMR) via the native [[Ccitt]]
    // codec. Scanned-document archives are dominated by these.
    if (bits == 1) {
      if (channels != 1 || (photo != 0 && photo != 1)) return null
      val px1 = new Array[Int](w * h)
      // one strip/tile of `rows` rows -> 0/1 bytes, or null
      def bilevel(off: Int, len: Int, bw: Int, rows: Int): Array[Byte] = {
        if (off < 0 || len < 0 || off.toLong + len > b.length) return null
        val slice = java.util.Arrays.copyOfRange(b, off, off + len)
        comp match {
          case 1 | 32773 =>
            val rb = (bw + 7) / 8
            val packed =
              if (comp == 1) { if (len < rows * rb) null else slice }
              else { // PackBits at the byte layer, then unpack bits
                val out = new java.io.ByteArrayOutputStream(rows * rb)
                var p = 0
                var bad = false
                while (out.size() < rows * rb && p < slice.length && !bad) {
                  val c = slice(p).toInt
                  p += 1
                  if (c >= 0) {
                    if (p + c + 1 > slice.length) bad = true
                    else { out.write(slice, p, c + 1); p += c + 1 }
                  } else if (c != -128) {
                    if (p >= slice.length) bad = true
                    else { var k = 0; while (k < 1 - c) { out.write(slice(p)); k += 1 }; p += 1 }
                  }
                }
                if (bad || out.size() < rows * rb) null else out.toByteArray
              }
            if (packed == null) null
            else {
              val bitsOut = new Array[Byte](rows * bw)
              var y = 0
              while (y < rows) {
                var x = 0
                while (x < bw) {
                  bitsOut(y * bw + x) =
                    (((packed(y * rb + (x >> 3)) >> (7 - (x & 7))) & 1)).toByte
                  x += 1
                }
                y += 1
              }
              bitsOut
            }
          case 2 => Ccitt.decodeMH(slice, bw, rows)
          case 3 => Ccitt.decodeG3(slice, bw, rows, (t4opts & 1) != 0)
          case 4 => Ccitt.decodeG4(slice, bw, rows)
          case _ => null
        }
      }
      def emit1(bitsRow: Array[Byte], bw: Int, rows: Int, x0: Int, y0: Int): Unit = {
        var y = 0
        while (y < rows && y0 + y < h) {
          var x = 0
          while (x < bw && x0 + x < w) {
            val v = bitsRow(y * bw + x)
            // photo 0 (WhiteIsZero, the fax norm): sample 0 -> white 255
            px1((y0 + y) * w + (x0 + x)) =
              if (photo == 0) (if (v == 0) 255 else 0)
              else (if (v == 0) 0 else 255)
            x += 1
          }
          y += 1
        }
      }
      if (tiled) {
        val across = (w + tileW - 1) / tileW
        val down = (h + tileH - 1) / tileH
        if (tileOffsets.length < across * down) return null
        var t = 0
        while (t < across * down) {
          val d = bilevel(tileOffsets(t), tileCounts(t), tileW, tileH)
          if (d == null) return null
          emit1(d, tileW, tileH, (t % across) * tileW, (t / across) * tileH)
          t += 1
        }
      } else {
        var row0 = 0
        var s = 0
        while (s < stripOffsets.length && row0 < h) {
          val rows = math.min(rowsPerStrip, h - row0)
          val d = bilevel(stripOffsets(s), stripCounts(s), w, rows)
          if (d == null) return null
          emit1(d, w, rows, 0, row0)
          row0 += rows
          s += 1
        }
        if (row0 < h) return null
      }
      return Gray(w, h, px1)
    }

    // Old-style JPEG-in-TIFF (compression 6, TIFF 6.0 §22, superseded by
    // Tech Note 2): tags 513/514 frame ONE complete interchange JPEG
    // stream for the whole image — slice and decode through the native
    // T.81 decoder, cropping MCU padding. The fragmented pre-TN2 variants
    // (JPEGQTables/DCTables 519-521 with per-strip SOS-less payloads, the
    // shape TN2 was written to kill) have no interchange stream and fall
    // back to ImageIO like other exotica.
    if (comp == 6) {
      if (photo != 0 && photo != 1 && photo != 2 && photo != 6) return null
      if (!oldJpeg || jifOff.toLong + jifLen > b.length) return null
      val g = try Jpeg.decode(java.util.Arrays.copyOfRange(b, jifOff, jifOff + jifLen))
        catch { case _: Exception => null }
      if (g == null || g.w < w || g.h < h) return null
      if (g.w == w && g.h == h) return g
      val px6 = new Array[Int](w * h)
      var y = 0
      while (y < h) {
        System.arraycopy(g.px, y * g.w, px6, y * w, w)
        y += 1
      }
      return Gray(w, h, px6)
    }

    // JPEG-in-TIFF (compression 7, TIFF Tech Note 2): each strip/tile is
    // an independent JPEG stream, abbreviated when the JPEGTables tag
    // carries the shared DQT/DHT segments — splice them after the SOI and
    // decode through the native T.81 decoder (luma out, matching Gray).
    if (comp == 7) {
      if (photo != 0 && photo != 1 && photo != 2 && photo != 6) return null
      val tables: Array[Byte] =
        if (jpegTablesOff >= 0 && jpegTablesLen >= 4 &&
          jpegTablesOff.toLong + jpegTablesLen <= b.length)
          java.util.Arrays.copyOfRange(b, jpegTablesOff, jpegTablesOff + jpegTablesLen)
        else null
      val px7 = new Array[Int](w * h)
      def decodeChunk(off: Int, len: Int): Gray = {
        if (off < 0 || len < 4 || off.toLong + len > b.length) return null
        val strip = java.util.Arrays.copyOfRange(b, off, off + len)
        val merged =
          if (tables == null ||
            (strip(0) & 0xFF) != 0xFF || (strip(1) & 0xFF) != 0xD8) strip
          else {
            // SOI + tables body (their own SOI/EOI dropped) + strip after SOI
            val out = new java.io.ByteArrayOutputStream(tables.length + strip.length)
            out.write(0xFF); out.write(0xD8)
            out.write(tables, 2, tables.length - 4)
            out.write(strip, 2, strip.length - 2)
            out.toByteArray
          }
        try Jpeg.decode(merged) catch { case _: Exception => null }
      }
      def paste(g: Gray, bw: Int, bh: Int, x0: Int, y0: Int): Boolean = {
        // JPEG pads to MCU multiples, so the decoded plane may exceed the
        // block; it must cover the in-image part of it
        val needW = math.min(bw, w - x0)
        val needH = math.min(bh, h - y0)
        if (g == null || g.w < needW || g.h < needH) return false
        var y = 0
        while (y < needH) {
          var x = 0
          while (x < needW) {
            px7((y0 + y) * w + (x0 + x)) = g.px(y * g.w + x)
            x += 1
          }
          y += 1
        }
        true
      }
      if (tiled) {
        val across = (w + tileW - 1) / tileW
        val down = (h + tileH - 1) / tileH
        if (tileOffsets.length < across * down) return null
        var t = 0
        while (t < across * down) {
          if (!paste(decodeChunk(tileOffsets(t), tileCounts(t)),
            tileW, tileH, (t % across) * tileW, (t / across) * tileH)) return null
          t += 1
        }
      } else {
        var row0 = 0
        var s = 0
        while (s < stripOffsets.length && row0 < h) {
          val rows = math.min(rowsPerStrip, h - row0)
          if (!paste(decodeChunk(stripOffsets(s), stripCounts(s)),
            w, rows, 0, row0)) return null
          row0 += rows
          s += 1
        }
        if (row0 < h) return null
      }
      return Gray(w, h, px7)
    }
    val palette: Array[Int] =
      if (photo == 3) {
        if (colorMapOff < 0 || colorMapCount < 3 * 256) return null
        // ColorMap: 16-bit R[256] G[256] B[256]
        Array.tabulate(256) { k =>
          luma(u16(colorMapOff + k * 2) >> 8,
            u16(colorMapOff + (256 + k) * 2) >> 8,
            u16(colorMapOff + (512 + k) * 2) >> 8)
        }
      } else null

    val px = new Array[Int](w * h)

    // Decompress one strip/tile to exactly `expect` bytes (null = reject;
    // the caller surfaces it as a whole-image null and the row falls back
    // to ImageIO).
    def decompress(off: Int, len: Int, expect: Int): Array[Byte] = {
      if (off < 0 || len < 0 || off.toLong + len > b.length) return null
      comp match {
        case 1 =>
          if (len < expect) null
          else java.util.Arrays.copyOfRange(b, off, off + expect)
        case 5 =>
          // bound = plane size + slack for writers that pad the final run
          try graft.engine.Pdf.lzwDecode(
            java.util.Arrays.copyOfRange(b, off, off + len), 1, expect + 8192)
          catch { case _: Exception => null }
        case 8 | 32946 =>
          val inf = new java.util.zip.Inflater()
          inf.setInput(b, off, len)
          val out = new Array[Byte](expect)
          var got = 0
          var stalled = false
          while (got < expect && !inf.finished() && !stalled) {
            val k = inf.inflate(out, got, expect - got)
            if (k == 0 && inf.needsInput()) stalled = true
            got += k
          }
          inf.end()
          if (got < expect) null else out
        case 32773 =>
          val out = new java.io.ByteArrayOutputStream(expect)
          var p = off
          var bad = false
          while (out.size() < expect && p < off + len && !bad) {
            val c = b(p).toInt // signed per PackBits
            p += 1
            if (c >= 0) { // literal run of c+1
              if (p + c + 1 > b.length) bad = true
              else { out.write(b, p, c + 1); p += c + 1 }
            } else if (c != -128) { // repeat next byte 1-c times
              if (p >= b.length) bad = true
              else {
                var k = 0
                while (k < 1 - c) { out.write(b(p)); k += 1 }
                p += 1
              }
            }
          }
          if (bad) null else out.toByteArray
        case _ => null // CCITT / JPEG-in-TIFF: ImageIO fallback
      }
    }

    // Apply the horizontal-differencing predictor across a block row, then
    // convert the in-bounds pixels of the block (full stride `bw`, placed
    // at x0/y0 — identity placement for strips, the 2-D grid for tiles).
    def emit(raw: Array[Byte], bw: Int, rows: Int, x0: Int, y0: Int): Unit = {
      val bstride = bw * channels
      var y = 0
      while (y < rows && y0 + y < h) {
        val ro = y * bstride
        if (predictor == 2) { // horizontal differencing, per channel
          var x = channels
          while (x < bstride) {
            raw(ro + x) = ((raw(ro + x) + raw(ro + x - channels)) & 0xFF).toByte
            x += 1
          }
        }
        var x = 0
        while (x < bw && x0 + x < w) {
          val v = raw(ro + x * channels) & 0xFF
          px((y0 + y) * w + (x0 + x)) =
            if (palette != null) palette(v)
            else if (photo == 0) 255 - v // WhiteIsZero
            else if (channels >= 3) luma(v, raw(ro + x * channels + 1) & 0xFF,
              raw(ro + x * channels + 2) & 0xFF)
            else v
          x += 1
        }
        y += 1
      }
    }

    // 16-bit samples (gray or RGB): byte-level decompression is shared
    // with the 8-bit path; samples read in FILE byte order, predictor 2
    // applied on 16-bit lanes, mapped to 8-bit via the high byte (the
    // standard display downconversion — signature stability is what the
    // pipeline needs, not radiometric precision).
    if (bits == 16) {
      if (photo != 0 && photo != 1 && photo != 2) return null
      def emit16(raw: Array[Byte], bw: Int, rows: Int, x0: Int, y0: Int): Boolean = {
        val lane = bw * channels
        if (raw.length < rows * lane * 2) return false
        val samples = new Array[Int](rows * lane)
        var i = 0
        while (i < rows * lane) {
          val o = i * 2
          samples(i) =
            if (little) (raw(o) & 0xFF) | ((raw(o + 1) & 0xFF) << 8)
            else ((raw(o) & 0xFF) << 8) | (raw(o + 1) & 0xFF)
          i += 1
        }
        if (predictor == 2) {
          var y = 0
          while (y < rows) {
            var x = channels
            while (x < lane) {
              samples(y * lane + x) = (samples(y * lane + x) + samples(y * lane + x - channels)) & 0xFFFF
              x += 1
            }
            y += 1
          }
        }
        var y = 0
        while (y < rows && y0 + y < h) {
          var x = 0
          while (x < bw && x0 + x < w) {
            val base = y * lane + x * channels
            val v =
              if (channels >= 3) luma(samples(base) >> 8, samples(base + 1) >> 8, samples(base + 2) >> 8)
              else samples(base) >> 8
            px((y0 + y) * w + (x0 + x)) = if (photo == 0) 255 - v else v
            x += 1
          }
          y += 1
        }
        true
      }
      if (tiled) {
        val across = (w + tileW - 1) / tileW
        val down = (h + tileH - 1) / tileH
        if (tileOffsets.length < across * down) return null
        val expectL = tileW.toLong * tileH * channels * 2
        if (expectL > (1L << 29)) return null
        var t = 0
        while (t < across * down) {
          val raw = decompress(tileOffsets(t), tileCounts(t), expectL.toInt)
          if (raw == null || !emit16(raw, tileW, tileH,
            (t % across) * tileW, (t / across) * tileH)) return null
          t += 1
        }
      } else {
        var row0 = 0
        var s = 0
        while (s < stripOffsets.length && row0 < h) {
          val rows = math.min(rowsPerStrip, h - row0)
          val raw = decompress(stripOffsets(s), stripCounts(s), rows * w * channels * 2)
          if (raw == null || !emit16(raw, w, rows, 0, row0)) return null
          row0 += rows
          s += 1
        }
        if (row0 < h) return null
      }
      return Gray(w, h, px)
    }

    if (tiled) {
      // TIFF 6.0 §15: tiles are a ceil(w/tw) x ceil(h/th) grid in
      // left-to-right, top-to-bottom order; EVERY tile decompresses to the
      // full tw x th plane (edge tiles padded by the writer).
      val across = (w + tileW - 1) / tileW
      val down = (h + tileH - 1) / tileH
      if (tileOffsets.length < across * down) return null
      // Long math + explicit cap (mirrors intArray): with channels now
      // bounded <=4 this cannot overflow, but keep the belt-and-braces
      // bound so a future channel relaxation can't silently reopen it.
      val expectL = tileW.toLong * tileH * channels
      if (expectL > (1L << 28)) return null
      val expect = expectL.toInt
      var t = 0
      while (t < across * down) {
        val raw = decompress(tileOffsets(t), tileCounts(t), expect)
        if (raw == null || raw.length < expect) return null
        emit(raw, tileW, tileH, (t % across) * tileW, (t / across) * tileH)
        t += 1
      }
    } else {
      val stride = w * channels
      var row0 = 0
      var s = 0
      while (s < stripOffsets.length && row0 < h) {
        val rows = math.min(rowsPerStrip, h - row0)
        val raw = decompress(stripOffsets(s), stripCounts(s), rows * stride)
        if (raw == null || raw.length < rows * stride) return null
        emit(raw, w, rows, 0, row0)
        row0 += rows
        s += 1
      }
      if (row0 < h) return null
    }
    Gray(w, h, px)
  }

  /** GIF: first image block, global color table, LZW decode; 89a extension
    * blocks skipped. Interlaced images de-interlaced per spec. */
  private def decodeGif(b: Array[Byte]): Gray = {
    val sw = le16(b, 6); val sh = le16(b, 8)
    val flags = b(10) & 0xFF
    var p = 13
    var palette: Array[Int] = null
    if ((flags & 0x80) != 0) {
      val n = 2 << (flags & 7)
      palette = Array.tabulate(n)(i => luma(b(p + i * 3) & 0xFF, b(p + i * 3 + 1) & 0xFF, b(p + i * 3 + 2) & 0xFF))
      p += n * 3
    }
    // skip extensions until the image descriptor
    while (p < b.length && (b(p) & 0xFF) == 0x21) {
      p += 2 // introducer + label
      while ((b(p) & 0xFF) != 0) p += (b(p) & 0xFF) + 1
      p += 1
    }
    if (p >= b.length || (b(p) & 0xFF) != 0x2C) return null
    val iw = le16(b, p + 5); val ih = le16(b, p + 7)
    val iflags = b(p + 9) & 0xFF
    p += 10
    if ((iflags & 0x80) != 0) { // local color table wins
      val n = 2 << (iflags & 7)
      palette = Array.tabulate(n)(i => luma(b(p + i * 3) & 0xFF, b(p + i * 3 + 1) & 0xFF, b(p + i * 3 + 2) & 0xFF))
      p += n * 3
    }
    if (palette == null) return null
    val interlaced = (iflags & 0x40) != 0
    val minCode = b(p) & 0xFF; p += 1
    // concatenate sub-blocks
    val data = new java.io.ByteArrayOutputStream()
    while (p < b.length && (b(p) & 0xFF) != 0) {
      val n = b(p) & 0xFF
      data.write(b, p + 1, n)
      p += n + 1
    }
    val indices = lzwDecode(data.toByteArray, minCode, iw * ih)
    if (indices == null) return null
    val px = new Array[Int](iw * ih)
    if (!interlaced) {
      var i = 0
      while (i < px.length) { px(i) = palette(indices(i) % palette.length); i += 1 }
    } else {
      // pass starts/steps per GIF spec
      val starts = Array(0, 4, 2, 1); val steps = Array(8, 8, 4, 2)
      var src = 0
      var pass = 0
      while (pass < 4) {
        var y = starts(pass)
        while (y < ih) {
          var x = 0
          while (x < iw) { px(y * iw + x) = palette(indices(src) % palette.length); src += 1; x += 1 }
          y += steps(pass)
        }
        pass += 1
      }
    }
    Gray(if (iw > 0) iw else sw, if (ih > 0) ih else sh, px)
  }

  /** Animated-GIF frame extraction: every frame composited onto the
    * logical-screen canvas per the GIF89a disposal model (0/1 leave,
    * 2 restore-to-background over the frame rect, 3 restore-to-previous)
    * with transparency honored, each snapshot re-encoded as a grayscale
    * PNG payload — the byte shape [[MediaKernels.videoFrames]] hands the
    * image tier, so animated GIFs get the same frame signatures as MJPEG
    * AVI / JPEG MP4. Canvas starts at the background-color luma (black
    * when no global palette). Returns null for non-GIF, an empty array
    * when nothing composites (hard cap 512 frames — sampling happens in
    * the caller); never throws on hostile bytes. */
  /** APNG animation (pure chunk structure over the still-PNG decoder —
    * no new tables): acTL declares the animation, each fcTL describes a
    * frame region (x, y, w, h, dispose_op, blend_op); the first frame's
    * data rides the ordinary IDAT stream when its fcTL precedes IDAT,
    * later frames ride fdAT chunks (IDAT payload behind a 4-byte
    * sequence number). Frames composite onto the canvas — dispose 0
    * none / 1 background / 2 previous (region-scoped; a first-frame
    * dispose 2 demotes to 1 per spec), blend 0 source / 1 over, both
    * alpha-weighted in the grayscale projection (transparent → luma
    * 0) — and every composited state snapshots as a grayscale PNG,
    * exactly the GIF/animated-WebP contract. Null when not a PNG or
    * when no acTL precedes IDAT (still PNGs stay in the image tier). */
  private[functions] def apngFrames(b: Array[Byte]): Array[Array[Byte]] = {
    try {
      val parsed = apngParse(b)
      if (parsed == null) return null
      val (w, h, ihdrTail, plteRaw, fcs) = parsed
      val canvas = new Array[Int](w * h)
      val frames = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
      val hasAlphaCh = (ihdrTail(1) & 0xFF) == 4 || (ihdrTail(1) & 0xFF) == 6
      fcs.foreach { fc =>
        if (frames.length < 512 && fc.data.length > 0) {
          val mini = apngMiniPng(fc.w, fc.h, ihdrTail, plteRaw, fc.data)
          val alpha = if (hasAlphaCh) Array.fill(fc.w * fc.h)(255) else null
          val g = decodePng(mini, alpha)
          if (g != null && g.px.length == fc.w * fc.h) {
            val dispose = if (fc.dispose == 2 && frames.isEmpty) 1 else fc.dispose
            val before = if (dispose == 2) canvas.clone() else null
            var y = 0
            while (y < fc.h) {
              val cy = fc.y + y
              if (cy >= 0 && cy < h) {
                var x = 0
                while (x < fc.w) {
                  val cx = fc.x + x
                  if (cx >= 0 && cx < w) {
                    val l = g.px(y * fc.w + x)
                    val a = if (alpha == null) 255 else alpha(y * fc.w + x)
                    canvas(cy * w + cx) =
                      if (fc.blend == 1) (l * a + canvas(cy * w + cx) * (255 - a)) / 255
                      else l * a / 255 // source replaces, incl. alpha
                  }
                  x += 1
                }
              }
              y += 1
            }
            frames += encodePng(w, h, canvas.clone())
            dispose match {
              case 1 =>
                var ry = math.max(0, fc.y)
                while (ry < math.min(h, fc.y + fc.h)) {
                  var rx = math.max(0, fc.x)
                  while (rx < math.min(w, fc.x + fc.w)) { canvas(ry * w + rx) = 0; rx += 1 }
                  ry += 1
                }
              case 2 => System.arraycopy(before, 0, canvas, 0, canvas.length)
              case _ => ()
            }
          }
        }
      }
      frames.toArray
    } catch { case _: Exception => null }
  }

  /** (w, h, durationMs) of an APNG for video_meta — delays sum over the
    * fcTLs (delay_den 0 means 100 per spec). Null when not an APNG. */
  private[functions] def apngMeta(b: Array[Byte]): Array[Long] = {
    val parsed = try apngParse(b) catch { case _: Exception => null }
    if (parsed == null) return null
    val (w, h, _, _, fcs) = parsed
    var durMs = 0L
    fcs.foreach { fc =>
      val den = if (fc.delayDen == 0) 100 else fc.delayDen
      durMs += fc.delayNum * 1000L / den
    }
    Array(w.toLong, h.toLong, durMs)
  }

  private final case class ApngFc(w: Int, h: Int, x: Int, y: Int,
                                  delayNum: Int, delayDen: Int,
                                  dispose: Int, blend: Int,
                                  data: Array[Byte])

  /** One chunk walk: (canvasW, canvasH, IHDR bytes 8..12 (depth/color/
    * compression/filter/interlace), raw PLTE chunk or null, frames in
    * stream order). Null unless PNG signature + an acTL before IDAT. */
  private def apngParse(b: Array[Byte])
      : (Int, Int, Array[Byte], Array[Byte], Seq[ApngFc]) = {
    if (b == null || b.length < 41 || (b(0) & 0xFF) != 0x89 ||
      b(1) != 'P' || b(2) != 'N' || b(3) != 'G') return null
    val w = be32(b, 16); val h = be32(b, 20)
    if (w <= 0 || h <= 0 || w.toLong * h > 16L * 1024 * 1024) return null
    val ihdrTail = java.util.Arrays.copyOfRange(b, 24, 29)
    var plteRaw: Array[Byte] = null
    var hasActl = false
    var sawIdat = false
    val fcs = scala.collection.mutable.ArrayBuffer.empty[(Array[Int], java.io.ByteArrayOutputStream)]
    var p = 8
    var stop = false
    while (!stop && p + 8 <= b.length) {
      val len = be32(b, p)
      if (len < 0 || p + 12L + len > b.length) stop = true
      else {
        val typ = new String(b, p + 4, 4, "US-ASCII")
        val d = p + 8
        typ match {
          case "acTL" => if (!sawIdat) hasActl = true
          case "PLTE" =>
            plteRaw = java.util.Arrays.copyOfRange(b, p, p + 12 + len)
          case "fcTL" if len >= 26 && fcs.length < 512 =>
            fcs += ((Array(be32(b, d + 4), be32(b, d + 8), be32(b, d + 12),
              be32(b, d + 16),
              ((b(d + 20) & 0xFF) << 8) | (b(d + 21) & 0xFF),
              ((b(d + 22) & 0xFF) << 8) | (b(d + 23) & 0xFF),
              b(d + 24) & 0xFF, b(d + 25) & 0xFF),
              new java.io.ByteArrayOutputStream()))
          case "IDAT" =>
            // part of the animation only when the FIRST fcTL precedes
            // IDAT (fcs nonempty by now); a default image whose fcTL
            // comes later is not a frame — its data must not attach
            if (fcs.length == 1) fcs.head._2.write(b, d, len)
            sawIdat = true
          case "fdAT" if len >= 4 && fcs.nonEmpty =>
            fcs.last._2.write(b, d + 4, len - 4)
          case "IEND" => stop = true
          case _ => ()
        }
        p += 12 + len
      }
    }
    if (!hasActl) return null
    val out = fcs.toSeq.flatMap { case (f, data) =>
      val fw = f(0); val fh = f(1)
      if (fw <= 0 || fh <= 0 || fw.toLong * fh > 16L * 1024 * 1024) None
      else Some(ApngFc(fw, fh, f(2), f(3), f(4), f(5), f(6), f(7),
        data.toByteArray))
    }
    (w, h, ihdrTail, plteRaw, out)
  }

  /** Per-frame mini-PNG for the still decoder: same depth/color/
    * interlace as the parent IHDR, the frame's region dimensions, the
    * parent's PLTE, the frame's data as IDAT. decodePng ignores chunk
    * CRCs, so none are computed. */
  private def apngMiniPng(fw: Int, fh: Int, ihdrTail: Array[Byte],
                          plteRaw: Array[Byte], data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte), 0, 8)
    def u32(v: Int): Unit = {
      out.write((v >> 24) & 0xFF); out.write((v >> 16) & 0xFF)
      out.write((v >> 8) & 0xFF); out.write(v & 0xFF)
    }
    u32(13); out.write("IHDR".getBytes("US-ASCII"))
    u32(fw); u32(fh); out.write(ihdrTail, 0, 5); u32(0)
    if (plteRaw != null) out.write(plteRaw, 0, plteRaw.length)
    u32(data.length); out.write("IDAT".getBytes("US-ASCII"))
    out.write(data, 0, data.length); u32(0)
    u32(0); out.write("IEND".getBytes("US-ASCII")); u32(0)
    out.toByteArray
  }

  /** APNG fixture frame: a region at (x, y) with dispose/blend ops; a
    * null `alpha` paints opaque. */
  final case class ApngFrame(x: Int, y: Int, w: Int, h: Int,
                             dispose: Int, blend: Int,
                             gray: Array[Int], alpha: Array[Int] = null)

  /** APNG fixture encoder: grayscale (color type 0) unless any frame
    * carries alpha (then gray+alpha, color type 4, missing alphas
    * opaque). First frame must be full-canvas per spec. Frame 0's data
    * rides IDAT behind its fcTL; later frames ride fdAT with the shared
    * sequence counter. */
  def encodeApng(w: Int, h: Int, frames: Seq[ApngFrame],
                 delayNum: Int = 4, delayDen: Int = 100): Array[Byte] = {
    require(frames.nonEmpty && frames.head.w == w && frames.head.h == h &&
      frames.head.x == 0 && frames.head.y == 0, "first frame must be full-canvas")
    val withAlpha = frames.exists(_.alpha != null)
    val channels = if (withAlpha) 2 else 1
    def deflate(f: ApngFrame): Array[Byte] = {
      val raw = new Array[Byte]((f.w * channels + 1) * f.h)
      var y = 0
      while (y < f.h) {
        var x = 0
        while (x < f.w) {
          val o = y * (f.w * channels + 1) + 1 + x * channels
          raw(o) = (f.gray(y * f.w + x) & 0xFF).toByte
          if (withAlpha)
            raw(o + 1) = (if (f.alpha == null) 255 else f.alpha(y * f.w + x) & 0xFF).toByte
          x += 1
        }
        y += 1
      }
      val defl = new java.util.zip.Deflater()
      defl.setInput(raw); defl.finish()
      val comp = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      while (!defl.finished()) comp.write(buf, 0, defl.deflate(buf))
      defl.end()
      comp.toByteArray
    }
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte), 0, 8)
    def chunk(typ: String, data: Array[Byte]): Unit = {
      val len = data.length
      out.write(Array((len >> 24).toByte, (len >> 16).toByte, (len >> 8).toByte, len.toByte), 0, 4)
      val tb = typ.getBytes("US-ASCII")
      out.write(tb, 0, 4)
      out.write(data, 0, data.length)
      val crc = new java.util.zip.CRC32()
      crc.update(tb); crc.update(data)
      val c = crc.getValue
      out.write(Array((c >> 24).toByte, (c >> 16).toByte, (c >> 8).toByte, c.toByte), 0, 4)
    }
    def u32b(v: Int): Array[Byte] =
      Array((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    def u16b(v: Int): Array[Byte] = Array((v >> 8).toByte, v.toByte)
    chunk("IHDR", u32b(w) ++ u32b(h) ++
      Array[Byte](8, if (withAlpha) 4 else 0, 0, 0, 0))
    chunk("acTL", u32b(frames.length) ++ u32b(0))
    var seq = 0
    frames.zipWithIndex.foreach { case (f, i) =>
      chunk("fcTL", u32b(seq) ++ u32b(f.w) ++ u32b(f.h) ++ u32b(f.x) ++
        u32b(f.y) ++ u16b(delayNum) ++ u16b(delayDen) ++
        Array(f.dispose.toByte, f.blend.toByte))
      seq += 1
      val data = deflate(f)
      if (i == 0) chunk("IDAT", data)
      else { chunk("fdAT", u32b(seq) ++ data); seq += 1 }
    }
    chunk("IEND", Array.empty)
    out.toByteArray
  }

  private[functions] def gifFrames(b: Array[Byte]): Array[Array[Byte]] = {
    try {
      if (b == null || b.length < 14 ||
        !(b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8')) return null
      val sw = le16(b, 6); val sh = le16(b, 8)
      if (sw <= 0 || sh <= 0 || sw.toLong * sh > 16L * 1024 * 1024) return Array.empty
      val flags = b(10) & 0xFF
      val bgIndex = b(11) & 0xFF
      var p = 13
      var global: Array[Int] = null
      if ((flags & 0x80) != 0) {
        val n = 2 << (flags & 7)
        if (p + n * 3 > b.length) return Array.empty
        global = Array.tabulate(n)(i =>
          luma(b(p + i * 3) & 0xFF, b(p + i * 3 + 1) & 0xFF, b(p + i * 3 + 2) & 0xFF))
        p += n * 3
      }
      val bgLuma = if (global != null && bgIndex < global.length) global(bgIndex) else 0
      val canvas = Array.fill(sw * sh)(bgLuma)
      val frames = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
      var disposal = 0
      var transparent = -1
      while (p < b.length && frames.length < 512) {
        (b(p) & 0xFF) match {
          case 0x21 => // extension: GCE carries disposal + transparency
            if (p + 2 < b.length && (b(p + 1) & 0xFF) == 0xF9 &&
              (b(p + 2) & 0xFF) >= 4 && p + 6 < b.length) {
              val packed = b(p + 3) & 0xFF
              disposal = (packed >> 2) & 7
              transparent = if ((packed & 1) != 0) b(p + 6) & 0xFF else -1
            }
            p += 2
            while (p < b.length && (b(p) & 0xFF) != 0) p += (b(p) & 0xFF) + 1
            p += 1
          case 0x2C =>
            val ix = le16(b, p + 1); val iy = le16(b, p + 3)
            val iw = le16(b, p + 5); val ih = le16(b, p + 7)
            val iflags = b(p + 9) & 0xFF
            p += 10
            var pal = global
            if ((iflags & 0x80) != 0) {
              val n = 2 << (iflags & 7)
              if (p + n * 3 > b.length) return frames.toArray
              pal = Array.tabulate(n)(i =>
                luma(b(p + i * 3) & 0xFF, b(p + i * 3 + 1) & 0xFF, b(p + i * 3 + 2) & 0xFF))
              p += n * 3
            }
            if (pal == null || iw <= 0 || ih <= 0 || iw.toLong * ih > 16L * 1024 * 1024 ||
              p >= b.length) return frames.toArray
            val interlaced = (iflags & 0x40) != 0
            val minCode = b(p) & 0xFF; p += 1
            val data = new java.io.ByteArrayOutputStream()
            while (p < b.length && (b(p) & 0xFF) != 0) {
              val n = b(p) & 0xFF
              if (p + 1 + n > b.length) return frames.toArray
              data.write(b, p + 1, n); p += n + 1
            }
            p += 1
            val raw = lzwDecode(data.toByteArray, minCode, iw * ih)
            if (raw == null) return frames.toArray
            // de-interlace into raster order before painting
            val idx =
              if (!interlaced) raw
              else {
                val out = new Array[Int](iw * ih)
                val starts = Array(0, 4, 2, 1); val steps = Array(8, 8, 4, 2)
                var src = 0; var pass = 0
                while (pass < 4) {
                  var y = starts(pass)
                  while (y < ih) {
                    var x = 0
                    while (x < iw) { out(y * iw + x) = raw(src); src += 1; x += 1 }
                    y += steps(pass)
                  }
                  pass += 1
                }
                out
              }
            val before = if (disposal == 3) canvas.clone() else null
            var y = 0
            while (y < ih) {
              val cy = iy + y
              if (cy >= 0 && cy < sh) {
                var x = 0
                while (x < iw) {
                  val cx = ix + x
                  val v = idx(y * iw + x)
                  if (cx >= 0 && cx < sw && v != transparent)
                    canvas(cy * sw + cx) = pal(v % pal.length)
                  x += 1
                }
              }
              y += 1
            }
            frames += encodePng(sw, sh, canvas.clone())
            disposal match {
              case 2 => // restore the frame rect to background
                var ry = math.max(0, iy)
                while (ry < math.min(sh, iy + ih)) {
                  var rx = math.max(0, ix)
                  while (rx < math.min(sw, ix + iw)) { canvas(ry * sw + rx) = bgLuma; rx += 1 }
                  ry += 1
                }
              case 3 => if (before != null) System.arraycopy(before, 0, canvas, 0, canvas.length)
              case _ => ()
            }
            disposal = 0; transparent = -1
          case _ => p = b.length // trailer (0x3B) or garbage: stop cleanly
        }
      }
      frames.toArray
    } catch { case _: Exception => Array.empty }
  }

  /** GIF/TIFF-variant LZW with variable code width, clear + EOI codes. */
  private def lzwDecode(data: Array[Byte], minCodeSize: Int, expected: Int): Array[Int] = {
    val clear = 1 << minCodeSize
    val eoi = clear + 1
    var codeSize = minCodeSize + 1
    var dictSize = eoi + 1
    val maxDict = 4096
    val prefix = new Array[Int](maxDict)
    val suffix = new Array[Int](maxDict)
    var i = 0
    while (i < clear) { prefix(i) = -1; suffix(i) = i; i += 1 }
    val out = new Array[Int](expected)
    var outN = 0
    var bitPos = 0
    var prevCode = -1
    val stack = new Array[Int](maxDict + 1) // KwKwK string = prev + 1 symbol
    def readCode(): Int = {
      if ((bitPos + codeSize - 1) / 8 >= data.length) return -1
      var v = 0; var k = 0
      while (k < codeSize) {
        val byte = data((bitPos + k) / 8) & 0xFF
        if ((byte & (1 << ((bitPos + k) % 8))) != 0) v |= 1 << k
        k += 1
      }
      bitPos += codeSize
      v
    }
    var done = false
    while (!done && outN < expected) {
      val code = readCode()
      if (code < 0 || code == eoi) done = true
      else if (code == clear) {
        codeSize = minCodeSize + 1; dictSize = eoi + 1; prevCode = -1
      } else {
        var sp = 0
        var firstSym = 0
        if (code < dictSize) {
          firstSym = firstOf(prefix, suffix, code)
          var c = code
          while (c >= 0) { stack(sp) = suffix(c); sp += 1; c = prefix(c) }
        } else {
          // KwKwK case: code == dictSize; emit prev + first(prev)
          if (prevCode < 0 || code != dictSize) return null
          firstSym = firstOf(prefix, suffix, prevCode)
          stack(sp) = firstSym; sp += 1 // pops LAST — trailing symbol
          var c = prevCode
          while (c >= 0) { stack(sp) = suffix(c); sp += 1; c = prefix(c) }
        }
        while (sp > 0 && outN < expected) { sp -= 1; out(outN) = stack(sp); outN += 1 }
        if (prevCode >= 0 && dictSize < maxDict) {
          prefix(dictSize) = prevCode
          suffix(dictSize) = firstSym
          dictSize += 1
          if (dictSize == (1 << codeSize) && codeSize < 12) codeSize += 1
        }
        prevCode = code
      }
    }
    if (outN < expected) null else out
  }

  private def firstOf(prefix: Array[Int], suffix: Array[Int], code0: Int): Int = {
    var c = code0
    while (prefix(c) >= 0) c = prefix(c)
    suffix(c)
  }

  /** javax.imageio fallback (JPEG et al — platform decoder, hashes over it
    * are NOT guaranteed bit-stable across JVM vendors; see object doc). */
  private def decodeImageIo(b: Array[Byte]): Gray = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b))
    if (img == null) return null
    val w = img.getWidth; val h = img.getHeight
    val px = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        px(y * w + x) = luma((rgb >> 16) & 0xFF, (rgb >> 8) & 0xFF, rgb & 0xFF)
        x += 1
      }
      y += 1
    }
    Gray(w, h, px)
  }

  // ==================================================== perceptual hashes

  /** Exact integer box-mean downsample to tw×th (nearest-pixel when the
    * source is smaller than the target grid). */
  private[functions] def downsample(g: Gray, tw: Int, th: Int): Array[Int] = {
    val out = new Array[Int](tw * th)
    var ty = 0
    while (ty < th) {
      var y0 = ty * g.h / th; var y1 = (ty + 1) * g.h / th
      if (y1 <= y0) { y0 = math.min(y0, g.h - 1); y1 = y0 + 1 }
      var tx = 0
      while (tx < tw) {
        var x0 = tx * g.w / tw; var x1 = (tx + 1) * g.w / tw
        if (x1 <= x0) { x0 = math.min(x0, g.w - 1); x1 = x0 + 1 }
        var sum = 0L
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) { sum += g.px(y * g.w + x); x += 1 }
          y += 1
        }
        out(ty * tw + tx) = (sum / ((y1 - y0).toLong * (x1 - x0))).toInt
        tx += 1
      }
      ty += 1
    }
    out
  }

  /** aHash: 8×8 box means, bit k set iff cell k > integer mean. */
  def ahash(bytes: Array[Byte]): java.lang.Long = {
    val g = decodeGray(bytes)
    if (g == null) return null
    val cells = downsample(g, 8, 8)
    var sum = 0L
    var i = 0
    while (i < 64) { sum += cells(i); i += 1 }
    val mean = sum / 64
    var h = 0L
    i = 0
    while (i < 64) { if (cells(i) > mean) h |= (1L << i); i += 1 }
    h
  }

  /** dHash: 9×8 box means, bit = left cell > right neighbor (row-major). */
  def dhash(bytes: Array[Byte]): java.lang.Long = {
    val g = decodeGray(bytes)
    if (g == null) return null
    val cells = downsample(g, 9, 8)
    var h = 0L
    var r = 0
    while (r < 8) {
      var c = 0
      while (c < 8) {
        if (cells(r * 9 + c) > cells(r * 9 + c + 1)) h |= (1L << (r * 8 + c))
        c += 1
      }
      r += 1
    }
    h
  }

  /** pHash: 32×32 box means → 2D DCT-II (StrictMath basis — bit-stable on
    * every JVM) → top-left 8×8 coefficients, bit k set iff coefficient k >
    * median of the 63 non-DC coefficients. */
  def phash(bytes: Array[Byte]): java.lang.Long = {
    val g = decodeGray(bytes)
    if (g == null) return null
    val n = 32
    val cells = downsample(g, n, n)
    // separable DCT-II restricted to the first 8 output rows/cols
    val basis = phashBasis // precomputed StrictMath cos table [8][32]
    val tmp = Array.ofDim[Double](8, n) // rows DCT'd in u, original columns
    var u = 0
    while (u < 8) {
      var x = 0
      while (x < n) {
        var s = 0.0
        var y = 0
        while (y < n) { s += cells(y * n + x) * basis(u)(y); y += 1 }
        tmp(u)(x) = s
        x += 1
      }
      u += 1
    }
    val coef = new Array[Double](64)
    u = 0
    while (u < 8) {
      var v = 0
      while (v < 8) {
        var s = 0.0
        var x = 0
        while (x < n) { s += tmp(u)(x) * basis(v)(x); x += 1 }
        coef(u * 8 + v) = s
        v += 1
      }
      u += 1
    }
    val nonDc = java.util.Arrays.copyOfRange(coef, 1, 64)
    java.util.Arrays.sort(nonDc)
    val med = nonDc(31) // lower median of 63 values
    var h = 0L
    var i = 0
    while (i < 64) { if (coef(i) > med) h |= (1L << i); i += 1 }
    h
  }

  private lazy val phashBasis: Array[Array[Double]] =
    Array.tabulate(8, 32)((u, y) =>
      StrictMath.cos((2 * y + 1) * u * StrictMath.PI / 64.0))

  /** Dispatch for the codegen'd expression: 0=ahash, 1=dhash, 2=phash. */
  def perceptualHash(bytes: Array[Byte], kind: Int): java.lang.Long = kind match {
    case 0 => ahash(bytes)
    case 1 => dhash(bytes)
    case _ => phash(bytes)
  }

  /** Grayscale thumbnail: decode → exact integer box-mean downsample →
    * 8-bit gray PNG. The resize step of the multimodal pipeline (training
    * thumbnails, preview sinks); deterministic bytes (Deflater default
    * level, filter-0 rows). NULL when the payload is undecodable. */
  def thumbnail(bytes: Array[Byte], w: Int, h: Int): Array[Byte] = {
    val g = decodeGray(bytes)
    if (g == null) return null
    encodePng(w, h, downsample(g, w, h))
  }

  // ================================================ fixture/sink encoders

  /** Minimal 24-bpp BI_RGB BMP from row-major grayscale. */
  def encodeBmp(w: Int, h: Int, gray: Array[Int]): Array[Byte] = {
    val stride = ((w * 3 + 3) / 4) * 4
    val dataSize = stride * h
    val out = new Array[Byte](54 + dataSize)
    def w16(p: Int, v: Int): Unit = { out(p) = v.toByte; out(p + 1) = (v >> 8).toByte }
    def w32(p: Int, v: Int): Unit = {
      out(p) = v.toByte; out(p + 1) = (v >> 8).toByte
      out(p + 2) = (v >> 16).toByte; out(p + 3) = (v >> 24).toByte
    }
    out(0) = 'B'; out(1) = 'M'
    w32(2, 54 + dataSize); w32(10, 54); w32(14, 40)
    w32(18, w); w32(22, h) // bottom-up
    w16(26, 1); w16(28, 24); w32(34, dataSize)
    var y = 0
    while (y < h) {
      val ro = 54 + (h - 1 - y) * stride
      var x = 0
      while (x < w) {
        val v = (gray(y * w + x) & 0xFF).toByte
        out(ro + x * 3) = v; out(ro + x * 3 + 1) = v; out(ro + x * 3 + 2) = v
        x += 1
      }
      y += 1
    }
    out
  }

  /** Minimal 8-bit grayscale non-interlaced PNG (filter 0 rows). */
  def encodePng(w: Int, h: Int, gray: Array[Int]): Array[Byte] = {
    val raw = new Array[Byte]((w + 1) * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { raw(y * (w + 1) + 1 + x) = (gray(y * w + x) & 0xFF).toByte; x += 1 }
      y += 1
    }
    val defl = new java.util.zip.Deflater()
    defl.setInput(raw); defl.finish()
    val comp = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!defl.finished()) comp.write(buf, 0, defl.deflate(buf))
    defl.end()
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte), 0, 8)
    def chunk(typ: String, data: Array[Byte]): Unit = {
      val len = data.length
      out.write(Array((len >> 24).toByte, (len >> 16).toByte, (len >> 8).toByte, len.toByte), 0, 4)
      val tb = typ.getBytes("US-ASCII")
      out.write(tb, 0, 4)
      out.write(data, 0, data.length)
      val crc = new java.util.zip.CRC32()
      crc.update(tb); crc.update(data)
      val c = crc.getValue
      out.write(Array((c >> 24).toByte, (c >> 16).toByte, (c >> 8).toByte, c.toByte), 0, 4)
    }
    val ihdr = new Array[Byte](13)
    ihdr(0) = (w >> 24).toByte; ihdr(1) = (w >> 16).toByte; ihdr(2) = (w >> 8).toByte; ihdr(3) = w.toByte
    ihdr(4) = (h >> 24).toByte; ihdr(5) = (h >> 16).toByte; ihdr(6) = (h >> 8).toByte; ihdr(7) = h.toByte
    ihdr(8) = 8 // bit depth
    chunk("IHDR", ihdr)
    chunk("IDAT", comp.toByteArray)
    chunk("IEND", Array.empty)
    out.toByteArray
  }

  /** Header-only GIF87a (logical screen descriptor + trailer) — the meta
    * fixture shape; pixel-bearing GIFs come from real encoders. */
  def encodeGifHeader(w: Int, h: Int): Array[Byte] =
    Array[Byte]('G', 'I', 'F', '8', '7', 'a',
      w.toByte, (w >> 8).toByte, h.toByte, (h >> 8).toByte, 0, 0, 0, 0x3B)

  /** Animated-GIF fixture encoder: 256-entry gray global palette (index =
    * luma), one frame per (x, y, w, h, disposal, transparentIdx, indices)
    * tuple, LZW coded as 9-bit literal codes with a CLEAR every 250
    * symbols (valid, decodable by any reader — the "uncompressed LZW"
    * trick keeps the dictionary below the width bump). */
  def encodeGifAnimated(sw: Int, sh: Int,
                        frames: Seq[(Int, Int, Int, Int, Int, Int, Array[Int])],
                        bgIndex: Int = 0, delayCs: Int = 0): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write("GIF89a".getBytes("US-ASCII"))
    def w16(v: Int): Unit = { out.write(v & 0xFF); out.write((v >> 8) & 0xFF) }
    w16(sw); w16(sh)
    out.write(0xF7) // global palette present, 256 entries
    out.write(bgIndex); out.write(0)
    var i = 0
    while (i < 256) { out.write(i); out.write(i); out.write(i); i += 1 }
    frames.foreach { case (ix, iy, iw, ih, disposal, transparent, px) =>
      require(px.length == iw * ih, "gif frame: indices must cover the rect")
      out.write(0x21); out.write(0xF9); out.write(4)
      out.write(((disposal & 7) << 2) | (if (transparent >= 0) 1 else 0))
      out.write(delayCs & 0xFF); out.write((delayCs >> 8) & 0xFF)
      out.write(if (transparent >= 0) transparent else 0)
      out.write(0)
      out.write(0x2C); w16(ix); w16(iy); w16(iw); w16(ih); out.write(0)
      out.write(8) // min LZW code size
      // LSB-first 9-bit code stream: CLEAR, literals (re-CLEAR each 250), EOI
      val bits = new java.io.ByteArrayOutputStream()
      var acc = 0L; var nBits = 0
      def put(code: Int): Unit = {
        acc |= (code.toLong & 0x1FF) << nBits; nBits += 9
        while (nBits >= 8) { bits.write((acc & 0xFF).toInt); acc >>>= 8; nBits -= 8 }
      }
      put(256)
      var count = 0
      px.foreach { v =>
        if (count == 250) { put(256); count = 0 }
        put(v & 0xFF); count += 1
      }
      put(257)
      if (nBits > 0) bits.write((acc & 0xFF).toInt)
      val bb = bits.toByteArray
      var off = 0
      while (off < bb.length) {
        val n = math.min(255, bb.length - off)
        out.write(n); out.write(bb, off, n); off += n
      }
      out.write(0)
    }
    out.write(0x3B)
    out.toByteArray
  }

  /** Minimal JPEG: SOI + EXIF APP1 (orientation) + SOF0 (dims) + EOI — a
    * structurally valid header stream with no entropy data, exactly what
    * the meta parser consumes. */
  def encodeJpegHeader(w: Int, h: Int, orientation: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(0xFF); out.write(0xD8)
    // APP1 EXIF, little-endian TIFF, one IFD0 entry (0x0112 SHORT 1)
    val tiff = Array[Byte](
      'I', 'I', 42, 0, 8, 0, 0, 0, // II, 42, IFD0 @ 8
      1, 0, // 1 entry
      0x12, 0x01, 3, 0, 1, 0, 0, 0, orientation.toByte, 0, 0, 0,
      0, 0, 0, 0) // next IFD = none
    val app1 = "Exif".getBytes("US-ASCII") ++ Array[Byte](0, 0) ++ tiff
    out.write(0xFF); out.write(0xE1)
    val l1 = app1.length + 2
    out.write(l1 >> 8); out.write(l1 & 0xFF); out.write(app1, 0, app1.length)
    // SOF0: precision 8, h, w, 1 component
    out.write(0xFF); out.write(0xC0)
    val sof = Array[Byte](8, (h >> 8).toByte, h.toByte, (w >> 8).toByte, w.toByte,
      1, 1, 0x11, 0)
    val l2 = sof.length + 2
    out.write(l2 >> 8); out.write(l2 & 0xFF); out.write(sof, 0, sof.length)
    out.write(0xFF); out.write(0xD9)
    out.toByteArray
  }
}
