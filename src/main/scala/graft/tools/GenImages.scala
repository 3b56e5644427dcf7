package graft.tools

import graft.functions.ImageKernels

/** Deterministic image fixtures for the oracle gate: every byte derivable
  * from the doc_id alone, so a DuckDB oracle can state the expected
  * metadata / dedup grouping in closed form without ever decoding pixels.
  *
  * Meta fixture (q_image_meta): format rotates bmp/png/gif/jpeg by id%4;
  * width = 16 + (id%5)·8, height = 12 + (id%3)·8; orientation
  * 1 + id%8 for jpeg, else 0. BMP/PNG carry real pixels (the native
  * encoders), GIF/JPEG are structurally-valid header fixtures — the
  * metadata path never decodes pixels, which is the point of the pass.
  *
  * Dedup fixture (q_image_phash_dedup): 64×64 blocky pattern seeded by
  * id%250 — ids ≥250 add a faint low-frequency gradient (amp 3, pHash
  * hamming ≤2 measured over the pattern family, unrelated patterns ≥16)
  * — rotating PNG / BMP / baseline-JPEG / TIFF containers (id%4) so
  * near-dup detection is exercised ACROSS
  * formats, including the native T.81 and TIFF strip decode paths
  * (JpegSpec pins the pair/non-pair hamming margins with the JPEG
  * members present). */
object GenImages {

  def metaWidth(id: Long): Int = 16 + (id % 5).toInt * 8
  def metaHeight(id: Long): Int = 12 + (id % 3).toInt * 8

  /** The q_image_meta payload for a doc id: format rotates over all six
    * native parsers (bmp/png real pixels; gif/jpeg/tiff/webp structurally
    * valid header fixtures — the metadata path never decodes pixels). */
  def metaFixture(id: Long): Array[Byte] = {
    val w = metaWidth(id); val h = metaHeight(id)
    (id % 6) match {
      case 0 => ImageKernels.encodeBmp(w, h, pattern(id, w, h))
      case 1 => ImageKernels.encodePng(w, h, pattern(id, w, h))
      case 2 => ImageKernels.encodeGifHeader(w, h)
      case 3 => ImageKernels.encodeJpegHeader(w, h, 1 + (id % 8).toInt)
      case 4 => ImageKernels.encodeTiffHeader(w, h)
      case _ => ImageKernels.encodeWebpHeader(w, h)
    }
  }

  /** The q_image_meta_avif payload: AVIF/HEIC still-image metadata
    * fixtures — codec alternates by id (av1C → "avif", hvcC → "heic"),
    * primary dims are id arithmetic, and a thumbnail item with
    * DIFFERENT dims rides FIRST in ipco so only correct pitm → ipma
    * property resolution reads the primary extents. */
  def heifFixture(id: Long): Array[Byte] = {
    val w = 64 + (id % 7).toInt * 16
    val h = 48 + (id % 5).toInt * 16
    ImageKernels.encodeHeifHeader(
      if (id % 2 == 0) "av01" else "hvc1", w, h, w / 4, h / 4)
  }

  /** The q_image_phash_dedup payload: ids i and i+250 are perceptual
    * near-duplicates (same base pattern, faint gradient on the copy),
    * carried in different container formats — id%4 rotates PNG / BMP /
    * baseline JPEG (YCbCr 4:2:0, near-lossless flat quant, native T.81
    * decode) / TIFF (native strip decode), and 250 % 4 == 2 guarantees
    * every constructed pair crosses containers. */
  def dedupFixture(id: Long): Array[Byte] = {
    val w = 64; val h = 64
    val base = pattern(id % 250, w, h)
    val px = if (id >= 250) perturb(base, w, h, 3) else base
    (id % 5) match {
      case 0 => ImageKernels.encodePng(w, h, px)
      case 1 => ImageKernels.encodeBmp(w, h, px)
      case 2 => graft.functions.Jpeg.encodeYcc420(w, h, px)
      case 3 => ImageKernels.encodeTiffGray(w, h, px)
      case _ => graft.functions.Webp.encodeGray(w, h, px)
    }
  }

  /** Bilevel fixture for the CCITT gate: the SAME id-derived 0/1 pattern
    * packaged as TIFF compression 1 (packed bits), 2 (T.4 MH), 3 (Group 3)
    * or 4 (Group 4) — all four must decode pixel-identical, which the
    * gate checks as pHash equality against the uncompressed container. */
  def bilevelFixture(id: Long, comp: Int): Array[Byte] = {
    val w = 70; val h = 48 // non-multiple-of-8 width stresses row packing
    val px = pattern(id, w, h)
    val bits = Array.tabulate[Byte](w * h)(i => if (px(i) > 125) 1 else 0)
    ImageKernels.encodeTiffBilevel(w, h, bits, comp)
  }

  /** Blocky 4×4 deterministic pattern — high inter-seed variance (mixed
    * bits), stable under the 32×32 box downsample. Values capped ≤ 250 so
    * small perturbations never clip. */
  def pattern(seed: Long, w: Int, h: Int): Array[Int] =
    Array.tabulate(w * h) { i =>
      val x = i % w; val y = i / w
      (graft.functions.Dedup.mix64(seed * 1000003L + (y / 4) * 131L + (x / 4)) & 0xFF).toInt
        .min(250)
    }

  /** Faint vertical gradient on the left half: a low-spatial-frequency
    * change that moves a couple of low-DCT coefficients — a genuine
    * NEAR-duplicate, not a byte-identical copy. */
  def perturb(px: Array[Int], w: Int, h: Int, amp: Int): Array[Int] =
    Array.tabulate(w * h) { i =>
      val x = i % w; val y = i / w
      if (x < w / 2) math.min(255, px(i) + amp * y / h) else px(i)
    }
}
