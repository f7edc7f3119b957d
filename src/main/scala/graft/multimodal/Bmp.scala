package graft.multimodal

import java.nio.{ByteBuffer, ByteOrder}

/** A REAL image codec for the multimodal family: 24-bit uncompressed
  * Windows BMP (BITMAPFILEHEADER + BITMAPINFOHEADER), the standard
  * uncompressed interchange format — encode and decode are exact
  * inverses, so the perceptual-hash pipeline computes over genuinely
  * decoded pixel bytes rather than the deterministic stubs the other
  * media transforms still use (real JPEG/PNG/audio codecs are not
  * available in this environment by design; BMP needs none).
  *
  * Format notes (public spec): little-endian headers; pixel rows
  * bottom-up when biHeight > 0 (top-down when negative); each row is
  * width·3 bytes of B,G,R padded to a 4-byte boundary. Grayscale is
  * carried as R=G=B, recovered as (r+g+b)/3 — exact for gray input.
  */
object Bmp {

  private val FileHeaderSize = 14
  private val InfoHeaderSize = 40

  /** Encoded size of a w×h 24-bpp BMP. */
  def encodedSize(width: Int, height: Int): Int =
    FileHeaderSize + InfoHeaderSize + rowStride(width) * height

  /** Rows pad to 4-byte boundaries: the detail a hand-rolled reader
    * most often gets wrong (exercised by the 3-wide spec fixture). */
  def rowStride(width: Int): Int = (width * 3 + 3) & ~3

  /** Encode 8-bit grayscale pixels (row-major, top-down, length w·h,
    * values 0–255) as a 24-bpp bottom-up BMP. */
  def encodeGray(width: Int, height: Int, pix: Array[Int]): Array[Byte] = {
    require(pix.length == width * height,
      s"pixel buffer ${pix.length} != $width x $height")
    val stride = rowStride(width)
    val out = new Array[Byte](encodedSize(width, height))
    ByteBuffer.wrap(out).order(ByteOrder.LITTLE_ENDIAN)
      .put("BM".getBytes("US-ASCII")).putInt(out.length)
      .putInt(0) // reserved
      .putInt(FileHeaderSize + InfoHeaderSize) // pixel data offset
      .putInt(InfoHeaderSize)
      .putInt(width)
      .putInt(height) // positive -> bottom-up rows
      .putShort(1.toShort) // planes
      .putShort(24.toShort) // bits per pixel
      .putInt(0) // BI_RGB, uncompressed
      .putInt(stride * height)
      .putInt(2835).putInt(2835) // 72 dpi
    var y = 0
    while (y < height) {
      // row y of the image is stored at bottom-up position height-1-y
      val rowOff = FileHeaderSize + InfoHeaderSize + (height - 1 - y) * stride
      var x = 0
      while (x < width) {
        val v = (pix(y * width + x) & 0xff).toByte
        val o = rowOff + x * 3
        out(o) = v; out(o + 1) = v; out(o + 2) = v // B, G, R
        x += 1
      }
      y += 1
    }
    out
  }

  /** Decoded image: row-major top-down grayscale pixels. */
  final case class GrayImage(width: Int, height: Int, pix: Array[Int])

  /** Decode a 24-bpp uncompressed BMP to grayscale — a real parse of
    * the header fields (data offset, dimensions, bottom-up vs
    * top-down, row padding), not a fixed-layout slice, so any
    * spec-legal writer's output decodes. */
  def decodeGray(bytes: Array[Byte]): GrayImage = {
    require(bytes.length >= FileHeaderSize + InfoHeaderSize,
      s"BMP too short: ${bytes.length} bytes")
    require(bytes(0) == 'B' && bytes(1) == 'M', "not a BMP (missing BM magic)")
    val b = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val dataOffset = b.getInt(10)
    val width = b.getInt(18)
    val rawHeight = b.getInt(22)
    val bpp = b.getShort(28) & 0xffff
    val compression = b.getInt(30)
    require(bpp == 24, s"only 24-bpp BMP supported, got $bpp")
    require(compression == 0, s"only uncompressed BMP supported, got $compression")
    require(width > 0 && rawHeight != 0,
      s"BMP dimensions out of range: ${width}x$rawHeight")
    require(dataOffset >= FileHeaderSize + InfoHeaderSize &&
      dataOffset <= bytes.length,
      s"BMP data offset out of range: $dataOffset of ${bytes.length} bytes")
    val bottomUp = rawHeight > 0
    val height = math.abs(rawHeight)
    val stride = rowStride(width)
    require(dataOffset + stride.toLong * height <= bytes.length,
      "BMP pixel data truncated")
    val pix = new Array[Int](width * height)
    var y = 0
    while (y < height) {
      val srcRow = if (bottomUp) height - 1 - y else y
      val rowOff = dataOffset + srcRow * stride
      var x = 0
      while (x < width) {
        val o = rowOff + x * 3
        val b = bytes(o) & 0xff
        val g = bytes(o + 1) & 0xff
        val r = bytes(o + 2) & 0xff
        pix(y * width + x) = (r + g + b) / 3
        x += 1
      }
      y += 1
    }
    GrayImage(width, height, pix)
  }

  /** AVERAGE HASH over a decoded image with w and h multiples of 8:
    * partition into an 8×8 grid of equal blocks, bit i = Y·8+X set iff
    * the block's mean sits strictly above the global mean — as
    * integers, nBlocks·s_i > S (all blocks equal-sized, so no float
    * mean ever forms and the oracle reproduces every bit from pixel
    * sums alone). Two's-complement: bit 63 lands in the Long sign bit,
    * matching the oracle's signed reconstruction. */
  def aHash(img: GrayImage): Long = {
    val (bs, total) = blockSums(img)
    var bits = 0L
    var i = 0
    while (i < 64) {
      if (64L * bs(i) > total) bits |= (1L << i)
      i += 1
    }
    bits
  }

  /** DIFFERENCE HASH over the same 8×8 block grid: bit Y·7+X set iff
    * the block right of (X,Y) is strictly brighter — 56 bits, the
    * gradient-shape fingerprint that survives global brightness
    * shifts aHash is sensitive to. */
  def dHash(img: GrayImage): Long = {
    val (bs, _) = blockSums(img)
    var bits = 0L
    var yy = 0
    while (yy < 8) {
      var xx = 0
      while (xx < 7) {
        if (bs(yy * 8 + xx + 1) > bs(yy * 8 + xx)) bits |= (1L << (yy * 7 + xx))
        xx += 1
      }
      yy += 1
    }
    bits
  }

  /** REAL resize over decoded pixels. Integer-exact kernels so results
    * are reproducible bit-for-bit across engines and runs: BOX-MEAN
    * (floor) when both dimensions divide evenly — the standard
    * antialiased downsample; NEAREST-NEIGHBOR index mapping
    * (src = floor(dst·srcDim/dstDim)) otherwise. */
  def resizeGray(img: GrayImage, w2: Int, h2: Int): GrayImage = {
    require(w2 > 0 && h2 > 0, s"bad target ${w2}x$h2")
    val out = new Array[Int](w2 * h2)
    if (img.width % w2 == 0 && img.height % h2 == 0) {
      val bw = img.width / w2
      val bh = img.height / h2
      var y = 0
      while (y < h2) {
        var x = 0
        while (x < w2) {
          var s = 0
          var dy = 0
          while (dy < bh) {
            var dx = 0
            while (dx < bw) {
              s += img.pix((y * bh + dy) * img.width + (x * bw + dx))
              dx += 1
            }
            dy += 1
          }
          out(y * w2 + x) = s / (bw * bh)
          x += 1
        }
        y += 1
      }
    } else {
      var y = 0
      while (y < h2) {
        val sy = y * img.height / h2
        var x = 0
        while (x < w2) {
          out(y * w2 + x) = img.pix(sy * img.width + (x * img.width / w2))
          x += 1
        }
        y += 1
      }
    }
    GrayImage(w2, h2, out)
  }

  /** 8×8 grid of block pixel sums + the global sum. */
  private def blockSums(img: GrayImage): (Array[Long], Long) = {
    require(img.width % 8 == 0 && img.height % 8 == 0,
      s"hash needs dims divisible by 8, got ${img.width}x${img.height}")
    val bw = img.width / 8
    val bh = img.height / 8
    val bs = new Array[Long](64)
    var total = 0L
    var y = 0
    while (y < img.height) {
      var x = 0
      while (x < img.width) {
        val v = img.pix(y * img.width + x).toLong
        bs((y / bh) * 8 + (x / bw)) += v
        total += v
        x += 1
      }
      y += 1
    }
    (bs, total)
  }
}
