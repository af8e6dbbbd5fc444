package graft.multimodal

import java.nio.{ByteBuffer, ByteOrder}

/** Decoded BMP header metadata. `height` is the magnitude; `topDown`
  * records a negative-height (top-down row order) bitmap. `rowStride`
  * is the padded on-disk row size (rows align to 4 bytes). */
final case class BmpMeta(width: Int, height: Int, bitsPerPixel: Int,
    rowStride: Int, imageBytes: Int, topDown: Boolean)

/** Pure-JVM BMP (Windows bitmap) codec — the REAL decoder for the
  * image modality, companion to [[WavCodec]]: no image library, just
  * the public format (BITMAPFILEHEADER + BITMAPINFOHEADER,
  * little-endian). Encodes canonical 24-bit uncompressed bitmaps;
  * decodes any uncompressed BITMAPINFOHEADER-family file, including
  * top-down (negative height) ones. Fails loudly on non-BMP or
  * compressed input — alien bytes at 100 TB must surface as errors,
  * not silently-zero features. */
object BmpCodec {

  /** Padded row size: 24-bit rows align to 4-byte boundaries. */
  def rowStride(width: Int, bitsPerPixel: Int = 24): Int =
    ((width * bitsPerPixel + 31) / 32) * 4

  /** Canonical 54-byte-header 24-bit encoding. `pixels` is bottom-up
    * BGR, exactly width*height*3 bytes. */
  def encode(width: Int, height: Int, pixels: Array[Byte]): Array[Byte] = {
    require(width > 0 && height > 0, s"bad dims ${width}x$height")
    require(pixels.length == width * height * 3,
      s"${pixels.length} pixel bytes for ${width}x$height*3")
    val stride = rowStride(width)
    val imageSize = stride * height
    val buf = ByteBuffer.allocate(54 + imageSize).order(ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte)
      .putInt(54 + imageSize).putInt(0).putInt(54) // size, reserved, data offset
      .putInt(40).putInt(width).putInt(height)     // BITMAPINFOHEADER
      .putShort(1).putShort(24)                    // planes, bpp
      .putInt(0).putInt(imageSize)                 // BI_RGB, image size
      .putInt(2835).putInt(2835).putInt(0).putInt(0) // 72 DPI, palette
    var row = 0
    while (row < height) {
      buf.put(pixels, row * width * 3, width * 3)
      var pad = stride - width * 3
      while (pad > 0) { buf.put(0.toByte); pad -= 1 }
      row += 1
    }
    buf.array()
  }

  /** Parse a BMP header. Throws IllegalArgumentException on anything
    * that isn't an uncompressed BITMAPINFOHEADER-family bitmap. */
  def decode(payload: Array[Byte]): BmpMeta = {
    require(payload.length >= 54, s"not BMP: only ${payload.length} bytes")
    val buf = ByteBuffer.wrap(payload).order(ByteOrder.LITTLE_ENDIAN)
    require(buf.get() == 'B'.toByte && buf.get() == 'M'.toByte, "not BMP: bad magic")
    buf.getInt // declared file size (unreliable in the wild)
    buf.getInt // reserved
    val dataOffset = buf.getInt
    val dibSize = buf.getInt
    require(dibSize >= 40, s"unsupported DIB header size $dibSize (want BITMAPINFOHEADER+)")
    val width = buf.getInt
    val rawHeight = buf.getInt
    val planes = buf.getShort
    val bpp = buf.getShort
    val compression = buf.getInt
    require(width > 0 && rawHeight != 0, s"bad dims ${width}x$rawHeight")
    require(planes == 1, s"bad planes $planes")
    require(compression == 0, s"compressed BMP (method $compression) unsupported")
    require(bpp == 1 || bpp == 4 || bpp == 8 || bpp == 16 || bpp == 24 || bpp == 32,
      s"bad bpp $bpp")
    val height = math.abs(rawHeight)
    val stride = rowStride(width, bpp)
    val imageBytes = stride * height
    require(dataOffset >= 14 + dibSize && dataOffset.toLong + imageBytes <= payload.length,
      s"pixel data [$dataOffset, ${dataOffset.toLong + imageBytes}) outside ${payload.length}-byte file")
    BmpMeta(width, height, bpp, stride, imageBytes, topDown = rawHeight < 0)
  }

  /** Nearest-neighbor resample to a tw×th grid and sum the sampled
    * channel bytes — the real pixel-level half of the thumbnailing
    * pass whose geometry mm_bmp plans ([[MultimodalOps]]): source
    * pixel (⌊x·w/tw⌋, ⌊y·h/th⌋) per target cell, stride-aware offsets
    * into the actual file bytes. Works as up- or downsample (the
    * floor map stays in range either way). The sum is checked against
    * the oracle's closed-form replay of the same index arithmetic on
    * the cycled source bytes. */
  def thumbnailSum(payload: Array[Byte], tw: Int, th: Int): Long = {
    val m = decode(payload)
    require(m.bitsPerPixel == 24, s"thumbnailSum supports 24-bit, got ${m.bitsPerPixel}")
    val dataOffset = ByteBuffer.wrap(payload).order(ByteOrder.LITTLE_ENDIAN).getInt(10)
    var sum = 0L
    var y = 0
    while (y < th) {
      val sy = (y.toLong * m.height / th).toInt
      val rowBase = dataOffset + sy * m.rowStride
      var x = 0
      while (x < tw) {
        val sx = (x.toLong * m.width / tw).toInt
        val off = rowBase + sx * 3
        sum += (payload(off) & 0xff) + (payload(off + 1) & 0xff) +
          (payload(off + 2) & 0xff)
        x += 1
      }
      y += 1
    }
    sum
  }

  /** Pixel PAYLOAD decode: walk every row at its padded stride and sum
    * the unsigned pixel bytes (24-bit only — what [[encode]] writes).
    * Row padding is skipped, so a decoder that confuses stride with
    * width*3 produces a different sum and hash-mismatches against the
    * oracle's cycled-source closed form. */
  def pixelSum(payload: Array[Byte]): Long = {
    val m = decode(payload)
    require(m.bitsPerPixel == 24, s"pixelSum supports 24-bit, got ${m.bitsPerPixel}")
    val dataOffset = ByteBuffer.wrap(payload).order(ByteOrder.LITTLE_ENDIAN).getInt(10)
    var sum = 0L
    var row = 0
    while (row < m.height) {
      val base = dataOffset + row * m.rowStride
      var i = 0
      val rowBytes = m.width * 3
      while (i < rowBytes) {
        sum += (payload(base + i) & 0xff)
        i += 1
      }
      row += 1
    }
    sum
  }

  /** 64-bit perceptual average-hash of a 24-bit bitmap, split into
    * two 32-bit longs (so downstream XOR/popcount math never touches
    * the sign bit): luminance = (b+g+r)/3 at each of the 8×8
    * floor-mapped sample points ([[thumbnailSum]]'s nearest-neighbor
    * grid), bit k set iff its luminance exceeds the integer mean.
    * All-integer — bit-identical to any reimplementation of the same
    * arithmetic. */
  def phash64(payload: Array[Byte]): (Long, Long) = {
    val m = decode(payload)
    require(m.bitsPerPixel == 24, s"phash64 supports 24-bit, got ${m.bitsPerPixel}")
    val dataOffset =
      ByteBuffer.wrap(payload).order(ByteOrder.LITTLE_ENDIAN).getInt(10)
    val lums = new Array[Long](64)
    var k = 0
    while (k < 64) {
      val sy = ((k / 8).toLong * m.height / 8).toInt
      val sx = ((k % 8).toLong * m.width / 8).toInt
      val off = dataOffset + sy * m.rowStride + sx * 3
      lums(k) = ((payload(off) & 0xff) + (payload(off + 1) & 0xff) +
        (payload(off + 2) & 0xff)) / 3
      k += 1
    }
    val mean = lums.sum / 64
    var h1 = 0L; var h2 = 0L
    var i = 0
    while (i < 32) {
      if (lums(i) > mean) h1 |= (1L << i)
      if (lums(32 + i) > mean) h2 |= (1L << i)
      i += 1
    }
    (h1, h2)
  }
}
