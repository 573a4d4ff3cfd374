package graft.fixtures

import java.awt.image.BufferedImage
import java.util.zip.{CRC32, Deflater}

/** Minimal spec-compliant PNG encoder for TYPE_INT_RGB rasters — the r6
  * replacement for `ImageIO.write(img, "png", ...)` in the synthetic-page
  * generator (guide §1.2 step 2: the frontier round's dominant per-row cost
  * was the JDK PNG writer, measured 565 µs/img — hardcoded best-compression
  * deflate plus per-scanline adaptive filtering, neither of which the
  * LOSSLESS round-trip contract needs).
  *
  * Output: 8-bit truecolor (color type 2), no interlace, filter None on
  * every scanline, one zlib stream at `level` (default 0). Level 0 is not a
  * quality compromise on THIS payload: the generator's per-pixel noise
  * makes the scanlines incompressible — measured 3104 B → 3115 B at level
  * 9 (a one-off r6 probe), i.e. deflate gains 0% at every
  * level while costing 30 µs (level 1-9) vs 3.5 µs (level 0) per image.
  * The bytes differ from ImageIO's (different filter/level choices of the
  * same format, near-identical SIZE because neither can compress noise)
  * but decode to BIT-identical pixels through the same JDK ImageIO
  * reader — the invariant the frozen Bench validates (PSNR = ∞ on the PNG
  * branch) and PngCodecSpec pins. The DECODE side of the round trip — the
  * part that models real fetched-payload work — remains the real JDK
  * codec.
  */
object PngCodec {

  private val Signature = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)

  // r6 (guide §4.5): the encoder runs once per frontier row — reuse the
  // scanline/deflate scratch arrays and the Deflater per thread instead of
  // allocating ~60 KB and a native zlib stream per image. reset() restores
  // a Deflater to its post-construction state, so the emitted bytes are
  // unchanged (PngCodecSpec pins the lossless round-trip either way).
  private final class Scratch {
    var raw: Array[Byte] = new Array[Byte](0)
    var zbuf: Array[Byte] = new Array[Byte](0)
    val crc = new CRC32()
    var deflater: Deflater = null
    var deflaterLevel: Int = Int.MinValue
  }
  private val scratch = new ThreadLocal[Scratch] {
    override def initialValue() = new Scratch()
  }

  /** Encode a TYPE_INT_RGB image (other types fall back to the caller's
    * ImageIO path — see [[ImageGen.encode]]).
    */
  def encode(img: BufferedImage, level: Int = 0): Array[Byte] = {
    require(img.getType == BufferedImage.TYPE_INT_RGB,
      s"PngCodec handles TYPE_INT_RGB only, got ${img.getType}")
    val w = img.getWidth; val h = img.getHeight
    val pixels = img.getRaster.getDataBuffer
      .asInstanceOf[java.awt.image.DataBufferInt].getData
    val sc = scratch.get()

    // raw scanlines: 1 filter byte (None) + w*3 RGB bytes per row
    val rawLen = h * (1 + w * 3)
    if (sc.raw.length < rawLen) sc.raw = new Array[Byte](rawLen)
    val raw = sc.raw
    var y = 0; var o = 0
    while (y < h) {
      raw(o) = 0 // filter: None
      o += 1
      var x = 0
      val row = y * w
      while (x < w) {
        val p = pixels(row + x)
        raw(o) = ((p >> 16) & 0xff).toByte
        raw(o + 1) = ((p >> 8) & 0xff).toByte
        raw(o + 2) = (p & 0xff).toByte
        o += 3; x += 1
      }
      y += 1
    }

    if (sc.deflater == null || sc.deflaterLevel != level) {
      if (sc.deflater != null) sc.deflater.end()
      sc.deflater = new Deflater(level)
      sc.deflaterLevel = level
    } else sc.deflater.reset()
    val deflater = sc.deflater
    deflater.setInput(raw, 0, rawLen)
    deflater.finish()
    val zcap = rawLen + (rawLen >> 9) + 64
    if (sc.zbuf.length < zcap) sc.zbuf = new Array[Byte](zcap)
    val zbuf = sc.zbuf
    var zn = 0
    while (!deflater.finished()) {
      if (zn == zbuf.length) throw new IllegalStateException("deflate overflow")
      zn += deflater.deflate(zbuf, zn, zbuf.length - zn)
    }

    // assemble into one exact-size output array:
    // sig(8) + IHDR(8+13+4) + IDAT(8+zn+4) + IEND(8+0+4)
    val out = new Array[Byte](8 + 25 + 12 + zn + 12)
    System.arraycopy(Signature, 0, out, 0, 8)
    var p = 8
    putInt(out, p, 13)
    out(p + 4) = 'I'; out(p + 5) = 'H'; out(p + 6) = 'D'; out(p + 7) = 'R'
    putInt(out, p + 8, w); putInt(out, p + 12, h)
    out(p + 16) = 8 // bit depth
    out(p + 17) = 2 // color type: truecolor
    // compression 0, filter 0, interlace 0 already zero
    p = chunkCrc(sc.crc, out, p)
    putInt(out, p, zn)
    out(p + 4) = 'I'; out(p + 5) = 'D'; out(p + 6) = 'A'; out(p + 7) = 'T'
    System.arraycopy(zbuf, 0, out, p + 8, zn)
    p = chunkCrc(sc.crc, out, p)
    putInt(out, p, 0)
    out(p + 4) = 'I'; out(p + 5) = 'E'; out(p + 6) = 'N'; out(p + 7) = 'D'
    chunkCrc(sc.crc, out, p)
    out
  }

  private def putInt(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = (v >>> 24).toByte; b(off + 1) = (v >>> 16).toByte
    b(off + 2) = (v >>> 8).toByte; b(off + 3) = v.toByte
  }

  /** CRC over [type|data] of the chunk starting at `off`; writes the 4 CRC
    * bytes and returns the offset just past them.
    */
  private def chunkCrc(crc: CRC32, out: Array[Byte], off: Int): Int = {
    val len = ((out(off) & 0xff) << 24) | ((out(off + 1) & 0xff) << 16) |
      ((out(off + 2) & 0xff) << 8) | (out(off + 3) & 0xff)
    crc.reset()
    crc.update(out, off + 4, 4 + len)
    putInt(out, off + 8 + len, crc.getValue.toInt)
    off + 12 + len
  }
}
