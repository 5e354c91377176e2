package graft

import java.io.ByteArrayOutputStream
import java.nio.{ByteBuffer, ByteOrder}

import javax.imageio.{IIOImage, ImageIO, ImageWriteParam}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.sources.GeoTiff

/** K1 tail: the TIFF-LZW codec and floating-point predictor, validated
  * against the JDK's independent ImageIO TIFF plugin in BOTH directions —
  * the same interop bar a GDAL/QGIS consumer sets, available offline.
  */
class GeoTiffLzwSpec extends AnyFunSuite with Matchers {

  // deterministic pseudo-random bytes long enough to cross the 9→10→11 bit
  // code-width boundaries (the classic off-by-one spot in TIFF LZW)
  private def noisyBytes(n: Int): Array[Byte] = {
    val rnd = new scala.util.Random(4242L)
    Array.fill(n)(rnd.nextInt(256).toByte)
  }

  test("LZW round-trips: empty, tiny, repetitive, and width-crossing inputs") {
    val cases = Seq(
      Array.emptyByteArray,
      "A".getBytes("US-ASCII"),
      "TOBEORNOTTOBEORTOBEORNOT".getBytes("US-ASCII"),
      Array.fill(10000)(7.toByte),          // maximal dictionary chains
      noisyBytes(300),                       // crosses 9→10 bits
      noisyBytes(5000),                      // crosses 10→11→12 bits
      noisyBytes(70000))                     // forces a table reset at 4094
    cases.foreach { in =>
      val packed = GeoTiff.Lzw.compress(in)
      GeoTiff.Lzw.decompress(packed).toSeq shouldBe in.toSeq
    }
    // repetitive input actually compresses
    GeoTiff.Lzw.compress(Array.fill(10000)(7.toByte)).length should be < 1000
  }

  test("LZW round-trips every prefix length 0..4096 of a noisy buffer") {
    // the last data code can fill the decoder's table to 2^w − 1, so the
    // decoder widens before it reads EOI; some prefix length hits that
    // for each of the 9/10/11-bit widths
    val buf = noisyBytes(4096)
    (0 to buf.length).foreach { n =>
      val in = java.util.Arrays.copyOf(buf, n)
      withClue(s"prefix $n: ") {
        GeoTiff.Lzw.decompress(GeoTiff.Lzw.compress(in)).toSeq shouldBe in.toSeq
      }
    }
  }

  test("stream structure: starts with ClearCode, ends with EOI") {
    val packed = GeoTiff.Lzw.compress("abcabc".getBytes("US-ASCII"))
    // first 9 bits must be 256 (ClearCode): 1 0000 0000 → byte0 = 0x80
    (packed(0) & 0xff) shouldBe 0x80
  }

  /** Minimal 8-bit grayscale single-strip LZW TIFF around `strip` bytes —
    * enough structure for ImageIO to read; used to prove MY encoder's
    * bitstream against the JDK's decoder.
    */
  private def grayLzwTiff(w: Int, h: Int, pixels: Array[Byte]): Array[Byte] = {
    val strip = GeoTiff.Lzw.compress(pixels)
    val data = if (strip.length % 2 == 0) strip else strip :+ 0.toByte
    val entries = Seq(
      (256, 4, 1, w.toLong), (257, 4, 1, h.toLong), (258, 3, 1, 8L),
      (259, 3, 1, 5L), (262, 3, 1, 1L), (273, 4, 1, 8L),
      (277, 3, 1, 1L), (278, 4, 1, h.toLong), (279, 4, 1, strip.length.toLong))
    val buf = ByteBuffer.allocate(8 + data.length + 2 + entries.size * 12 + 4)
      .order(ByteOrder.LITTLE_ENDIAN)
    buf.putShort(0x4949.toShort); buf.putShort(42.toShort); buf.putInt(8 + data.length)
    buf.put(data)
    buf.putShort(entries.size.toShort)
    entries.foreach { case (tag, typ, count, value) =>
      buf.putShort(tag.toShort); buf.putShort(typ.toShort); buf.putInt(count)
      if (typ == 3) { buf.putShort(value.toShort); buf.putShort(0) }
      else buf.putInt(value.toInt)
    }
    buf.putInt(0)
    buf.array()
  }

  test("JDK ImageIO reads MY LZW bitstream (encoder vs independent decoder)") {
    val (w, h) = (64, 64)
    val pixels = noisyBytes(w * h) // crosses the 9→10 bit boundary
    val img = ImageIO.read(new java.io.ByteArrayInputStream(grayLzwTiff(w, h, pixels)))
    img should not be null
    img.getWidth shouldBe w
    img.getHeight shouldBe h
    for (y <- 0 until h; x <- 0 until w)
      img.getRaster.getSample(x, y, 0) shouldBe (pixels(y * w + x) & 0xff)
  }

  test("MY decoder reads a JDK-ImageIO-written LZW stream (decoder vs independent encoder)") {
    val (w, h) = (64, 64)
    val pixels = noisyBytes(w * h)
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until h; x <- 0 until w)
      img.getRaster.setSample(x, y, 0, pixels(y * w + x) & 0xff)
    val writer = ImageIO.getImageWritersByFormatName("tiff").next()
    val param = writer.getDefaultWriteParam
    param.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
    param.setCompressionType("LZW")
    val bos = new ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    writer.write(null, new IIOImage(img, null, null), param)
    ios.close(); writer.dispose()
    val bytes = bos.toByteArray

    // walk the IFD with a minimal reader to find strips + predictor
    val order = if (bytes(0) == 'I') ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN
    val b = ByteBuffer.wrap(bytes).order(order)
    val ifd = b.getInt(4)
    val n = b.getShort(ifd) & 0xffff
    var tags = Map.empty[Int, (Int, Int, Int)] // tag -> (type, count, valueOrOffsetPos)
    for (k <- 0 until n) {
      val at = ifd + 2 + k * 12
      tags += (b.getShort(at) & 0xffff) -> ((b.getShort(at + 2) & 0xffff, b.getInt(at + 4), at + 8))
    }
    def intVals(tag: Int): Seq[Long] = {
      val (typ, count, vpos) = tags(tag)
      val size = count * (if (typ == 3) 2 else 4)
      val off = if (size <= 4) vpos else b.getInt(vpos)
      (0 until count).map { k =>
        if (typ == 3) (b.getShort(off + k * 2) & 0xffff).toLong
        else b.getInt(off + k * 4).toLong & 0xffffffffL
      }
    }
    intVals(259).head shouldBe 5 // really LZW
    val predictor = tags.get(317).map(_ => intVals(317).head).getOrElse(1L)
    val rows = intVals(278).head.toInt
    val plain = intVals(273).zip(intVals(279)).zipWithIndex.flatMap {
      case ((off, len), si) =>
        val strip = GeoTiff.Lzw.decompress(
          java.util.Arrays.copyOfRange(bytes, off.toInt, off.toInt + len.toInt))
        if (predictor == 2) { // horizontal byte differencing per row
          strip.grouped(w).flatMap { row =>
            var i = 1
            while (i < row.length) { row(i) = (row(i) + row(i - 1)).toByte; i += 1 }
            row
          }
        } else strip
    }.toArray
    plain.length shouldBe w * h
    plain.toSeq shouldBe pixels.toSeq
  }

  test("float predictor: plane split + differencing is exactly inverted") {
    val rnd = new scala.util.Random(99L)
    val w = 17
    val floats = Array.fill(w * 5)(rnd.nextFloat() * 2000f - 1000f)
    val le = ByteBuffer.allocate(floats.length * 4).order(ByteOrder.LITTLE_ENDIAN)
    floats.foreach(le.putFloat)
    val pred = GeoTiff.predictRows(le.array(), w)
    GeoTiff.unpredictRows(pred, w).toSeq shouldBe le.array().toSeq
    // near-constant rows become near-zero bytes in predictor space
    val flat = ByteBuffer.allocate(w * 4).order(ByteOrder.LITTLE_ENDIAN)
    (0 until w).foreach(_ => flat.putFloat(300.5f))
    GeoTiff.predictRows(flat.array(), w).count(_ == 0) should be > (w * 3)
  }

  test("ERA5-shaped layer (1440x721 Float32) compresses and round-trips") {
    val (w, h) = (1440, 721)
    // smooth global temperature-like field with a nodata pole cap
    val vals = Array.tabulate(w * h) { k =>
      val y = k / w
      if (y < 8) -9999f
      else (250.0 + 40.0 * math.sin(y * math.Pi / h) +
            3.0 * math.sin((k % w) * 2 * math.Pi / w)).toFloat
    }
    val bytes = GeoTiff.encode(w, h, vals, -180.0, 90.0, 0.25, 0.25, -9999f)
    // predictor + LZW must beat raw Float32 comfortably on smooth data
    bytes.length should be < (w * h * 4 / 2)
    val t = GeoTiff.decode(bytes)
    t.values.toSeq shouldBe vals.toSeq
    (t.width, t.height) shouldBe (w, h)
  }

  test("LZW GeoTIFF: full encode/decode round-trip and smaller-than-raw on smooth data") {
    val (w, h) = (40, 30)
    // smooth field: the realistic raster case LZW+predictor targets
    val vals = Array.tabulate(w * h)(k => 250f + (k % w) * 0.25f + (k / w) * 0.5f)
    val lzwBytes = GeoTiff.encode(w, h, vals, -21.0, 37.0, 0.25, 0.25, -9999f)
    val rawBytes = GeoTiff.encode(w, h, vals, -21.0, 37.0, 0.25, 0.25, -9999f, lzw = false)
    val t = GeoTiff.decode(lzwBytes)
    t.values.toSeq shouldBe vals.toSeq
    (t.width, t.height, t.epsg) shouldBe (w, h, 4326)
    t.nodata shouldBe Some(-9999f)
    lzwBytes.length should be < rawBytes.length / 2
    // the uncompressed flavor still round-trips
    GeoTiff.decode(rawBytes).values.toSeq shouldBe vals.toSeq
  }

  test("JDK ImageIO reads a Float32 LZW strip compressed by MY encoder") {
    // the JDK TIFF plugin does not implement predictor 3 at all (its
    // decompressor rejects any value but 1/2), so the float interop test
    // validates the LZW layer over float samples with the predictor
    // omitted; predictor 3 is pinned by the exact-inversion test above and
    // the full encode/decode round-trip
    val (w, h) = (16, 9)
    val vals = Array.tabulate(w * h)(k => k * 1.5f - 20f)
    val le = ByteBuffer.allocate(vals.length * 4).order(ByteOrder.LITTLE_ENDIAN)
    vals.foreach(le.putFloat)
    val strip = GeoTiff.Lzw.compress(le.array())
    val data = if (strip.length % 2 == 0) strip else strip :+ 0.toByte
    val entries = Seq(
      (256, 4, 1, w.toLong), (257, 4, 1, h.toLong), (258, 3, 1, 32L),
      (259, 3, 1, 5L), (262, 3, 1, 1L), (273, 4, 1, 8L),
      (277, 3, 1, 1L), (278, 4, 1, h.toLong), (279, 4, 1, strip.length.toLong),
      (339, 3, 1, 3L))
    val buf = ByteBuffer.allocate(8 + data.length + 2 + entries.size * 12 + 4)
      .order(ByteOrder.LITTLE_ENDIAN)
    buf.putShort(0x4949.toShort); buf.putShort(42.toShort); buf.putInt(8 + data.length)
    buf.put(data)
    buf.putShort(entries.size.toShort)
    entries.foreach { case (tag, typ, count, value) =>
      buf.putShort(tag.toShort); buf.putShort(typ.toShort); buf.putInt(count)
      if (typ == 3) { buf.putShort(value.toShort); buf.putShort(0) }
      else buf.putInt(value.toInt)
    }
    buf.putInt(0)
    val img = ImageIO.read(new java.io.ByteArrayInputStream(buf.array()))
    img should not be null
    img.getWidth shouldBe w
    img.getHeight shouldBe h
    for (y <- 0 until h; x <- 0 until w)
      img.getRaster.getSampleFloat(x, y, 0) shouldBe vals(y * w + x)
  }
}
