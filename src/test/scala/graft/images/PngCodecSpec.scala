package graft.images

import org.scalatest.funsuite.AnyFunSuite

/** Pins the round-6 payload-codec internals: the stored-deflate PNG
  * writer must emit byte-valid PNGs that BOTH decoders (the fast parser
  * and stock ImageIO) read back pixel-exactly, the fast parser must
  * reject foreign PNGs (falling back to ImageIO), and repeated JPEG
  * encodes through the reused thread-local output stream must stay
  * independent across differently-sized images (the flushedPos reuse
  * bug class). */
class PngCodecSpec extends AnyFunSuite {

  private def rgbOf(img: java.awt.image.BufferedImage, w: Int, h: Int): Array[Int] =
    img.getRGB(0, 0, w, h, null, 0, w).map(_ & 0xffffff)

  test("stored-deflate PNG: valid for ImageIO, exact via both decoders") {
    for (url <- Seq("http://host1.example/p/1", "http://host77.example/a/b?q=1")) {
      val px = ImageSynth.pixels(url, 64, 64)
      val bytes = ImageSynth.encodePng(px, 64, 64)
      // stock ImageIO (no fast path) decodes it losslessly — the bytes
      // are a spec-valid PNG, not just something our parser accepts
      val stock = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      assert(rgbOf(stock, 64, 64).sameElements(px.map(_ & 0xffffff)))
      // the engine decode path (fast parser) agrees pixel-for-pixel
      val fast = ImageSynth.decode(bytes)
      assert(rgbOf(fast, 64, 64).sameElements(px.map(_ & 0xffffff)))
    }
  }

  test("non-square and multi-block sizes round-trip") {
    // > 65535 raw bytes forces multiple stored deflate blocks
    val px = ImageSynth.pixels("http://host2.example/p/2", 200, 150)
    val bytes = ImageSynth.encodePng(px, 200, 150)
    val stock = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    assert(stock.getWidth == 200 && stock.getHeight == 150)
    assert(rgbOf(stock, 200, 150).sameElements(px.map(_ & 0xffffff)))
    assert(rgbOf(ImageSynth.decode(bytes), 200, 150)
      .sameElements(px.map(_ & 0xffffff)))
  }

  test("fast parser falls back on foreign (compressed-deflate) PNGs") {
    // a stock ImageIO-written PNG uses real deflate — the fast parser
    // must reject it and the ImageIO fallback must decode it exactly
    val px = ImageSynth.pixels("http://host3.example/p/3", 48, 48)
    val img = new java.awt.image.BufferedImage(48, 48,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, 48, 48, px, 0, 48)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val decoded = ImageSynth.decode(bos.toByteArray)
    assert(rgbOf(decoded, 48, 48).sameElements(px.map(_ & 0xffffff)))
  }

  private def pngOf(img: java.awt.image.BufferedImage): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  test("grayscale PNG decodes through the ImageIO fallback") {
    val img = new java.awt.image.BufferedImage(16, 8,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    for (y <- 0 until 8; x <- 0 until 16) raster.setSample(x, y, 0, (x * 16 + y) & 0xff)
    val decoded = ImageSynth.decode(pngOf(img))
    assert(decoded.getWidth == 16 && decoded.getHeight == 8)
    assert(decoded.getRGB(0, 0, 16, 8, null, 0, 16)
      .sameElements(img.getRGB(0, 0, 16, 8, null, 0, 16)))
  }

  test("alpha PNG decodes through the ImageIO fallback, alpha kept") {
    val img = new java.awt.image.BufferedImage(12, 12,
      java.awt.image.BufferedImage.TYPE_INT_ARGB)
    for (y <- 0 until 12; x <- 0 until 12)
      img.setRGB(x, y, ((x * 20) << 24) | (y * 20 << 16) | (x * 7 << 8) | (x + y))
    val decoded = ImageSynth.decode(pngOf(img))
    assert(decoded.getColorModel.hasAlpha)
    assert(decoded.getRGB(0, 0, 12, 12, null, 0, 12)
      .sameElements(img.getRGB(0, 0, 12, 12, null, 0, 12)))
  }

  test("hostile chunk lengths fail cleanly instead of looping") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val png = ImageSynth.encodePng(ImageSynth.pixels("http://host6.example/p/6", 8, 8), 8, 8)
    // an ancillary chunk right after IHDR (offset 33) whose length is
    // -12 (pos would stand still) or past the end of the file
    def withChunkLength(len: Int): Array[Byte] = {
      val chunk = java.nio.ByteBuffer.allocate(12).putInt(len)
        .put("tEXt".getBytes("US-ASCII")).putInt(0).array()
      png.take(33) ++ chunk ++ png.drop(33)
    }
    for (len <- Seq(-12, -1, Int.MinValue, Int.MaxValue, 1 << 20)) {
      // either a decoded image or a decoder exception; never a hang
      val done = Future(scala.util.Try(ImageSynth.decode(withChunkLength(len))))
      assert(scala.util.Try(Await.result(done, 20.seconds)).isSuccess,
        s"decode did not return for chunk length $len")
    }
  }

  test("a hostile IHDR size falls back without growing the decode buffer") {
    // a 45-byte PNG: signature, IHDR declaring w x h truecolor, IEND
    def declaring(w: Int, h: Int): Array[Byte] = java.nio.ByteBuffer.allocate(45)
      .put(Array(0x89, 'P', 'N', 'G', 13, 10, 26, 10).map(_.toByte))
      .putInt(13).put("IHDR".getBytes("US-ASCII")).putInt(w).putInt(h)
      .put(Array[Byte](8, 2, 0, 0, 0)).putInt(0)
      .putInt(0).put("IEND".getBytes("US-ASCII")).putInt(0).array()
    // 300 MB of rows; rows whose Int size wraps to 0; to a negative size
    for ((w, h) <- Seq((10000, 10000), (0x55555555, 1), (46341, 46341))) {
      // on a fresh thread, whose scratch buffer starts empty
      var got: (AnyRef, Int) = null
      val t = new Thread(() => got = (ImageSynth.decodeStoredPng(declaring(w, h)), ImageSynth.scratchBytes))
      t.start(); t.join()
      assert(got == ((null, 0)), s"$w x $h")
    }
  }

  test("reused JPEG output stream: interleaved sizes stay independent") {
    // encode a larger JPEG, then a smaller one, then the larger again —
    // a stale high-water mark or flushedPos in the reused stream would
    // corrupt or throw on the shorter encode
    val pxBig = ImageSynth.pixels("http://host4.example/p/4", 96, 96)
    val pxSmall = ImageSynth.pixels("http://host5.example/p/5", 32, 32)
    val big1 = ImageSynth.encodeJpeg(pxBig, 96, 96)
    val small = ImageSynth.encodeJpeg(pxSmall, 32, 32)
    val big2 = ImageSynth.encodeJpeg(pxBig, 96, 96)
    assert(big1.sameElements(big2)) // deterministic, no cross-talk
    assert(small.length < big1.length)
    // all three decode at their own dimensions
    assert(ImageSynth.decode(big1).getWidth == 96)
    assert(ImageSynth.decode(small).getWidth == 32)
  }

  test("verifyRow invariant holds across the png/jpeg host split") {
    (0 until 50).foreach { i =>
      val url = s"http://host$i.example/p/$i"
      val row = ImageSynth.rowFor(url, 1, 64, 64)
      assert(ImageSynth.verifyRow(url, 1, row), s"verify failed for $url")
      // a corrupted caption must fail verification
      assert(!ImageSynth.verifyRow(url, 2, row))
    }
  }
}
