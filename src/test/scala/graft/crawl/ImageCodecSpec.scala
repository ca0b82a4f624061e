package graft.crawl

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import javax.imageio.ImageIO

import org.scalatest.funsuite.AnyFunSuite

/** The image kernels read and write rasters directly where the layout
  * allows it; these cases pin them pixel for pixel to the `getRGB` /
  * `setRGB` color-model reference on every image kind a crawl decodes.
  */
class ImageCodecSpec extends AnyFunSuite {

  // odd sizes: no row padding or power-of-two stride hides a layout bug
  private val w = 37
  private val h = 23

  private def image(tpe: Int, src: BufferedImage): BufferedImage = {
    val img = new BufferedImage(w, h, tpe)
    val g = img.createGraphics()
    g.drawImage(src, 0, 0, null)
    g.dispose()
    img
  }

  private def bytesOf(img: BufferedImage, fmt: String): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    assert(ImageIO.write(img, fmt, bos), s"no $fmt writer")
    bos.toByteArray
  }

  test("decodePixels equals the getRGB reference on JPEG, RGB, RGBA, " +
    "grey and palette PNG") {
    val rgb = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    rgb.setRGB(0, 0, w, h, ImageCodec.pixels(11L, w, h), 0, w)
    val rgba = new BufferedImage(w, h, BufferedImage.TYPE_INT_ARGB)
    val rnd = new scala.util.Random(3)
    rgba.setRGB(0, 0, w, h, Array.fill(w * h)(rnd.nextInt()), 0, w)
    val cases = Seq(
      ("jpeg", bytesOf(rgb, "jpeg"), true),
      ("rgb png", bytesOf(rgb, "png"), true),
      ("rgba png", bytesOf(rgba, "png"), false),
      ("grey png", bytesOf(image(BufferedImage.TYPE_BYTE_GRAY, rgb), "png"),
        false),
      ("palette png",
        bytesOf(image(BufferedImage.TYPE_BYTE_INDEXED, rgb), "png"), false))
    cases.foreach { case (name, bytes, direct) =>
      val ref = ImageIO.read(new ByteArrayInputStream(bytes))
      val expected = ref.getRGB(0, 0, w, h, null, 0, w).map(_ & 0xFFFFFF)
      val (px, pw, ph) = ImageCodec.decodePixels(bytes)
      assert((pw, ph) === ((w, h)), name)
      assert(px.toSeq === expected.toSeq, name)
      // the case exercises the path it is meant to
      assert(ImageCodec.isSrgbBgr(ref) === direct, name)
    }
  }

  test("toImage equals the setRGB reference, alpha bits included") {
    val rnd = new scala.util.Random(5)
    Seq(ImageCodec.pixels(7L, w, h), Array.fill(w * h)(rnd.nextInt()))
      .foreach { px =>
        val ref = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
        ref.setRGB(0, 0, w, h, px, 0, w)
        val img = ImageCodec.toImage(px, w, h)
        assert(img.getType === BufferedImage.TYPE_INT_RGB)
        assert(img.getRGB(0, 0, w, h, null, 0, w).toSeq ===
          ref.getRGB(0, 0, w, h, null, 0, w).toSeq)
        assert(img.getRaster.getPixels(0, 0, w, h, null: Array[Int]).toSeq ===
          ref.getRaster.getPixels(0, 0, w, h, null: Array[Int]).toSeq)
        // lossless round trip through the encoder, which draws via toImage
        assert(ImageCodec.decodePixels(ImageCodec.encode(px, w, h, "png"))
          ._1.toSeq === ref.getRGB(0, 0, w, h, null, 0, w)
          .map(_ & 0xFFFFFF).toSeq)
      }
  }
}
