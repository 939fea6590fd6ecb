package graft

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream
import javax.imageio.{IIOImage, ImageIO, ImageTypeSpecifier, ImageWriteParam}
import javax.imageio.metadata.IIOMetadataNode

/** JPEG test inputs in the qualities and layouts `Media.encodeImage`
  * does not write — quality below 1.0, grayscale, 4:4:4 color, restart
  * intervals, progressive — written
  * through the JDK writer's own metadata tree, so the specs can check
  * that `Media.decodeImage` reads every layout real files use.
  */
object JpegFixtures {

  /** `data` is gray (comps = 1) or interleaved RGB (comps = 3);
    * `subsample` selects 4:2:0 over 4:4:4 for color.
    */
  def encode(w: Int, h: Int, comps: Int, data: Array[Byte], quality: Float,
             subsample: Boolean = false, restartInterval: Int = 0,
             progressive: Boolean = false): Array[Byte] = {
    val img = new BufferedImage(w, h,
      if (comps == 1) BufferedImage.TYPE_BYTE_GRAY
      else BufferedImage.TYPE_3BYTE_BGR)
    img.getRaster.setDataElements(0, 0, w, h, data) // band order: R, G, B
    val writer = ImageIO.getImageWritersByFormatName("jpeg").next()
    val param = writer.getDefaultWriteParam
    param.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
    param.setCompressionQuality(quality)
    if (progressive) param.setProgressiveMode(ImageWriteParam.MODE_DEFAULT)
    val meta = writer.getDefaultImageMetadata(
      ImageTypeSpecifier.createFromRenderedImage(img), param)
    val fmt = "javax_imageio_jpeg_image_1.0"
    val root = meta.getAsTree(fmt).asInstanceOf[IIOMetadataNode]
    if (comps == 3) { // the first component is Y: 2x2 is 4:2:0, 1x1 is 4:4:4
      val y = root.getElementsByTagName("componentSpec").item(0)
        .asInstanceOf[IIOMetadataNode]
      val f = if (subsample) "2" else "1"
      y.setAttribute("HsamplingFactor", f)
      y.setAttribute("VsamplingFactor", f)
    }
    if (restartInterval > 0) {
      val dri = new IIOMetadataNode("dri")
      dri.setAttribute("interval", restartInterval.toString)
      val sof = root.getElementsByTagName("sof").item(0)
      sof.getParentNode.insertBefore(dri, sof)
    }
    meta.setFromTree(fmt, root)
    val bos = new ByteArrayOutputStream()
    val out = ImageIO.createImageOutputStream(bos)
    try {
      writer.setOutput(out)
      writer.write(null, new IIOImage(img, null, meta), param)
    } finally {
      out.close()
      writer.dispose()
    }
    bos.toByteArray
  }

  /** Gray level (comps = 1) or RGB samples of a decoded image, laid out
    * like `encode`'s input.
    */
  def samples(img: graft.multimodal.Media.Image, comps: Int): Array[Byte] =
    if (comps == 3) img.rgb else Array.tabulate(img.width * img.height)(i => img.rgb(3 * i))
}
