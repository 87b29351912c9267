package perfbench

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream
import javax.imageio.{IIOImage, ImageIO, ImageWriteParam}

/** Seeded synthetic pictures, encoded with the JDK's own PNG/JPEG writers:
  * smooth gradients with a few soft discs and light noise. */
object Pictures {

  def pixels(seed: Long, i: Long, w: Int, h: Int): Array[Int] = {
    var st = Stats.mix64(seed * 0x2545F4914F6CDD1DL + i) | 1L
    def next(): Long = { st ^= st << 13; st ^= st >>> 7; st ^= st << 17; st }
    val base = Array.fill(3)((next() & 0x7F).toInt + 40)
    val discs = Array.fill(3)((((next() >>> 8) % w).toInt.abs, ((next() >>> 8) % h).toInt.abs,
      4 + ((next() >>> 8) % math.max(1, w / 3)).toInt.abs, (next() & 0x7F).toInt))
    val px = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        var r = base(0) + x * 80 / w
        var g = base(1) + y * 80 / h
        var b = base(2) + (x + y) * 40 / (w + h)
        var k = 0
        while (k < discs.length) {
          val (cx, cy, rad, add) = discs(k)
          val d2 = (x - cx) * (x - cx) + (y - cy) * (y - cy)
          if (d2 < rad * rad) {
            val a = add * (rad * rad - d2) / (rad * rad)
            r += a; g += a / 2; b -= a / 2
          }
          k += 1
        }
        val n = (next() & 0x7).toInt - 4
        px(y * w + x) = clamp(r + n) << 16 | clamp(g + n) << 8 | clamp(b + n)
        x += 1
      }
      y += 1
    }
    px
  }

  private def clamp(v: Int): Int = if (v < 0) 0 else if (v > 255) 255 else v

  def encoded(seed: Long, i: Long, w: Int, h: Int, fmt: String): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, w, h, pixels(seed, i, w, h), 0, w)
    val out = new ByteArrayOutputStream()
    if (fmt == "png") ImageIO.write(img, "png", out)
    else {
      val wr = ImageIO.getImageWritersByFormatName("jpeg").next()
      val p = wr.getDefaultWriteParam
      p.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
      p.setCompressionQuality(0.9f)
      val ios = ImageIO.createImageOutputStream(out)
      wr.setOutput(ios)
      wr.write(null, new IIOImage(img, null, null), p)
      wr.dispose(); ios.close()
    }
    out.toByteArray
  }
}
