package perfbench

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream, File, FileOutputStream}
import java.util.zip.{ZipEntry, ZipOutputStream}
import javax.imageio.ImageIO
import scala.util.Random

/** Seeded synthetic image corpus for the `osv5m-etl` image step: zip
  * archives of JPEG and PNG images (about 2:1) with varied dimensions, plus
  * non-image entries and truncated image entries that the ETL must skip.
  * The program under test only ever sees the written zip files. */
object Corpus {
  val Archives = 8
  val ImagesPerArchive = 15
  val NonImagesPerArchive = 3
  val TruncatedPerArchive = 2

  /** Writes the corpus under `dir` and returns the number of decodable
    * images, checked here with ImageIO so the expectation does not rest on
    * construction alone. */
  def write(seed: Long, dir: File): Int = {
    dir.mkdirs()
    val rng = new Random(seed)
    var valid = 0
    for (a <- 0 until Archives) {
      val zip = new ZipOutputStream(new FileOutputStream(new File(dir, f"shard_$a%02d.zip")))
      try {
        def put(name: String, bytes: Array[Byte]): Unit = {
          zip.putNextEntry(new ZipEntry(name)); zip.write(bytes); zip.closeEntry()
        }
        for (i <- 0 until ImagesPerArchive) {
          val fmt = if (rng.nextInt(3) < 2) "jpg" else "png"
          val w = 64 + rng.nextInt(193)
          val h = 48 + rng.nextInt(145)
          val bytes = image(rng.nextLong(), w, h, fmt)
          require(decodes(bytes), s"generated $fmt ${w}x$h does not decode")
          put(f"img_$a%02d_$i%03d.$fmt", bytes)
          valid += 1
        }
        for (i <- 0 until NonImagesPerArchive)
          put(f"meta_$a%02d_$i%d." + Seq("json", "txt", "csv")(i % 3),
            s"""{"archive": $a, "entry": $i, "note": "not an image"}""".getBytes("UTF-8"))
        for (i <- 0 until TruncatedPerArchive) {
          val fmt = if (i % 2 == 0) "jpg" else "png"
          val full = image(rng.nextLong(), 96, 72, fmt)
          // A 24-byte prefix holds the signature and part of the first
          // header segment: recognisably an image, never decodable.
          val cut = full.take(24)
          require(!decodes(cut), s"truncated $fmt entry still decodes")
          put(f"trunc_$a%02d_$i%d.$fmt", cut)
        }
      } finally zip.close()
    }
    valid
  }

  private def image(seed: Long, w: Int, h: Int, fmt: String): Array[Byte] = {
    val rng = new Random(seed)
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    // Separable gradients with a per-image tint and period, plus cheap
    // per-pixel noise so the JPEG encoder has texture to work on.
    val (px, py) = (4 + rng.nextInt(28), 4 + rng.nextInt(28))
    val row = Array.tabulate(w)(x => ((x % px) * 120) / px)
    val col = Array.tabulate(h)(y => ((y % py) * 120) / py)
    val tint = rng.nextInt(0x808080)
    var noise = rng.nextInt() | 1
    val px1 = new Array[Int](w)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        noise ^= noise << 13; noise ^= noise >>> 17; noise ^= noise << 5
        val v = row(x) + col(y) + (noise & 0xf)
        px1(x) = tint ^ ((v << 16) | ((255 - v) << 8) | (v >> 1))
        x += 1
      }
      img.setRGB(0, y, w, 1, px1, 0, w)
      y += 1
    }
    val out = new ByteArrayOutputStream()
    require(ImageIO.write(img, fmt, out), s"no ImageIO writer for $fmt")
    out.toByteArray
  }

  private def decodes(bytes: Array[Byte]): Boolean =
    try ImageIO.read(new ByteArrayInputStream(bytes)) != null
    catch { case _: Exception => false }
}
