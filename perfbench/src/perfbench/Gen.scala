package perfbench

import java.awt.Color
import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Path, Paths}
import java.util.SplittableRandom
import javax.imageio.ImageIO
import scala.jdk.CollectionConverters._

/** Seeded input generators. Every input the program sees — images,
  * captions, the query stream and the change batches — is a pure function
  * of the workload seed, so one seed gives byte-identical inputs on every
  * run and every commit. */
object Gen {

  /** Fixed vocabulary (independent of the seed): pronounceable pseudo-words
    * built from a syllable grid, so captions tokenize like text. */
  val Vocab: Array[String] = {
    val on = Array("b", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t", "v", "z")
    val nu = Array("a", "e", "i", "o", "u", "ai", "ou")
    val co = Array("", "n", "r", "s", "l", "th")
    (for (a <- on; b <- nu; c <- on; d <- nu; e <- co) yield a + b + c + d + e)
      .take(4096)
  }

  /** Zipf(1.1) rank sampler over [[Vocab]]: a few words are common, most
    * are rare — the skew real caption vocabularies have. */
  private val zipfCdf: Array[Double] = {
    val w = Array.tabulate(Vocab.length)(r => 1.0 / math.pow(r + 1, 1.1))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }

  def word(rng: SplittableRandom): String = {
    val i = java.util.Arrays.binarySearch(zipfCdf, rng.nextDouble())
    Vocab(math.min(if (i >= 0) i else -i - 1, Vocab.length - 1))
  }

  def sentence(rng: SplittableRandom, minWords: Int, maxWords: Int): String =
    Seq.fill(minWords + rng.nextInt(maxWords - minWords + 1))(word(rng)).mkString(" ")

  /** One independent stream per (seed, purpose), so adding draws to one
    * stream never shifts another. */
  def rng(seed: Long, stream: String): SplittableRandom =
    new SplittableRandom(seed * 0x9e3779b97f4a7c15L ^ stream.hashCode.toLong)

  /** `n` captions of 6–14 words; caption i belongs to id i. */
  def captions(seed: Long, n: Int): Array[String] = {
    val r = rng(seed, "captions")
    Array.fill(n)(sentence(r, 6, 14))
  }

  /** Caption-like free-text queries of 2–6 words. */
  def queries(seed: Long, n: Int): Array[String] = {
    val r = rng(seed, "queries")
    Array.fill(n)(sentence(r, 2, 6))
  }

  final case class Change(id: Long, caption: String, deleted: Boolean)

  /** One change batch against an id space `[0, nextId)`: ~10% tombstones
    * and ~35% updates of distinct live ids (`live` says which), the rest
    * inserts of fresh ids; the caller stamps every row with the batch's
    * `version`. Returns the batch and the id space after its inserts. */
  def changeBatch(seed: Long, version: Long, rows: Int, nextId: Long,
      live: Long => Boolean): (Array[Change], Long) = {
    val r = rng(seed, s"changes-$version")
    val out = Array.newBuilder[Change]
    val touched = scala.collection.mutable.HashSet.empty[Long]
    var next = nextId
    var i = 0
    while (i < rows) {
      val p = r.nextDouble()
      if (p < 0.55) {
        out += Change(next, sentence(r, 6, 14), deleted = false); next += 1; i += 1
      } else {
        val id = r.nextLong(nextId)
        if (live(id) && touched.add(id)) {
          out += Change(id, sentence(r, 6, 14), deleted = p < 0.65); i += 1
        }
      }
    }
    (out.result(), next)
  }

  /** A corpus of `n` image files under `dir`, alternating PNG and JPEG, plus
    * `corrupt` undecodable files with image extensions. Every decodable
    * image is distinct: its index is stamped into the pixels as a bar
    * code. */
  def images(seed: Long, n: Int, corrupt: Int, dir: Path): Unit = {
    Files.createDirectories(dir)
    val r = rng(seed, "images")
    var i = 0
    while (i < n) {
      val png = (i & 1) == 0
      val data = encode(drawImage(r, i), if (png) "png" else "jpeg")
      Files.write(dir.resolve(f"img_$i%06d.${if (png) "png" else "jpg"}"), data)
      i += 1
    }
    var c = 0
    while (c < corrupt) {
      // random payload whose first byte matches no image magic number
      val data = Array.fill(256 + r.nextInt(768))(r.nextInt(256).toByte)
      data(0) = 0x00
      Files.write(dir.resolve(f"bad_$c%06d.${if ((c & 1) == 0) "png" else "jpg"}"), data)
      c += 1
    }
  }

  private def drawImage(r: SplittableRandom, idx: Int): BufferedImage = {
    val w = 48 + r.nextInt(33)
    val h = 48 + r.nextInt(33)
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val g = img.createGraphics()
    try {
      g.setColor(new Color(r.nextInt(1 << 24)))
      g.fillRect(0, 0, w, h)
      var s = 0
      val shapes = 2 + r.nextInt(5)
      while (s < shapes) {
        g.setColor(new Color(r.nextInt(1 << 24)))
        val (x, y) = (r.nextInt(w), r.nextInt(h))
        val (sw, sh) = (4 + r.nextInt(w / 2), 4 + r.nextInt(h / 2))
        if (r.nextBoolean()) g.fillOval(x, y, sw, sh) else g.fillRect(x, y, sw, sh)
        s += 1
      }
      // index bar code along the top rows: 16 bits, 3 px per bit
      var b = 0
      while (b < 16) {
        g.setColor(if (((idx >> b) & 1) == 1) Color.WHITE else Color.BLACK)
        g.fillRect(b * 3, 0, 3, 4)
        b += 1
      }
    } finally g.dispose()
    img
  }

  private def encode(img: BufferedImage, fmt: String): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    require(ImageIO.write(img, fmt, out), s"no $fmt writer")
    out.toByteArray
  }
}

/** Prints one SHA-256 per generated input kind for a seed, so tests can
  * check that a seed fixes the inputs and different seeds change them.
  * Usage: `GenDigest <seed> <scratch dir>` */
object GenDigest {
  def main(args: Array[String]): Unit = {
    val seed = args(0).toLong
    val dir = Paths.get(args(1))
    def sha(parts: Iterator[Array[Byte]]): String = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      parts.foreach(md.update)
      md.digest().map(b => f"$b%02x").mkString
    }
    def utf8(ss: Iterator[String]) = ss.map(_.getBytes("UTF-8"))
    println(s"captions ${sha(utf8(Gen.captions(seed, 1000).iterator))}")
    println(s"queries ${sha(utf8(Gen.queries(seed, 1000).iterator))}")
    val batches = (1L to 3L).iterator.flatMap { v =>
      Gen.changeBatch(seed, v, 100, 1000L, _ => true)._1.iterator.map(_.toString)
    }
    println(s"changes ${sha(utf8(batches))}")
    Gen.images(seed, 20, 2, dir)
    val files = Files.list(dir).iterator().asScala.toSeq.sortBy(_.getFileName.toString)
    println(s"images ${sha(files.iterator.flatMap(f =>
      Iterator(f.getFileName.toString.getBytes("UTF-8"), Files.readAllBytes(f))))}")
  }
}
