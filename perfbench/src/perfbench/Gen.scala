package perfbench

import java.nio.charset.StandardCharsets

import scala.collection.mutable
import scala.util.Random

import graft.sources.DocLoader

/** Seeded synthetic prose: a fixed 4,000-word Zipf vocabulary with topic
  * words, so documents about one topic share terms and questions retrieve
  * them. The vocabulary is the same for every seed (a language does not
  * change between runs); documents, users and questions come from the seed.
  */
object Text {
  private val syllables = Array("ka", "lo", "mi", "ren", "tor", "vi", "sha", "ul", "ne",
    "da", "fe", "gri", "po", "zu", "bel", "cor", "hin", "jo", "mar", "ques", "sti", "tu",
    "ve", "xa", "yo", "an", "ber", "cal", "dem", "el", "fin", "gor", "hal", "is", "kel",
    "lum", "nor", "or", "pra", "rin", "sol", "tan", "ur", "vor", "wen")

  val vocab: Array[String] = {
    val r = new Random(7)
    val s = mutable.LinkedHashSet.empty[String]
    while (s.size < 4000)
      s += Seq.fill(1 + r.nextInt(3) + (if (r.nextDouble() < 0.3) 1 else 0))(
        syllables(r.nextInt(syllables.length))).mkString
    s.toArray
  }

  private val cum: Array[Double] = {
    val w = vocab.indices.map(i => 1.0 / math.pow(i + 1, 1.05))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }

  val NTopics = 60
  val topics: Array[Array[String]] = {
    val r = new Random(11)
    Array.fill(NTopics)(Array.fill(40)(vocab(200 + r.nextInt(vocab.length - 200))))
  }

  /** Tokens of a junk vocabulary no clean document uses. */
  private val junk: Array[String] = {
    val r = new Random(13)
    Array.fill(800)(Seq.fill(3 + r.nextInt(4))(('a' + r.nextInt(26)).toChar).mkString + r.nextInt(100))
  }

  def zipfWord(r: Random): String = {
    val i = java.util.Arrays.binarySearch(cum, r.nextDouble())
    vocab(math.min(vocab.length - 1, if (i >= 0) i else -i - 1))
  }

  def word(r: Random, topic: Int): String =
    if (r.nextDouble() < 0.3) topics(topic)(r.nextInt(40)) else zipfWord(r)

  def words(r: Random, topic: Int, n: Int): Seq[String] = Seq.fill(n)(word(r, topic))

  def sentence(r: Random, topic: Int): String = {
    val ws = words(r, topic, 6 + r.nextInt(13)).toArray
    ws(0) = ws(0).capitalize
    if (ws.length > 8 && r.nextDouble() < 0.3) ws(4) = ws(4) + ","
    ws.mkString(" ") + "."
  }

  def paragraph(r: Random, topic: Int): String =
    Seq.fill(3 + r.nextInt(6))(sentence(r, topic)).mkString(" ")

  def junkText(r: Random, n: Int): String = Seq.fill(n)(junk(r.nextInt(junk.length))).mkString(" ")

  /** Heavy-tailed count: Pareto with the given minimum and shape, capped. */
  def pareto(r: Random, min: Int, alpha: Double, cap: Int): Int =
    math.min(cap, (min / math.pow(1 - r.nextDouble(), 1 / alpha)).toInt)
}

/** One generated upload: file name, bytes, and the text a correct loader
  * extracts from it (null for a container that must be quarantined).
  */
final case class GenFile(name: String, bytes: Array[Byte], expectedText: String, kind: String)

object GenFile {
  val Normal = "normal"
  val Bomb = "flate_bomb"
  val Reupload = "reupload"
  val Type0 = "bare_type0"
  val BitFlip = "bit_flip"
  val Truncated = "truncated_docx"
  val Quarantine: Set[String] = Set(Type0, BitFlip, Truncated)
}

/** Seeded upload batches for the write path. PDF and DOCX bytes come from
  * the engine's own container writers ([[DocLoader.buildPdf]],
  * [[DocLoader.buildDocx]], [[DocLoader.buildPdfType0Bare]]), so a change to
  * a writer changes the input digest.
  *
  * Every batch of `size` files plants the same shares: one FlateDecode
  * "bomb" (pages of one repeated line, inflating to many times the file
  * size), one container of each quarantine kind (bare Type0 font, bit-flipped
  * PDF header, DOCX truncated inside its document part) and, from the second
  * batch on, four exact byte copies of files admitted earlier.
  */
final class UploadGen(seed: Long, size: Int) {
  private val reuploads = 4
  private val admitted = mutable.ArrayBuffer.empty[GenFile]

  private def paragraphs(r: Random, topic: Int): Seq[String] =
    Seq.fill(Text.pareto(r, 3, 1.3, 70))(Text.paragraph(r, topic))

  /** Paragraphs grouped into pages of about 3,000 characters. */
  private def pages(ps: Seq[String]): Seq[String] = {
    val out = mutable.ArrayBuffer(mutable.ArrayBuffer.empty[String])
    var len = 0
    ps.foreach { p =>
      if (len > 0 && len + p.length > 3000) { out += mutable.ArrayBuffer.empty[String]; len = 0 }
      out.last += p
      len += p.length + 2
    }
    out.map(_.mkString("\n\n")).toSeq
  }

  private def render(r: Random, id: Long, topic: Int): GenFile = {
    val ps = paragraphs(r, topic)
    val u = r.nextDouble()
    if (u < 0.40) {
      val pg = pages(ps)
      GenFile(f"doc-$id%07d.pdf", DocLoader.buildPdf(pg), pg.mkString("\n"), GenFile.Normal)
    } else if (u < 0.75) {
      val text = ps.mkString("\n\n")
      GenFile(f"doc-$id%07d.docx", DocLoader.buildDocx(text), text, GenFile.Normal)
    } else {
      val html = "<!DOCTYPE html>\n<html><body>\n" +
        ps.map(p => s"<p>$p</p>").mkString("\n") + "\n</body></html>\n"
      GenFile(f"doc-$id%07d.html", html.getBytes(StandardCharsets.UTF_8),
        ps.mkString(" ").replaceAll("\\s+", " ").trim, GenFile.Normal)
    }
  }

  private def bomb(r: Random, id: Long, topic: Int): GenFile = {
    val pg = Seq.fill(3 + r.nextInt(3)) {
      val line = Text.sentence(r, topic)
      Seq.fill(150 + r.nextInt(150))(line).mkString("\n")
    }
    GenFile(f"doc-$id%07d.pdf", DocLoader.buildPdf(pg), pg.mkString("\n"), GenFile.Bomb)
  }

  private def quarantined(r: Random, id: Long, topic: Int, kind: String): GenFile = {
    val ps = paragraphs(r, topic)
    kind match {
      case GenFile.Type0 =>
        GenFile(f"doc-$id%07d.pdf", DocLoader.buildPdfType0Bare(pages(ps)), null, kind)
      case GenFile.BitFlip =>
        val b = DocLoader.buildPdf(pages(ps)).clone()
        b(1) = (b(1) ^ 1).toByte // "%PDF" -> "%QDF": no longer a PDF header
        GenFile(f"doc-$id%07d.pdf", b, null, kind)
      case _ =>
        val b = DocLoader.buildDocx(ps.mkString("\n\n"))
        // Cut halfway through the compressed document part, between its
        // local header name and the central directory.
        val s = new String(b, StandardCharsets.ISO_8859_1)
        val from = s.indexOf("word/document.xml") + "word/document.xml".length
        val to = s.indexOf("PK\u0001\u0002")
        GenFile(f"doc-$id%07d.docx", java.util.Arrays.copyOf(b, (from + to) / 2), null, kind)
    }
  }

  /** Batch `b`: deterministic in (seed, b) given that batches are drawn in
    * order 0, 1, 2, ... (re-uploads copy files of earlier batches).
    */
  def batch(b: Int): Seq[GenFile] = {
    val r = new Random(seed * 1000003L + b)
    val base = b.toLong * 1000
    val nRe = if (b == 0 || admitted.isEmpty) 0 else reuploads
    val kinds = Seq(GenFile.Bomb, GenFile.Type0, GenFile.BitFlip, GenFile.Truncated) ++
      Seq.fill(nRe)(GenFile.Reupload)
    val planted = kinds.zipWithIndex.map { case (k, j) =>
      val id = base + j
      val topic = r.nextInt(Text.NTopics)
      k match {
        case GenFile.Bomb => bomb(r, id, topic)
        case GenFile.Reupload =>
          val src = admitted(r.nextInt(admitted.length))
          GenFile(f"doc-$id%07d" + src.name.substring(src.name.lastIndexOf('.')),
            src.bytes, src.expectedText, GenFile.Reupload)
        case q => quarantined(r, id, topic, q)
      }
    }
    val normal = (kinds.length until size).map(j => render(r, base + j, r.nextInt(Text.NTopics)))
    admitted ++= normal
    planted ++ normal
  }
}
