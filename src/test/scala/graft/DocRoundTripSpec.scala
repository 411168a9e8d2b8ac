package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.sources.DocLoader

/** Property round trips for the JDK-only binary extractors: for ANY text
  * the deterministic writers can encode, decode must be the exact
  * identity. Seeded ScalaCheck Gens (same pattern as TextSplitSpec — the
  * scalatest-scalacheck bridge isn't on the offline classpath) cover the
  * adversarial corners a hand-picked fixture list misses: PDF literal
  * delimiters, backslash runs, XML entities, unicode outside Latin-1,
  * control-ish whitespace, and newline placement at every position.
  */
class DocRoundTripSpec extends AnyFunSuite with SparkTestSession {

  private val charGen: Gen[String] = Gen.frequency(
    10 -> Gen.alphaNumStr.map(_.take(8)),
    3 -> Gen.oneOf("(", ")", "\\", "\\\\", "((", "))", "\\("),
    3 -> Gen.oneOf("&", "<", ">", "&amp;", "<w:t>", "]]>"),
    2 -> Gen.oneOf("é", "中文", "Ω", "🙂", "ß"),
    3 -> Gen.oneOf(" ", "\t", "\n", "\n\n"))

  private val textGen: Gen[String] = for {
    n <- Gen.chooseNum(0, 40)
    parts <- Gen.listOfN(n, charGen)
  } yield parts.mkString

  private def samples(count: Int): Seq[String] =
    (1 to count).map(i => textGen.pureApply(Gen.Parameters.default, Seed(i.toLong)))

  test("property: docx encode→decode is the identity") {
    samples(300).foreach { t =>
      val back = DocLoader.extractDocx(DocLoader.buildDocx(t))
      assert(back == t, s"docx round trip broke for [${t.take(60)}]")
    }
  }

  test("property: pdf encode→decode is the identity, page structure intact") {
    samples(300).grouped(3).foreach { pages =>
      val got = DocLoader.extractPdfPages(DocLoader.buildPdf(pages))
      assert(got.map(_._1) == (1 to pages.size), "page numbering broke")
      assert(got.map(_._2) == pages,
        s"pdf round trip broke for pages [${pages.map(_.take(40)).mkString(" | ")}]")
    }
  }

  test("extraction status: ok / unsupported_font / parse_error routing") {
    // plain container: ok, text intact
    val (okText, okStatus) = DocLoader.extractPdfStatus(
      DocLoader.buildPdf(Seq("hello world", "page two")))
    assert(okStatus == DocLoader.StatusOk)
    assert(okText == "hello world\npage two")
    // CID/Type0 composite font WITHOUT a ToUnicode CMap: quarantined
    // with null text, never mis-decoded — the genuinely undecodable
    // class (glyph indexes, no declared Unicode mapping)
    val (t0Text, t0Status) = DocLoader.extractPdfStatus(
      DocLoader.buildPdfType0Bare(Seq("hello world", "page two")))
    assert(t0Status == DocLoader.StatusUnsupportedFont)
    assert(t0Text == null)
    // Type0 WITH a ToUnicode CMap extracts (r11: the CMapFont path)
    assert(DocLoader.extractPdfStatus(
      DocLoader.buildPdfType0(Seq("hello world", "page two"))) ==
      (("hello world\npage two", DocLoader.StatusOk)))
    // the bare-Type0 fixture still parses as a PDF for the status-less
    // path (which is exactly why status routing is needed: without it
    // the font defect is invisible)
    assert(DocLoader.extractPdfPages(DocLoader.buildPdfType0Bare(Seq("x"))) != null)
    // not a PDF at all
    val (badText, badStatus) = DocLoader.extractPdfStatus(
      "not a pdf at all".getBytes("UTF-8"))
    assert(badStatus == DocLoader.StatusParseError)
    assert(badText == null)
    assert(DocLoader.extractPdfStatus(null)._2 == DocLoader.StatusParseError)
  }

  test("property: bare-Type0 routing never depends on page content") {
    samples(60).grouped(2).foreach { pages =>
      val (t, s) = DocLoader.extractPdfStatus(DocLoader.buildPdfType0Bare(pages))
      assert(t == null && s == DocLoader.StatusUnsupportedFont,
        s"Type0 fixture leaked content for [${pages.map(_.take(30)).mkString("|")}]")
      assert(DocLoader.extractPdfStatus(DocLoader.buildPdf(pages)) ==
        ((pages.mkString("\n"), DocLoader.StatusOk)))
    }
  }

  test("property: Type0+ToUnicode encode→decode is the identity") {
    // the CMapFont path: hex CID strings under a subset-style Identity-H
    // font with a bfchar ToUnicode CMap — decode must invert exactly,
    // including multi-page structure, unicode outside Latin-1, and the
    // surrogate-pair emoji the charGen emits
    samples(120).grouped(3).foreach { pages =>
      val got = DocLoader.extractPdfPages(DocLoader.buildPdfType0(pages))
      assert(got.map(_._1) == (1 to pages.size), "page numbering broke")
      assert(got.map(_._2) == pages,
        s"Type0 round trip broke for pages [${pages.map(_.take(40)).mkString(" | ")}]")
      assert(DocLoader.extractPdfStatus(DocLoader.buildPdfType0(pages)) ==
        ((pages.mkString("\n"), DocLoader.StatusOk)))
    }
  }

  test("property: bare Type0 with an embedded font cmap decodes exactly") {
    // r13 FontFile2 fallback: NO /ToUnicode anywhere — the Unicode
    // mapping lives only in the embedded TrueType program's format-4
    // cmap, inverted at decode time (Identity-H ⇒ code = CID = GID).
    // BMP-only pages (format 4 can't carry supplementary planes; the
    // emoji class stays on the ToUnicode path).
    samples(120).grouped(3).foreach { pages0 =>
      val pages = pages0.map(t => t.codePoints().toArray.toSeq
        .filter(cp => cp == '\n' || cp <= 0xFFFE)
        .map(cp => new String(Character.toChars(cp))).mkString)
      val bytes = DocLoader.buildPdfType0Embedded(pages)
      assert(!new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)
        .contains("/ToUnicode"), "fixture must be ToUnicode-free")
      val got = DocLoader.extractPdfPages(bytes)
      assert(got.map(_._1) == (1 to pages.size), "page numbering broke")
      assert(got.map(_._2) == pages,
        s"embedded-cmap round trip broke for [${pages.map(_.take(40)).mkString(" | ")}]")
      assert(DocLoader.extractPdfStatus(bytes) ==
        ((pages.mkString("\n"), DocLoader.StatusOk)))
    }
    // the TRULY bare class (no font program either) still quarantines —
    // the fallback must not have fail-opened the routing
    assert(DocLoader.extractPdfStatus(
      DocLoader.buildPdfType0Bare(Seq("still quarantined")))._2 ==
      DocLoader.StatusUnsupportedFont)
  }

  test("property: bare Type0 with an embedded CFF charset decodes exactly") {
    // r14 FontFile3 fallback (r13 verdict #6): NO /ToUnicode anywhere —
    // the Unicode mapping lives only in the embedded CFF's charset
    // glyph names (uniXXXX / uXXXXXX), inverted at decode time
    // (Identity-H + non-CID CFF ⇒ code = CID = GID). Supplementary
    // planes ride the uXXXXXX names, so no BMP filter is needed.
    samples(120).grouped(3).foreach { pages =>
      val bytes = DocLoader.buildPdfType0EmbeddedCff(pages)
      assert(!new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)
        .contains("/ToUnicode"), "fixture must be ToUnicode-free")
      val got = DocLoader.extractPdfPages(bytes)
      assert(got.map(_._1) == (1 to pages.size), "page numbering broke")
      assert(got.map(_._2) == pages,
        s"CFF-charset round trip broke for [${pages.map(_.take(40)).mkString(" | ")}]")
      assert(DocLoader.extractPdfStatus(bytes) ==
        ((pages.mkString("\n"), DocLoader.StatusOk)))
    }
  }

  test("invertCffCharset: names invert, CID-keyed and malformed stay None") {
    val cff = DocLoader.buildCffWithCharset(Seq("uni0041", "uni0042", "space", "u01F600"))
    val inv = DocLoader.invertCffCharset(cff)
    assert(inv.contains(Map(1 -> "A", 2 -> "B", 3 -> " ", 4 -> "😀")))
    assert(DocLoader.invertCffCharset(Array.emptyByteArray).isEmpty)
    assert(DocLoader.invertCffCharset("not a cff at all".getBytes("UTF-8")).isEmpty)
    assert(DocLoader.invertCffCharset(cff.take(20)).isEmpty) // truncated
    // flipping the Top DICT to CID-keyed (append ROS op 12 30 is layout
    // work; instead assert the predefined-charset route) — charsetOff 0
    val pre = cff.clone()
    // Top DICT data starts after header(4) + name INDEX; its first five
    // bytes are the int5 charset offset: zero them to "predefined"
    val tdStart = {
      // header 4 bytes; name INDEX = 2(count)+1(offSize)+2(offsets)+8(data)
      4 + 2 + 1 + 2 + 8 + 2 + 1 + 2 // + topdict INDEX header = data start
    }
    for (k <- 1 to 4) pre(tdStart + k) = 0
    assert(DocLoader.invertCffCharset(pre).isEmpty, "predefined charset must stay quarantined")
  }

  test("invertTrueTypeCmap: format 4 inversion, malformed input is empty") {
    val ttf = DocLoader.buildTrueTypeWithCmap(Seq('a'.toInt -> 1, 'b'.toInt -> 2, 'é'.toInt -> 3))
    val inv = DocLoader.invertTrueTypeCmap(ttf)
    assert(inv.contains(Map(1 -> "a", 2 -> "b", 3 -> "é")))
    // present-but-empty cmap is Some(empty) — decodable, maps nothing
    assert(DocLoader.invertTrueTypeCmap(
      DocLoader.buildTrueTypeWithCmap(Seq.empty)).contains(Map.empty))
    assert(DocLoader.invertTrueTypeCmap(Array.emptyByteArray).isEmpty)
    assert(DocLoader.invertTrueTypeCmap("garbage-not-sfnt".getBytes("UTF-8")).isEmpty)
    assert(DocLoader.invertTrueTypeCmap(ttf.take(40)).isEmpty) // truncated
  }

  test("property: /Encoding /Differences encode→decode is the identity") {
    // the DiffFont path: content bytes are REMAPPED printable codes and
    // only the /Differences array (uniXXXX glyph names) can invert them —
    // a decoder ignoring the encoding would emit the wrong characters
    samples(120).grouped(3).foreach { pages0 =>
      // cap distinct code points at the writer's 94-code capacity
      val pages = pages0.map { t =>
        val keep = t.codePoints().toArray.toSeq.filter(_ != '\n').distinct.take(94).toSet
        t.codePoints().toArray.toSeq
          .filter(cp => cp == '\n' || keep.contains(cp))
          .map(cp => new String(Character.toChars(cp))).mkString
      }
      val got = DocLoader.extractPdfPages(DocLoader.buildPdfDifferences(pages))
      assert(got.map(_._2) == pages,
        s"Differences round trip broke for [${pages.map(_.take(40)).mkString(" | ")}]")
    }
    // remap actually matters: a text whose codes differ from identity
    val tricky = Seq("zyxw vu", "¡ünïcødé—ok")
    assert(DocLoader.extractPdfPages(DocLoader.buildPdfDifferences(tricky)).map(_._2) == tricky)
  }

  test("named base encoding: /WinAnsiEncoding decodes cp1252-only codes") {
    // 0x80–0x9F is exactly where WinAnsi diverges from the Latin-1
    // default: smart quotes, €, ™, — . A decoder ignoring the named
    // encoding reads those octal-escaped bytes as C1 controls.
    val pages = Seq("“smart quotes” — €99 ™", "plain ascii line")
    val got = DocLoader.extractPdfPages(DocLoader.buildPdfWinAnsi(pages))
    assert(got.map(_._2) == pages,
      s"WinAnsi round trip broke: ${got.map(_._2)}")
    assert(DocLoader.extractPdfStatus(DocLoader.buildPdfWinAnsi(pages)) ==
      ((pages.mkString("\n"), DocLoader.StatusOk)))
    // Latin-1 range decodes identically through the base table
    val latin = Seq("café naïve Ærø")
    assert(DocLoader.extractPdfPages(DocLoader.buildPdfWinAnsi(latin)).map(_._2) == latin)
  }

  // ---- decompression bombs: a stream that inflates past
  // DocLoader.MaxInflatedBytes must route its whole document to
  // parse_error (one row, no exception) instead of exhausting the heap.
  private val bombBytes = DocLoader.MaxInflatedBytes + (1L << 20)

  /** Feed `n` zero bytes, 1 MiB at a time, through `write`. */
  private def zeros(n: Long)(write: (Array[Byte], Int) => Unit): Unit = {
    val chunk = new Array[Byte](1 << 20)
    var left = n
    while (left > 0) { val k = math.min(left, chunk.length.toLong).toInt; write(chunk, k); left -= k }
  }

  private def statusRows(name: String, bytes: Array[Byte]): Array[(String, String)] = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_bomb")
    java.nio.file.Files.write(dir.resolve(name), bytes)
    DocLoader.loadDocumentsWithStatus(spark, dir.toString)
      .select("text", "extraction_status").as[(String, String)].collect()
  }

  test("decompression bomb: an oversized PDF Flate stream is one parse_error row") {
    val d = new java.util.zip.Deflater(java.util.zip.Deflater.BEST_COMPRESSION)
    val deflated = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](1 << 16)
    def drain(): Unit = while (!d.needsInput()) deflated.write(buf, 0, d.deflate(buf))
    zeros(bombBytes) { (chunk, k) => d.setInput(chunk, 0, k); drain() }
    d.finish()
    while (!d.finished()) deflated.write(buf, 0, d.deflate(buf))
    d.end()
    val stream = deflated.toByteArray
    val pdf = new java.io.ByteArrayOutputStream()
    pdf.write(("%PDF-1.4\n1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n" +
      "2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n" +
      "3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n" +
      s"4 0 obj\n<< /Length ${stream.length} /Filter /FlateDecode >>\nstream\n").getBytes("ISO-8859-1"))
    pdf.write(stream)
    pdf.write("\nendstream\nendobj\n%%EOF\n".getBytes("ISO-8859-1"))
    assert(stream.length < (1 << 20), s"bomb fixture is not a bomb: ${stream.length} bytes")
    assert(statusRows("bomb.pdf", pdf.toByteArray).toSeq ==
      Seq((null, DocLoader.StatusParseError)))
  }

  test("decompression bomb: an oversized DOCX document part is one parse_error row") {
    val docx = new java.io.ByteArrayOutputStream()
    val zos = new java.util.zip.ZipOutputStream(docx)
    zos.setLevel(java.util.zip.Deflater.BEST_COMPRESSION)
    zos.putNextEntry(new java.util.zip.ZipEntry("word/document.xml"))
    zeros(bombBytes) { (chunk, k) => zos.write(chunk, 0, k) }
    zos.closeEntry()
    zos.close()
    assert(docx.size < (1 << 20), s"bomb fixture is not a bomb: ${docx.size} bytes")
    assert(statusRows("bomb.docx", docx.toByteArray).toSeq ==
      Seq((null, DocLoader.StatusParseError)))
  }

  /** One seeded mutation of a document's bytes: bit flips, a truncation,
    * a byte range spliced in elsewhere, or a decimal run (a /Length,
    * /Count, object number or xref offset) inflated or zeroed. */
  private def mutation(b: Array[Byte]): Gen[Array[Byte]] = {
    val last = math.max(b.length - 1, 0)
    Gen.oneOf(
      Gen.listOfN(8, Gen.zip(Gen.chooseNum(0, last), Gen.chooseNum(0, 7))).map { flips =>
        val c = b.clone()
        flips.foreach { case (i, bit) => if (i < c.length) c(i) = (c(i) ^ (1 << bit)).toByte }
        c
      },
      Gen.chooseNum(0, last).map(n => b.take(n)),
      for {
        from <- Gen.chooseNum(0, last)
        len <- Gen.chooseNum(1, 512)
        to <- Gen.chooseNum(0, last)
      } yield b.take(to) ++ b.slice(from, from + len) ++ b.drop(to),
      Gen.zip(Gen.chooseNum(0, 10000),
        Gen.oneOf("0", "-1", "999999999", "2147483648", "99999999999999999999")).map {
        case (k, big) =>
          val runs = "[0-9]+".r.findAllMatchIn(new String(b, "ISO-8859-1")).toVector
          if (runs.isEmpty) b
          else {
            val m = runs(k % runs.size)
            b.take(m.start) ++ big.getBytes("ISO-8859-1") ++ b.drop(m.end)
          }
      })
  }

  test("fuzz: mutated PDF/DOCX bytes each yield one row with a closed-set status") {
    // 1-3 stacked mutations of the writers' own outputs (truncations
    // include empty files); one load call over all of them must finish
    // with one row per file and a status from the closed set — never a
    // failed task, a hung executor or a silently missing file.
    val builders: Seq[(String, Seq[String] => Array[Byte])] = Seq(
      "pdf" -> (ps => DocLoader.buildPdf(ps)),
      "pdf" -> (ps => DocLoader.buildPdfType0(ps)),
      "docx" -> (ps => DocLoader.buildDocx(ps.mkString("\n"))))
    def fuzzed(b: Array[Byte]): Gen[Array[Byte]] =
      Gen.chooseNum(1, 3).flatMap(n =>
        (1 to n).foldLeft(Gen.const(b))((g, _) => g.flatMap(mutation)))
    val dir = java.nio.file.Files.createTempDirectory("graft_fuzz")
    val nFiles = 360
    (0 until nFiles).foreach { i =>
      val (ext, build) = builders(i % builders.size)
      val seed = Seed(10000L + i)
      val pages = Gen.listOfN(2, textGen).pureApply(Gen.Parameters.default, seed)
      val bytes = fuzzed(build(pages)).pureApply(Gen.Parameters.default, seed.next)
      java.nio.file.Files.write(dir.resolve(f"m$i%04d.$ext"), bytes)
    }
    val t0 = System.nanoTime()
    val rows = DocLoader.loadDocumentsWithStatus(spark, dir.toString)
      .select("path", "extraction_status").collect()
    val secs = (System.nanoTime() - t0) / 1e9
    val nRows = rows.length
    val nPaths = rows.map(_.getString(0)).distinct.length
    assert(nRows == nFiles && nPaths == nFiles, s"$nRows rows, $nPaths paths for $nFiles files")
    val statuses = rows.map(_.getString(1)).toSet
    assert(statuses.subsetOf(Set(DocLoader.StatusOk, DocLoader.StatusUnsupportedFont,
      DocLoader.StatusParseError, DocLoader.StatusUnsupportedFormat)), statuses)
    assert(secs < 120, f"fuzz load took $secs%.1f s")
  }
}
