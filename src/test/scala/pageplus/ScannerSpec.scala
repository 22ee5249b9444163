package pageplus

import java.nio.charset.StandardCharsets.{UTF_16, UTF_8}

import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalatest.funsuite.AnyFunSuite

import pageplus.data.{PagesFromDocuments, SyntheticCorpus}
import pageplus.model.PageDoc
import pageplus.text.FullText
import pageplus.xml.{PageXmlWriter, StaxPageParser}

/** Inputs of the text-only parse tests: every generated page family. */
object ScannerInputs {

  private val texts = Seq(
    "the quick brown fox jumps over the lazy dog and keeps running past the river bank",
    "grüße aus köln – straße & <tags> \"quoted\" 'single' ⸗ hy- phen 😀 end",
    "one",
    "")

  /** Every `SyntheticCorpus` class the scanner must read (all but malformed
    * and nonPage). */
  val synthetic: Seq[(String, String)] = Seq(
    "clean" -> SyntheticCorpus.clean(3),
    "hyphenated" -> SyntheticCorpus.hyphenated(3),
    "wordLevel" -> SyntheticCorpus.wordLevel(3),
    "indexedTextEquiv" -> SyntheticCorpus.indexedTextEquiv(3),
    "readingOrder" -> SyntheticCorpus.readingOrder(3),
    "badRing" -> SyntheticCorpus.badRing(3),
    "badBaseline" -> SyntheticCorpus.badBaseline(3),
    "table" -> SyntheticCorpus.table(3),
    "edge" -> SyntheticCorpus.edge(3),
    "megaDoc" -> SyntheticCorpus.megaDoc(3, regions = 4, linesPer = 3),
    "megaDocNested" -> SyntheticCorpus.megaDocNested(3, regions = 3, linesPer = 2))

  val syntheticErrors: Seq[(String, String)] = Seq(
    "malformed" -> SyntheticCorpus.malformed(3),
    "nonPage" -> SyntheticCorpus.nonPage(3))

  private val families: Seq[(String, (Long, String) => PageDoc)] = Seq(
    "clean" -> PagesFromDocuments.cleanDoc,
    "twoRegion" -> PagesFromDocuments.twoRegionDoc,
    "corrupt" -> PagesFromDocuments.corruptDoc,
    "words" -> PagesFromDocuments.wordDoc,
    "splitLines" -> PagesFromDocuments.splitLinesDoc,
    "twoColumn" -> PagesFromDocuments.twoColumnDoc,
    "hyphenated" -> PagesFromDocuments.hyphenatedDoc,
    "messy" -> PagesFromDocuments.messyDoc,
    "extras" -> PagesFromDocuments.extrasDoc)

  /** Every `PagesFromDocuments` class as `PageXmlWriter` writes it, over a few
    * doc ids (the families vary by id) and texts. */
  val fromDocuments: Seq[(String, String)] =
    for ((name, build) <- families; id <- 0L until 7L; t <- texts)
      yield s"$name/$id" -> PageXmlWriter.write(build(id, t))

  /** A schema-valid PAGE root: `xmlns:xsi` and `xsi:schemaLocation`. */
  val schemaLocated: String =
    PageXmlWriter.write(PagesFromDocuments.cleanDoc(1, texts.head)).replace("<PcGts ",
      "<PcGts xmlns:xsi=\"http://www.w3.org/2001/XMLSchema-instance\" " +
        "xsi:schemaLocation=\"http://schema.primaresearch.org/PAGE/gts/pagecontent/2019-07-15 " +
        "http://schema.primaresearch.org/PAGE/gts/pagecontent/2019-07-15/pagecontent.xsd\" ")

  /** Same `PageDoc` in every field, and the same extraction in doc-order,
    * `readingOrder` and `dehyphenate` modes. */
  def agrees(bytes: Array[Byte]): Boolean = {
    val scanned = StaxPageParser.parseTextOnly("u", bytes)
    val stax = StaxPageParser.parseTextOnlyStax("u", bytes)
    scanned == stax && Seq((false, false), (true, false), (false, true)).forall { case (ro, dh) =>
      FullText.extract(scanned, dehyphenate = dh, readingOrder = ro) ==
        FullText.extract(stax, dehyphenate = dh, readingOrder = ro)
    }
  }
}

/** The text-only parse reads every generated page on the scanner: a scanner
  * that fell back on any of them would pass every equality test and gain
  * nothing. */
class ScannerSpec extends AnyFunSuite {
  import ScannerInputs._

  private def reads(xml: String): Boolean = StaxPageParser.scannerReads(xml.getBytes(UTF_8))

  test("every SyntheticCorpus page class but malformed and nonPage parses without fallback") {
    for ((name, xml) <- synthetic) {
      assert(reads(xml), name)
      assert(agrees(xml.getBytes(UTF_8)), name)
    }
    for ((name, xml) <- syntheticErrors) {
      assert(!reads(xml), name)
      assert(agrees(xml.getBytes(UTF_8)), name)
    }
  }

  test("every PagesFromDocuments class parses without fallback") {
    for ((name, xml) <- fromDocuments) {
      assert(reads(xml), name)
      assert(agrees(xml.getBytes(UTF_8)), name)
    }
  }

  test("a root with xmlns:xsi and xsi:schemaLocation parses without fallback") {
    assert(reads(schemaLocated))
    assert(agrees(schemaLocated.getBytes(UTF_8)))
  }

  test("documents StAX must decide fall back, with StAX's result") {
    val page = SyntheticCorpus.clean(1)
    val cases = Seq(
      page.replace("?>", "?>\n<!DOCTYPE PcGts>"),
      page.replace("UTF-8", "ISO-8859-1"),
      page.replace("doc1 region0 line0", "doc1 &bogus; line0"),
      page.replace("doc1 region0 line0", "doc1 <!-- c --> line0"),
      page.replace("doc1 region0 line0", "doc1 ]]> line0"),
      page.replace("<TextLine id=\"r0l0\"", "<TextLine id=\"r0l0\" id=\"x\""),
      page.replace("<TextRegion id=\"r1\"", "<TextRegion id=\"r1\" xmlns=\"http://other/\""),
      page.replace("<TextLine id=\"r0l1\"", "<TextLine q:id=\"r0l1\""),
      page + "<PcGts/>",
      page.replace("\n", "\r\n"),
      page.take(page.length / 2))
    for (xml <- cases) {
      assert(!reads(xml), xml)
      assert(agrees(xml.getBytes(UTF_8)), xml)
    }
    val utf16 = page.getBytes(UTF_16)
    assert(!StaxPageParser.scannerReads(utf16))
    assert(agrees(utf16))
  }

  test("references, quotes, BOM and no declaration stay on the scanner") {
    val page = SyntheticCorpus.clean(1)
    val cases = Seq(
      page.replace("doc1 region0 line0", "a &amp; &lt;b&gt; &quot;&apos; &#x1F600; &#233; &#13;"),
      page.replace("<TextLine id=\"r0l0\"", "<TextLine id=\"r&amp;0\tl0\n\""),
      page.replace("\"", "'"),
      "﻿" + page,
      page.substring(page.indexOf("?>") + 2))
    for (xml <- cases) {
      assert(reads(xml), xml)
      assert(agrees(xml.getBytes(UTF_8)), xml)
    }
  }
}

/** Differential: the text-only parse (scanner with StAX fallback) equals the
  * StAX-only text-only parse in every `PageDoc` field, `parseError` included,
  * and in extraction, over generated pages and their mutations. */
object ScannerDiffProps extends Properties("PageScanner") {
  import ScannerInputs._

  /** At least 1,000 cases; `-- -minSuccessfulTests N` asks for more. */
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(math.max(1000, p.minSuccessfulTests))

  private val base: Gen[String] = Gen.frequency(
    (3, Gen.oneOf(synthetic ++ syntheticErrors).map(_._2)),
    (3, Gen.oneOf(fromDocuments).map(_._2)),
    (1, Gen.const(schemaLocated)),
    (3, RoundTripProps.docGen.map(PageXmlWriter.write)))

  private def occurrences(s: String, anchor: String): IndexedSeq[Int] =
    Iterator.iterate(s.indexOf(anchor))(i => s.indexOf(anchor, i + 1)).takeWhile(_ >= 0).toIndexedSeq

  /** `what` after the `k`-th occurrence of `anchor` (modulo their count). */
  private def after(s: String, anchor: String, k: Int, what: String): String = {
    val at = occurrences(s, anchor)
    if (at.isEmpty) s
    else {
      val i = at(k % at.size) + anchor.length
      s.substring(0, i) + what + s.substring(i)
    }
  }

  private val textInserts = Seq("&amp;", "&#x1F600;", "&#0;", "&bogus;", "&", "<", ">", "]]>",
    "<![CDATA[a<b]]>", "<!-- c -->", "<?pi x?>", "\r\n", "\n", "&#13;", "&#xD800;", "&#65;",
    "&lt;&gt;&quot;&apos;", "ß€😀", "\u0001", "￾", "\u0085", "<b>x</b>", "</Unicode>")
  private val attrInserts = Seq("&amp;", "&#x1F600;", "&#0;", "&bogus;", "&", "<", ">", "\t", "\n",
    "\r", "&#10;", "'", "\"", "é", "&#9;")

  /** Text-level mutations; `k` picks an occurrence. */
  private val textMutation: Gen[String => String] = for {
    k <- Gen.choose(0, 1 << 16)
    m <- Gen.choose(0, 17)
    t <- Gen.oneOf(textInserts)
    a <- Gen.oneOf(attrInserts)
  } yield (s: String) => m match {
    case 0 => after(s, "<Unicode>", k, t)
    case 1 => after(s, "id=\"", k, a)
    case 2 => after(s, "points=\"", k, a)
    case 3 => after(s, "<TextLine", k, " a=\"1\" a=\"2\"")
    case 4 => after(s, "?>", 0, "\n<!DOCTYPE PcGts>")
    case 5 => s.replaceFirst("(?i)encoding=\"utf-8\"", "encoding=\"ISO-8859-1\"")
    case 6 => after(s, "<TextLine", k, " foo:x=\"1\"")
    case 7 => after(s, "<TextRegion", k, " xmlns=\"http://other/\"")
    case 8 => after(s, "<TextLine", k, " xmlns:q=\"http://q/\" q:a=\"1\"")
    case 9 => val at = occurrences(s, "<Unicode>")
      if (at.isEmpty) s
      else { val i = at(k % at.size); s.substring(0, i) + "<Unicode xmlns=\"http://other/\">" + s.substring(i + 9) }
    case 10 => s + Seq("x", "<x/>", "\n \n", "<!-- c -->", "<?pi?>", "<PcGts/>", "&amp;")(k % 7)
    case 11 => "﻿" + s
    case 12 => s.substring(math.max(0, s.indexOf("?>") + 2))
    case 13 => s.replace('"', '\'')
    case 14 => after(s, "<PcGts", 0, " xmlns:xsi=\"http://www.w3.org/2001/XMLSchema-instance\" xsi:schemaLocation=\"a b\"")
    case 15 => after(s, "<TextLine", k, " xml:lang=\"en\"")
    case 16 => s.replaceFirst("version=\"1.0\"", "version=\"1.1\"")
    case _ => after(s, "<Word", k, " xsi:type=\"w\"")
  }

  /** Byte-level mutations; `k` picks an offset. */
  private val byteMutation: Gen[Array[Byte] => Array[Byte]] = for {
    k <- Gen.choose(0, 1 << 16)
    x <- Gen.choose(0, 255)
    m <- Gen.choose(0, 6)
  } yield (b: Array[Byte]) => {
    val i = if (b.isEmpty) 0 else k % b.length
    m match {
      case 0 => b.patch(i, Seq(x.toByte), 0)
      case 1 => b.patch(i, Nil, 1)
      case 2 => if (b.isEmpty) b else b.updated(i, x.toByte)
      case 3 => b.take(i)
      case 4 => b.patch(i, Seq(0xc3, 0x28, 0xff, 0xed, 0xa0, 0x80, 0xc0, 0xaf).map(_.toByte).drop(k % 8).take(2), 0)
      case 5 => Array(0xfe, 0xff).map(_.toByte) ++ b
      case _ => b
    }
  }

  private val input: Gen[Array[Byte]] = for {
    s <- base
    ms <- Gen.frequency((2, 0), (2, 1), (1, 2)).flatMap(n => Gen.listOfN(n, textMutation))
    bm <- Gen.frequency((2, Gen.const(None)), (1, byteMutation.map(Some(_))))
    utf16 <- Gen.frequency((30, false), (1, true))
  } yield {
    val text = ms.foldLeft(s)((acc, f) => f(acc))
    val bytes = text.getBytes(if (utf16) UTF_16 else UTF_8)
    bm.fold(bytes)(_(bytes))
  }

  property("parseTextOnly == StAX-only text parse, field by field and in extraction") =
    Prop.forAllNoShrink(input) { bytes =>
      Prop.classify(StaxPageParser.scannerReads(bytes), "scanner", "fallback") {
        agrees(bytes)
      }
    }
}
