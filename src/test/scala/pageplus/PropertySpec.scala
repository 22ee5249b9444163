package pageplus

import org.scalacheck.{Gen, Prop, Properties}

import pageplus.data.PagesFromDocuments
import pageplus.model._
import pageplus.ops.Delete
import pageplus.text.{Dehyphe, FullText, Stats}
import pageplus.xml.{PageXmlWriter, StaxPageParser}

/** Property tests (SURVEY §5.2 layer 2). */
object RoundTripProps extends Properties("PageXml") {

  private val textGen: Gen[String] =
    Gen.listOf(Gen.frequency(
      (20, Gen.alphaNumChar),
      (5, Gen.const(' ')),
      (1, Gen.oneOf('&', '<', '>', '"', '-', 'ß', 'é', '⸗')))).map(_.mkString)

  private val idGen: Gen[String] = Gen.identifier.map(_.take(12)).suchThat(_.nonEmpty)

  private val ptGen: Gen[Pt] = for {
    x <- Gen.chooseNum(0, 5000)
    y <- Gen.chooseNum(0, 5000)
  } yield Pt(x, y)

  private val textEquivGen: Gen[TextEquivT] = for {
    idx <- Gen.oneOf(0, 0, 0, 1, 2)
    t <- textGen
  } yield TextEquivT(idx, t)

  private val wordGen: Gen[WordT] = for {
    id <- idGen
    pts <- Gen.listOfN(4, ptGen)
    texts <- Gen.listOfN(1, textEquivGen)
  } yield WordT(id, hasCoords = true, pts, texts)

  private val lineGen: Gen[LineT] = for {
    id <- idGen
    hasCoords <- Gen.oneOf(true, true, false)
    pts <- Gen.choose(3, 6).flatMap(n => Gen.listOfN(n, ptGen))
    hasBl <- Gen.oneOf(true, false)
    bl <- Gen.listOfN(2, ptGen)
    texts <- Gen.choose(0, 2).flatMap(n => Gen.listOfN(n, textEquivGen))
    words <- Gen.choose(0, 2).flatMap(n => Gen.listOfN(n, wordGen))
  } yield Delete.recomputeUnicodes(LineT(id, hasCoords, if (hasCoords) pts else Nil,
    hasBl, if (hasBl) bl else Nil, texts, words, Nil))

  private val regionGen: Gen[RegionT] = for {
    id <- idGen
    kind <- Gen.oneOf("text", "table")
    hasCoords <- Gen.oneOf(true, false)
    pts <- Gen.listOfN(4, ptGen)
    lines <- Gen.choose(0, 3).flatMap(n => Gen.listOfN(n, lineGen))
    cells <- Gen.choose(0, 2).flatMap(n => Gen.listOfN(n,
      for { cid <- idGen; cl <- Gen.choose(0, 2).flatMap(m => Gen.listOfN(m, lineGen)) }
        yield CellT(cid, hasCoords = true, pts, Nil, cl)))
  } yield
    if (kind == "table") RegionT(id, kind, hasCoords, if (hasCoords) pts else Nil, Nil, Nil, cells)
    else RegionT(id, kind, hasCoords, if (hasCoords) pts else Nil, Nil, lines, Nil)

  private[pageplus] val docGen: Gen[PageDoc] = for {
    n <- Gen.choose(0, 4)
    regions <- Gen.listOfN(n, regionGen)
    w <- Gen.chooseNum(1, 10000)
    h <- Gen.chooseNum(1, 10000)
  } yield PageDoc("prop://doc", SyntheticNs, w, h, "img.png",
    Nil, regions.filter(_.id.nonEmpty).map(_.id), regions, parseOk = true, parseError = "")

  private val SyntheticNs = pageplus.data.PagesFromDocuments.Ns

  property("parse(write(doc)) == doc") = Prop.forAll(docGen) { doc =>
    val rt = StaxPageParser.parse(doc.url, PageXmlWriter.write(doc).getBytes("UTF-8"))
    rt == doc
  }

  property("extraction equals the columnar-order recomputation") = Prop.forAll(docGen) { doc =>
    val typed = FullText.extract(doc)
    val columnar = FullText.docOrderLines(doc).flatMap(_.unicodes).mkString("\n")
    typed == columnar
  }

  property("text-only parse stays extraction-equivalent to the full parse (both ro modes)") =
    Prop.forAll(docGen) { doc =>
      val bytes = PageXmlWriter.write(doc).getBytes("UTF-8")
      val full = StaxPageParser.parse(doc.url, bytes)
      val slim = StaxPageParser.parseTextOnly(doc.url, bytes)
      FullText.extract(full) == FullText.extract(slim) &&
        FullText.extract(full, readingOrder = true) == FullText.extract(slim, readingOrder = true) &&
        FullText.extract(full, dehyphenate = true) == FullText.extract(slim, dehyphenate = true) &&
        full.readingOrder == slim.readingOrder &&
        full.docOrderRegionIds == slim.docOrderRegionIds &&
        full.parseOk == slim.parseOk
    }

  property("stats words/glyphs equal an independent recount") = Prop.forAll(docGen) { doc =>
    val c = Stats.count(doc)
    val lines = doc.textRegions.map(_.lines) ++ doc.tableRegions.flatMap(_.cells.map(_.lines))
    val flat = lines.flatten.filterNot(_.isTextEmpty)
    c.words == flat.map(l => PyStr.split(l.getText).size.toLong).sum &&
      c.glyphs == flat.map(l => PyStr.len(l.getText).toLong).sum
  }

  property("dehyphe output length >= input length minus merges, never throws") =
    Prop.forAll(Gen.listOf(textGen)) { lines =>
      val out = Dehyphe(lines)
      out.size <= lines.count(_ != "")
    }

  property("dehyphe is identity on hyphen-free stripped lines") =
    Prop.forAll(Gen.listOf(Gen.listOf(Gen.alphaNumChar).map(_.mkString))) { lines0 =>
      val lines = lines0.filter(_.nonEmpty)
      Dehyphe(lines) == lines
    }
}
