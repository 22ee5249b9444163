package pageplus.xml

import java.io.ByteArrayInputStream
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants, XMLStreamReader}

import scala.collection.mutable.ListBuffer

import pageplus.model._

/** PAGE-XML bytes -> [[PageDoc]], one call per row.
  *
  * Spark-first replacement of the reference's per-file lxml DOM load
  * (io/parser.py:5-20): designed to run inside `mapPartitions`, no DOM
  * materialization, single pass (the reference parses every file twice —
  * sniff io/utils.py:36-44 + load).
  *
  * Two parses share ONE structural walk ([[PageWalk]]) over a small
  * [[PageCursor]]:
  *  - `parse` (geometry, pass-through capture) runs the walk over the JDK
  *    StAX reader ([[StaxCursor]]), with the `XMLInputFactory` reused per
  *    thread; it needs prefixes, namespace declarations and opaque capture.
  *  - `parseTextOnly` runs the walk over [[PageScanner]], a byte-level UTF-8
  *    scanner that tokenizes only what extraction reads. The scanner accepts
  *    a strict subset of XML that StAX reads the same way; on anything else it
  *    throws its fallback signal and StAX parses the whole document again, so
  *    every `parseOk` flag and `parseError` message is StAX's by construction.
  *
  * Scanner fallback triggers (StAX decides these documents):
  *  - a byte-order mark other than UTF-8's, an XML declaration that is not
  *    `version="1.0"` with an optional UTF-8 `encoding` and `standalone`,
  *    anything but whitespace before the root (DOCTYPE, comments, PIs);
  *  - invalid UTF-8, a character outside XML 1.0's `Char`, a raw `\r`;
  *  - a prefixed element name, a namespace declaration below the root, an
  *    attribute prefix not declared on the root, `xml:` attributes, two root
  *    prefixes bound to one URI, a root namespace outside PAGE's;
  *  - an entity other than the five predefined ones, a malformed or non-`Char`
  *    numeric reference, `]]>` in text;
  *  - comments, PIs and CDATA sections after the root start, markup inside
  *    `Unicode`;
  *  - a duplicated attribute, any other well-formedness doubt (bad names,
  *    missing whitespace, unmatched end tags, EOF inside the root), names,
  *    nesting or attribute counts beyond the scanner's fixed limits;
  *  - anything but whitespace after the root end.
  * Whether a document fell back depends only on its bytes; no option selects
  * a path.
  *
  * Faithfulness notes:
  *  - namespace is discovered from the root element (dynamic per file, like
  *    `tree.xpath('namespace-uri(.)')`), and a non-PAGE namespace or malformed
  *    XML yields `parseOk=false` instead of the reference's silent file drop
  *    (io/utils.py:42-47).
  *  - reading order: last OrderedGroup wins, refs sorted by int(@index), stable
  *    (models/page.py:45-57).
  *  - `Unicode` text is the concatenation of all character data in the element
  *    (itertext-equivalent; the corpus has no nested elements under Unicode).
  */
object StaxPageParser {

  val PageNsPrefix = "http://schema.primaresearch.org/PAGE/gts/pagecontent/"

  private val factories = new ThreadLocal[XMLInputFactory] {
    override def initialValue(): XMLInputFactory = {
      val f = XMLInputFactory.newInstance()
      f.setProperty(XMLInputFactory.IS_COALESCING, java.lang.Boolean.TRUE)
      f.setProperty(XMLInputFactory.SUPPORT_DTD, java.lang.Boolean.FALSE)
      f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, java.lang.Boolean.FALSE)
      f
    }
  }

  private def empty(url: String, ok: Boolean, err: String): PageDoc =
    PageDoc(url, "", 0, 0, "", Nil, Nil, Nil, ok, err)

  def parse(url: String, bytes: Array[Byte]): PageDoc = stax(url, bytes, geom = true)

  /** Text-only parse for extraction pipelines: identical structure and text
    * (ids, unicodes, reading order, parseOk), but Coords/Baseline point
    * strings are skipped instead of decoded — `FullText.extract` never reads
    * geometry, and point decoding is a large share of parse time. `hasCoords`
    * still reflects attribute presence; the point arrays come back empty.
    * Runs on [[PageScanner]]; StAX only when the scanner falls back. */
  def parseTextOnly(url: String, bytes: Array[Byte]): PageDoc = {
    val doc = scan(url, bytes)
    if (doc != null) doc else stax(url, bytes, geom = false)
  }

  /** The text-only parse on StAX alone: the reference the scanner must equal. */
  private[pageplus] def parseTextOnlyStax(url: String, bytes: Array[Byte]): PageDoc =
    stax(url, bytes, geom = false)

  /** Probe: true when `parseTextOnly` reads `bytes` on the scanner, false when
    * it falls back to StAX. */
  private[pageplus] def scannerReads(bytes: Array[Byte]): Boolean = scan("", bytes) != null

  /** The scanner path, or null when the scanner falls back. */
  private def scan(url: String, bytes: Array[Byte]): PageDoc =
    try {
      val c = new PageScanner(bytes)
      val ns = c.root()
      val doc = new PageWalk(c, ns, geom = false).root(url)
      c.finish()
      doc
    } catch { case PageScanner.Fallback => null }

  private def stax(url: String, bytes: Array[Byte], geom: Boolean): PageDoc = {
    var r: XMLStreamReader = null
    try {
      r = factories.get().createXMLStreamReader(new ByteArrayInputStream(bytes))
      while (r.hasNext && r.getEventType != XMLStreamConstants.START_ELEMENT) r.next()
      if (r.getEventType != XMLStreamConstants.START_ELEMENT)
        return empty(url, ok = false, "xml_parse_error: no root element")
      val ns = Option(r.getNamespaceURI).getOrElse("")
      if (!ns.startsWith(PageNsPrefix))
        return empty(url, ok = false, s"not_page_xml: root namespace '$ns'")
      new PageWalk(new StaxCursor(r, ns), ns, geom).root(url)
    } catch {
      case e: Exception =>
        empty(url, ok = false, s"xml_parse_error: ${e.getClass.getSimpleName}: ${e.getMessage}")
    } finally {
      if (r != null) try r.close() catch { case _: Exception => }
    }
  }
}

/** The element names the walk dispatches on, as small codes. */
private[xml] object El {
  final val Other = 0
  final val Page = 1
  final val ReadingOrder = 2
  final val OrderedGroup = 3
  final val RegionRefIndexed = 4
  final val TextRegion = 5
  final val TableRegion = 6
  final val TableCell = 7
  final val TextLine = 8
  final val Word = 9
  final val TextEquiv = 10
  final val Unicode = 11
  final val Coords = 12
  final val Baseline = 13

  val Names: Array[String] = Array("", "Page", "ReadingOrder", "OrderedGroup", "RegionRefIndexed",
    "TextRegion", "TableRegion", "TableCell", "TextLine", "Word", "TextEquiv", "Unicode",
    "Coords", "Baseline")

  private val ByName: Map[String, Int] = Names.zipWithIndex.tail.toMap

  /** Code of a local name, in any namespace. */
  def of(local: String): Int = ByName.getOrElse(local, Other)
}

/** What [[PageWalk]] reads of a document: a pull cursor over start and end
  * tags. The geometry-only members are implemented by [[StaxCursor]] alone;
  * the text-only walk never calls them. */
private[xml] abstract class PageCursor {
  /** Advances to the next event: [[PageCursor.Start]], [[PageCursor.End]] or
    * [[PageCursor.Skip]] (character data, comments, ...). */
  def next(): Int
  def hasNext: Boolean
  /** [[El]] code of the current start tag. */
  def code: Int
  /** Value of the current start tag's first attribute with this local name,
    * or null. */
  def attr(local: String): String
  def hasAttr(local: String): Boolean
  /** On a `Unicode` start tag: its character data (itertext join), consuming
    * through its end tag. */
  def readText(): String

  // ---- geometry parse only ----
  def passthrough: Boolean = unsupported
  def extraAttrs(modeled: Set[String]): Seq[AttrT] = unsupported
  def nsDeclAttrs: Seq[AttrT] = unsupported
  def capture(unicodes: ListBuffer[String]): String = unsupported
  private def unsupported: Nothing =
    throw new UnsupportedOperationException("the geometry parse runs on StAX")
}

private[xml] object PageCursor {
  final val Skip = 0
  final val Start = 1
  final val End = 2
}

/** [[PageCursor]] over the JDK StAX reader. */
private[xml] final class StaxCursor(r: XMLStreamReader, ns: String) extends PageCursor {
  import PageCursor._

  private[this] var cur = El.Other

  def next(): Int = r.next() match {
    case XMLStreamConstants.START_ELEMENT =>
      // `Unicode` counts only in the page namespace (`.//{ns}Unicode`);
      // every other name matches in any namespace
      cur = El.of(r.getLocalName)
      if (cur == El.Unicode && ns != r.getNamespaceURI) cur = El.Other
      Start
    case XMLStreamConstants.END_ELEMENT => End
    case _                              => Skip
  }

  def hasNext: Boolean = r.hasNext

  def code: Int = cur

  def attr(local: String): String = {
    var i = 0
    val n = r.getAttributeCount
    while (i < n) {
      if (r.getAttributeLocalName(i) == local) return r.getAttributeValue(i)
      i += 1
    }
    null
  }

  def hasAttr(local: String): Boolean = attr(local) != null

  def readText(): String = {
    val sb = new java.lang.StringBuilder
    var depth = 1
    while (depth > 0) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT => depth += 1
        case XMLStreamConstants.END_ELEMENT   => depth -= 1
        case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA =>
          sb.append(r.getText)
        case _ =>
      }
    }
    sb.toString
  }

  /** PAGE elements that are safe to capture opaquely: per the schema they
    * never contain TextLine/TextRegion/TableRegion, so opaque capture cannot
    * hide text from extraction. Everything else unknown is DESCENDED instead
    * (the reference's root.iter/ele.iter find modeled elements at any depth).
    * Glyph is listed — its TextEquiv must NOT join the word's ./TextEquiv set,
    * and its Unicode reaches extraction through the capture sink. */
  override def passthrough: Boolean = StaxCursor.Passthrough.contains(r.getLocalName)

  /** Attributes of the current START_ELEMENT that are NOT in `modeled` —
    * pass-through payload (`custom`, `orientation`, ...). */
  override def extraAttrs(modeled: Set[String]): Seq[AttrT] = {
    var out: List[AttrT] = Nil
    var i = r.getAttributeCount - 1
    while (i >= 0) {
      val n = r.getAttributeLocalName(i)
      if (!modeled.contains(n)) {
        val p = r.getAttributePrefix(i)
        val q = if (p != null && p.nonEmpty) p + ":" + n else n
        out = AttrT(q, r.getAttributeValue(i)) :: out
      }
      i -= 1
    }
    out
  }

  /** Non-default namespace declarations on the current START_ELEMENT, as
    * pass-through `xmlns:p` attributes (e.g. `xmlns:xsi` on PcGts) — needed
    * for prefixed pass-through attributes like `xsi:schemaLocation` to stay
    * well-formed after the writer round trip. */
  override def nsDeclAttrs: Seq[AttrT] = {
    var out: List[AttrT] = Nil
    var i = r.getNamespaceCount - 1
    while (i >= 0) {
      val p = r.getNamespacePrefix(i)
      if (p != null && p.nonEmpty) out = AttrT("xmlns:" + p, r.getNamespaceURI(i)) :: out
      i -= 1
    }
    out
  }

  /** Re-serialize the current element (reader ON its START_ELEMENT) as
    * canonical XML text, consuming through its END_ELEMENT. Prefixes and
    * namespace declarations are preserved, so foreign-namespace content stays
    * foreign after a writer round trip. Any PAGE-namespace `Unicode` text
    * inside is ALSO appended to `unicodes` (unless null) so `.//Unicode` extraction
    * parity survives opaque capture (a `Glyph`'s Unicode is part of the
    * reference's iterfind node set even though Glyph is unmodeled). Called
    * only for [[StaxCursor.Passthrough]]-whitelisted elements — anything else
    * unknown is descended, never captured, so modeled elements inside
    * arbitrary wrappers are still discovered (reference root.iter parity). */
  override def capture(unicodes: ListBuffer[String]): String = {
    import StaxCursor.escXml
    val sb = new java.lang.StringBuilder(64)
    val uniBuf = new java.lang.StringBuilder
    var uniDepth = -1
    def qname(pfx: String, local: String): String =
      if (pfx != null && pfx.nonEmpty) pfx + ":" + local else local
    def emitStart(): Unit = {
      sb.append('<').append(qname(r.getPrefix, r.getLocalName))
      var i = 0
      while (i < r.getNamespaceCount) {
        val p = r.getNamespacePrefix(i)
        sb.append(' ').append(if (p != null && p.nonEmpty) "xmlns:" + p else "xmlns")
          .append("=\"").append(escXml(r.getNamespaceURI(i), quot = true)).append('"')
        i += 1
      }
      i = 0
      while (i < r.getAttributeCount) {
        sb.append(' ').append(qname(r.getAttributePrefix(i), r.getAttributeLocalName(i)))
          .append("=\"").append(escXml(r.getAttributeValue(i), quot = true)).append('"')
        i += 1
      }
      sb.append('>')
    }
    emitStart()
    var depth = 1
    while (depth > 0) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          if (uniDepth < 0 && r.getLocalName == "Unicode" && ns == r.getNamespaceURI) {
            uniDepth = depth
            uniBuf.setLength(0)
          }
          emitStart()
          depth += 1
        case XMLStreamConstants.END_ELEMENT =>
          depth -= 1
          sb.append("</").append(qname(r.getPrefix, r.getLocalName)).append('>')
          if (uniDepth == depth) {
            if (uniBuf.length > 0 && unicodes != null) unicodes += uniBuf.toString
            uniDepth = -1
          }
        case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA =>
          sb.append(escXml(r.getText, quot = false))
          if (uniDepth >= 0) uniBuf.append(r.getText)
        case _ =>
      }
    }
    sb.toString
  }
}

private[xml] object StaxCursor {
  val Passthrough: Set[String] = Set(
    "Metadata", "TextStyle", "AlternativeImage", "Border", "PrintSpace",
    "UserDefined", "Labels", "Relations", "Layers", "Glyph", "Grid", "GridPoints")

  def escXml(s: String, quot: Boolean): String = {
    val sb = new java.lang.StringBuilder(s.length + 8)
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '&' => sb.append("&amp;")
        case '<' => sb.append("&lt;")
        case '>' => sb.append("&gt;")
        case '"' => if (quot) sb.append("&quot;") else sb.append('"')
        // attribute-value normalization would fold raw \n/\t/\r to spaces on
        // re-parse; character references survive the round trip
        case '\n' if quot => sb.append("&#10;")
        case '\t' if quot => sb.append("&#9;")
        case '\r' if quot => sb.append("&#13;")
        case c   => sb.append(c)
      }
      i += 1
    }
    sb.toString
  }
}

/** The structural rules of a PAGE-XML document, written once for both
  * cursors: regions (nested and table), cells, lines, Words, TextEquiv,
  * `.//Unicode` with the truthy filter, descent into unknown elements,
  * skipped Coords/Baseline on the text-only parse and last-`OrderedGroup`-wins.
  * With `geom` it also decodes points and captures pass-through XML (StAX
  * cursor only). */
private[xml] final class PageWalk(c: PageCursor, ns: String, geom: Boolean) {
  import PageCursor._
  import PageWalk._

  private def id(): String = {
    val v = c.attr("id")
    if (v == null) "" else v
  }

  private def intAttr(name: String, dflt: Int): Int = {
    val v = c.attr(name)
    if (v == null) dflt else try v.trim.toDouble.toInt catch { case _: NumberFormatException => dflt }
  }

  private def extras(modeled: Set[String]): Seq[AttrT] = if (geom) c.extraAttrs(modeled) else Nil

  /** Skip the remainder of the current element (cursor is ON its start tag). */
  private def skipElement(): Unit = {
    var depth = 1
    while (depth > 0) {
      c.next() match {
        case Start => depth += 1
        case End   => depth -= 1
        case _     =>
      }
    }
  }

  private def points(): (Boolean, Seq[Pt]) =
    if (!geom) {
      val has = c.hasAttr("points")
      skipElement()
      if (has) HasPoints else NoPoints
    } else {
      val s = c.attr("points")
      skipElement()
      if (s == null) NoPoints
      else try (true, PointCodec.parse(s)) catch { case _: NumberFormatException => NoPoints }
    }

  /** A TextEquiv: its index and first `Unicode`; every non-empty `Unicode`
    * text goes to `unicodes` (the line's `.//Unicode` set) unless null. */
  private def textEquiv(unicodes: ListBuffer[String]): TextEquivT = {
    val idxRaw = c.attr("index")
    val idx = if (idxRaw == null) 0 else try idxRaw.trim.toInt catch { case _: NumberFormatException => Int.MinValue }
    var unicode: String = null
    var depth = 1
    while (depth > 0) {
      c.next() match {
        case Start =>
          if (c.code == El.Unicode) {
            val t = c.readText() // consumes up to </Unicode>
            if (unicode == null) unicode = t
            if (t.nonEmpty && unicodes != null) unicodes += t
          } else depth += 1
        case End => depth -= 1
        case _   =>
      }
    }
    TextEquivT(idx, if (unicode == null) "" else unicode)
  }

  private def word(unicodes: ListBuffer[String]): WordT = {
    val wid = id()
    val xattrs = extras(IdOnly)
    var hasCoords = false
    var coords: Seq[Pt] = Nil
    val texts = Seq.newBuilder[TextEquivT]
    val xkids = Seq.newBuilder[String]
    var depth = 1
    while (depth > 0) {
      c.next() match {
        case Start =>
          c.code match {
            case El.Coords =>
              val (h, p) = points(); hasCoords = h; coords = p
            case El.TextEquiv =>
              texts += textEquiv(unicodes)
            // whitelisted boilerplate (Glyph, TextStyle, ...): opaque
            // pass-through on the full parse; Glyph Unicode still reaches the
            // line's .//Unicode extraction set through the sink. Text-only
            // parse and unknown wrappers descend (reference .// parity).
            case _ =>
              if (geom && c.passthrough) xkids += c.capture(unicodes)
              else depth += 1
          }
        case End => depth -= 1
        case _   =>
      }
    }
    WordT(wid, hasCoords, coords, texts.result(), NodeExtras(xattrs, xkids.result()))
  }

  private def line(): LineT = {
    val lid = id()
    val xattrs = extras(IdOnly)
    var hasCoords = false
    var coords: Seq[Pt] = Nil
    var hasBaseline = false
    var baseline: Seq[Pt] = Nil
    val texts = Seq.newBuilder[TextEquivT]
    val words = Seq.newBuilder[WordT]
    val unicodes = ListBuffer.empty[String]
    val xkids = Seq.newBuilder[String]
    var depth = 1
    while (depth > 0) {
      c.next() match {
        case Start =>
          c.code match {
            case El.Coords =>
              val (h, p) = points(); hasCoords = h; coords = p
            case El.Baseline =>
              val (h, p) = points(); hasBaseline = h; baseline = p
            case El.TextEquiv =>
              texts += textEquiv(unicodes)
            case El.Word =>
              words += word(unicodes)
            // whitelisted boilerplate: opaque pass-through on the full
            // parse; unknown wrappers and text-only parse descend, so a
            // TextLine inside a wrapper still extracts (.// parity)
            case _ =>
              if (geom && c.passthrough) xkids += c.capture(unicodes)
              else depth += 1
          }
        case End => depth -= 1
        case _   =>
      }
    }
    LineT(lid, hasCoords, coords, hasBaseline, baseline, texts.result(), words.result(),
      unicodes.result(), NodeExtras(xattrs, xkids.result()))
  }

  private def cell(): (CellT, Seq[RegionT]) = {
    val cid = id()
    val xattrs = extras(IdOnly)
    var hasCoords = false
    var coords: Seq[Pt] = Nil
    val texts = Seq.newBuilder[TextEquivT]
    val lines = Seq.newBuilder[LineT]
    val descendants = Seq.newBuilder[RegionT]
    val xkids = Seq.newBuilder[String]
    var depth = 1
    while (depth > 0) {
      c.next() match {
        case Start =>
          c.code match {
            case El.Coords   => val (h, p) = points(); hasCoords = h; coords = p
            case El.TextLine => lines += line()
            case El.TextRegion | El.TableRegion =>
              // nested region: its own object is emitted after this element's
              // (root.iter pre-order), its lines ALSO belong here (ele.iter)
              val (nested, nd) = region()
              lines ++= nested.lines
              descendants += nested; descendants ++= nd
            case El.TextEquiv => texts += textEquiv(null)
            case _ =>
              if (geom && c.passthrough) xkids += c.capture(null)
              else depth += 1
          }
        case End => depth -= 1
        case _   =>
      }
    }
    (CellT(cid, hasCoords, coords, texts.result(), lines.result(), NodeExtras(xattrs, xkids.result())),
      descendants.result())
  }

  /** PAGE-XML permits region nesting; the reference discovers regions with
    * `root.iter(...)` (pre-order, so a nested region is its OWN region object
    * appearing after its parent) while each region's textlines come from
    * `ele.iter(TextLine)` (recursive, so the parent ALSO carries the nested
    * region's lines — a nested region's lines already include its own
    * descendants'). Cursor on a TextRegion or TableRegion start tag. Returns
    * (region, nested regions in pre-order) (models/page.py:38-44,
    * text_elements.py:25). */
  private def region(): (RegionT, Seq[RegionT]) = {
    val kind = if (c.code == El.TableRegion) "table" else "text"
    val rid = id()
    val xattrs = extras(IdOnly)
    var hasCoords = false
    var coords: Seq[Pt] = Nil
    val texts = Seq.newBuilder[TextEquivT]
    val lines = Seq.newBuilder[LineT]
    val cells = Seq.newBuilder[CellT]
    val descendants = Seq.newBuilder[RegionT]
    val xkids = Seq.newBuilder[String]
    var depth = 1
    while (depth > 0) {
      c.next() match {
        case Start =>
          c.code match {
            case El.Coords    => val (h, p) = points(); hasCoords = h; coords = p
            case El.TextLine  => lines += line()
            case El.TableCell =>
              val (cl, nd) = cell()
              cells += cl; descendants ++= nd
            case El.TextRegion | El.TableRegion =>
              val (nested, nd) = region()
              lines ++= nested.lines
              descendants += nested; descendants ++= nd
            case El.TextEquiv => texts += textEquiv(null)
            case _ =>
              if (geom && c.passthrough) xkids += c.capture(null)
              else depth += 1
          }
        case End => depth -= 1
        case _   =>
      }
    }
    (RegionT(rid, kind, hasCoords, coords, texts.result(), lines.result(), cells.result(),
      NodeExtras(xattrs, xkids.result())),
      descendants.result())
  }

  /** ReadingOrder: the reference iterates EVERY descendant OrderedGroup in
    * document order (`iterfind of all descendants`) and reassigns the id list each time
    * with that group's DIRECT RegionRefIndexed children sorted by
    * int(@index) — so the group whose start tag appears LAST (for nesting:
    * the innermost/latest) wins (models/page.py:48-57). Groups are recorded
    * in start order; the last recorded one is the answer. */
  private def readingOrder(): Seq[String] = {
    val groups = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]

    def scanGroup(): Unit = {
      val slot = groups.length
      groups += Nil // reserve at START order; filled when this group closes
      val refs = Seq.newBuilder[(Int, String)]
      var gd = 1
      while (gd > 0) {
        c.next() match {
          case Start =>
            c.code match {
              case El.RegionRefIndexed if gd == 1 =>
                val ref = c.attr("regionRef")
                refs += ((intAttr("index", 0), if (ref == null) "" else ref))
                gd += 1
              case El.OrderedGroup =>
                scanGroup() // consumes the nested group including its END: gd unchanged
              case _ => gd += 1
            }
          case End => gd -= 1
          case _   =>
        }
      }
      groups(slot) = refs.result().sortBy(_._1).map(_._2)
    }

    var depth = 1
    while (depth > 0) {
      c.next() match {
        case Start =>
          if (c.code == El.OrderedGroup) scanGroup() // END consumed inside
          else depth += 1
        case End => depth -= 1
        case _   =>
      }
    }
    groups.lastOption.getOrElse(Nil)
  }

  /** Cursor on the root start tag; consumes through the root end tag. */
  def root(url: String): PageDoc = {
    var width = 0
    var height = 0
    var imageFilename = ""
    var readingOrder: Seq[String] = Nil
    val regions = Seq.newBuilder[RegionT]
    val docOrderIds = Seq.newBuilder[String]
    // pass-through: PcGts-level attrs (pcGtsId, xmlns:xsi, xsi:schemaLocation)
    // + children (Metadata), and Page-level attrs (custom, orientation) +
    // children (Border, PrintSpace). Full parse only — the text-only
    // extraction hot path skips capture the way it skips geometry decoding.
    val pcAttrs = if (geom) c.nsDeclAttrs ++ c.extraAttrs(Set.empty) else Nil
    var pageAttrs: Seq[AttrT] = Nil
    val pcKids = Seq.newBuilder[String]
    val pageKids = Seq.newBuilder[String]
    var depth = 1
    while (depth > 0 && c.hasNext) {
      c.next() match {
        case Start =>
          c.code match {
            case El.Page =>
              width = intAttr("imageWidth", 0)
              height = intAttr("imageHeight", 0)
              val f = c.attr("imageFilename")
              if (f != null) imageFilename = f
              pageAttrs = extras(PageModeled)
              depth += 1
            case El.ReadingOrder =>
              readingOrder = this.readingOrder()
            case El.TextRegion | El.TableRegion =>
              val (reg, nested) = region()
              (reg +: nested).foreach { g =>
                if (g.id.nonEmpty) docOrderIds += g.id
                regions += g
              }
            case _ =>
              if (geom && c.passthrough) {
                val captured = c.capture(null)
                if (depth == 1) pcKids += captured else pageKids += captured
              } else depth += 1
          }
        case End => depth -= 1
        case _   =>
      }
    }
    PageDoc(url, ns, width, height, imageFilename, readingOrder, docOrderIds.result(),
      regions.result(), parseOk = true, parseError = "",
      extras = DocExtras(NodeExtras(pcAttrs, pcKids.result()),
        NodeExtras(pageAttrs, pageKids.result())))
  }
}

private[xml] object PageWalk {
  private val NoPoints: (Boolean, Seq[Pt]) = (false, Nil)
  private val HasPoints: (Boolean, Seq[Pt]) = (true, Nil)
  private val IdOnly = Set("id")
  private val PageModeled = Set("imageFilename", "imageWidth", "imageHeight")
}
