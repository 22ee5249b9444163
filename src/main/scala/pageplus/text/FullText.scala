package pageplus.text

import pageplus.model._

/** `extract_fulltext` + `dehyphe`, reproduced literally (models/page.py:105-155).
  *
  * Parity-critical quirks preserved on purpose (SURVEY §7.4.1):
  *  - `reading_order=False`: every `.//Unicode` under every TextLine in document
  *    order, including Word-level Unicode, NO index-0 filter, truthy-text filter.
  *  - `reading_order=True`: the comprehension REASSIGNS `fulltext` per region id,
  *    so only the LAST region in reading order survives (models/page.py:144-147);
  *    `reading_order_mode` is accepted but never forwarded (always 'auto').
  *  - join with '\n', no trailing newline.
  */
object FullText {

  /** A region's TextLines in document order: a text region's own lines, then
    * a table region's cells' lines (cells in document order). */
  private def regionOwnLines(r: RegionT): Seq[LineT] =
    if (r.kind == "table") r.lines ++ r.cells.flatMap(_.lines) else r.lines

  /** Per-region document-order TextLines, one entry per region of
    * `doc.regions`, each line in the first region that carries it.
    *
    * Page-level extraction is `root.iterfind('.//TextLine')` in the reference
    * — each line exactly ONCE — while nested regions carry their parent's
    * lines twice in the flat region list (both `iter`-derived, see
    * StaxPageParser). Identity dedup keeps the first (correct document-order)
    * occurrence. Caveat: structural transforms that REBUILD lines per region
    * break the shared identity, so run extraction before, not after,
    * transforming documents with nested regions (the reference mutates the
    * shared DOM node instead — same visible result on untransformed docs). */
  def regionLines(doc: PageDoc): Seq[Seq[LineT]] = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[LineT, java.lang.Boolean]())
    doc.regions.map(r => regionOwnLines(r).filter(seen.add))
  }

  /** Document-order TextLines, each exactly once (see [[regionLines]]). */
  def docOrderLines(doc: PageDoc): Seq[LineT] = regionLines(doc).flatten

  private def lineUnicodes(lines: Seq[LineT]): Seq[String] =
    lines.flatMap(_.unicodes) // parser already applied the truthy filter

  /** `get_region_reading_order_ids(mode='auto')` (models/page.py:45-66). */
  def readingOrderIds(doc: PageDoc, mode: String = "auto"): Seq[String] = {
    val fromGroups =
      if (mode == "auto" || mode == "reading_order") doc.readingOrder else Nil
    if (mode == "document" || (fromGroups.isEmpty && mode == "auto")) doc.docOrderRegionIds
    else fromGroups
  }

  /** The `reading_order=True` line selection: fulltext is reassigned per
    * region id, so only the LAST reading-order region's lines survive
    * (models/page.py:144-147). Exposed so the skew-split path can compute the
    * surviving region where the whole document is in hand. */
  def lastReadingOrderLines(doc: PageDoc): Seq[String] = {
    // one pass builds id -> lines with the reference's find-by-id precedence
    // (root.find by id anywhere: regions in document order, each region
    // before its cells; FIRST occurrence wins) — O(lines) total instead of a
    // linear document scan per reading-order id
    val byId = scala.collection.mutable.HashMap.empty[String, Seq[String]]
    doc.regions.foreach { r =>
      if (!byId.contains(r.id))
        byId(r.id) = lineUnicodes(regionOwnLines(r))
      r.cells.foreach { c => if (!byId.contains(c.id)) byId(c.id) = lineUnicodes(c.lines) }
    }
    var last: Seq[String] = Nil
    // literal semantics: fulltext reassigned inside the loop -> last id wins,
    // but earlier missing ids still crash in the reference (None.iterfind);
    // we degrade to empty + caller may report
    readingOrderIds(doc).foreach { id => last = byId.getOrElse(id, Nil) }
    last
  }

  def extract(doc: PageDoc, dehyphenate: Boolean = false, readingOrder: Boolean = false,
              delimiter: String = "\n"): String = {
    var fulltext: Seq[String] =
      if (readingOrder) lastReadingOrderLines(doc)
      else lineUnicodes(docOrderLines(doc))

    if (dehyphenate && fulltext.nonEmpty) fulltext = Dehyphe(fulltext)
    fulltext.mkString(delimiter)
  }
}

/** `Page.dehyphe` (models/page.py:105-135), literal port including:
  *  - hyphen set {U+002D (listed twice), U+2E40, U+2E17};
  *  - exact-empty filter BEFORE strip;
  *  - next-line first word is consumed (removed from the next line) even when it
  *    starts uppercase (the reference keeps the hyphen but still strips the word);
  *  - first word taken by `split(' ', 1)` — a single-space split, not whitespace.
  */
object Dehyphe {
  private val Hyphens = "-⹀⸗" // U+002D, U+2E40 double hyphen, U+2E17 double oblique

  def apply(input: Seq[String]): Seq[String] = {
    if (input.isEmpty) return Nil
    val lines = scala.collection.mutable.ArrayBuffer.from(
      input.filter(_ != "").map(PyStr.strip))
    val out = Seq.newBuilder[String]
    var i = 0
    while (i < lines.length) {
      val current = lines(i)
      if (i < lines.length - 1 && current.nonEmpty && Hyphens.indexOf(current.charAt(current.length - 1)) >= 0) {
        val next = lines(i + 1)
        val firstWord = next.takeWhile(_ != ' ') // Python next_line.split(' ', 1)[0]
        if (firstWord.nonEmpty) {
          if (Character.isUpperCase(firstWord.codePointAt(0))) out += current
          else out += PyStr.rstripChars(current, Hyphens) + firstWord
          lines(i + 1) = PyStr.lstrip(next.substring(firstWord.length))
        } else out += current
      } else out += current
      i += 1
    }
    out.result()
  }
}
