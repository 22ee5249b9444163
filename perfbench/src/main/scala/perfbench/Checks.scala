package perfbench

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Expected outputs, written from the rules the generated inputs follow and
  * not from the code under test (which the program could share bugs with).
  * The rules are those of the repository's DuckDB oracles: a page's text is
  * its document text cut into 8-word lines (PAGE-XML) or 24-word paragraphs
  * (HTML main content). */
object Checks {

  /** Words of `text` in single-space-separated groups of `k`. */
  def chunks(text: String, k: Int): Seq[String] =
    if (text == null || text.isEmpty) Nil
    else text.split(" ", -1).grouped(k).map(_.mkString(" ")).toSeq

  /** Fulltext of a PAGE-XML page of class `cls` built from `text`:
    * `words` pages also carry each line's first word as a Word element ahead
    * of the line text; `hyphenated` pages end every third line (not the last)
    * with a hyphen, which plain extraction keeps. */
  def fulltext(cls: String, text: String): String = {
    val lines = chunks(text, 8)
    val out = cls match {
      case "words" => lines.flatMap(l => Seq(l.takeWhile(_ != ' '), l))
      case "hyphenated" =>
        lines.zipWithIndex.map { case (l, i) => if (i % 3 == 2 && i < lines.size - 1) l + "-" else l }
      case _ => lines
    }
    out.mkString("\n")
  }

  /** Main text of a generated HTML page: 24-word paragraphs. */
  def mainText(text: String): String = chunks(text, 24).mkString("\n")

  /** Line texts of a repaired page, in document order: the 8-word lines, and
    * for a messy page with `doc_id % 7 == 6` the extra bar region's line. */
  def repairedLines(cls: String, docId: Long, text: String): Seq[String] =
    chunks(text, 8) ++ (if (cls == "messy" && docId % 7 == 6) Seq("xb xb") else Nil)

  /** `element:rule` reports of `Validate.page` and `Repair.page` for a page,
    * per the `validate_messy` / `repair_messy` oracle tables: only messy
    * pages with `doc_id % 7` in {3, 4} report, all on line `r0l0`. */
  def validateReports(cls: String, docId: Long): Seq[String] =
    if (cls != "messy") Nil
    else (docId % 7) match {
      case 3 => Seq("r0l0:ring_not_valid", "r0l0:baseline_pts_outside")
      case 4 => Seq("r0l0:ring_not_valid", "r0l0:baseline_outside")
      case _ => Nil
    }

  def repairReports(cls: String, docId: Long): Seq[String] =
    if (cls != "messy") Nil
    else (docId % 7) match {
      case 3 => Seq("r0l0:ring_not_valid", "r0l0:hull_applied")
      case 4 => Seq("r0l0:ring_not_valid", "r0l0:repair_error")
      case _ => Nil
    }

  /** Line texts of a PAGE-XML document read with the JDK's DOM parser: the
    * `TextEquiv/Unicode` child of every `TextLine`, in document order. */
  def domLineTexts(xml: Array[Byte]): Seq[String] = {
    val f = javax.xml.parsers.DocumentBuilderFactory.newInstance()
    f.setNamespaceAware(true)
    val doc = f.newDocumentBuilder().parse(new java.io.ByteArrayInputStream(xml))
    val lines = doc.getElementsByTagNameNS("*", "TextLine")
    def kids(n: org.w3c.dom.Node, name: String): Seq[org.w3c.dom.Node] = {
      val c = n.getChildNodes
      (0 until c.getLength).map(c.item).filter(k => k.getNodeType == org.w3c.dom.Node.ELEMENT_NODE &&
        k.getLocalName == name)
    }
    (0 until lines.getLength).flatMap { i =>
      kids(lines.item(i), "TextEquiv").flatMap(te => kids(te, "Unicode")).map(_.getTextContent)
    }
  }

  // ---- order-independent fingerprints ----------------------------------------

  /** One row's contribution to a table fingerprint, from its hash. Kept under
    * 2^40 so a sum over any realistic row count cannot overflow. */
  def rowTerm(hash: Long): Long = hash & ((1L << 40) - 1)

  /** Fingerprint of a multiset of row hashes: (row count, sum of row terms).
    * Equal multisets give equal fingerprints in any order. */
  def fingerprint(hashes: Iterator[Long]): (Long, Long) =
    hashes.foldLeft((0L, 0L)) { case ((n, s), h) => (n + 1, s + rowTerm(h)) }

  /** Hash of a row of strings, equal to SQL `xxhash64(cols...)` over them. */
  def rowHash(values: String*): Long =
    values.foldLeft(42L) { (seed, v) =>
      if (v == null) seed
      else org.apache.spark.sql.catalyst.expressions.XXH64.hashUTF8String(
        org.apache.spark.unsafe.types.UTF8String.fromString(v), seed)
    }

  /** The same fingerprint as SQL aggregates over the columns `cols`. */
  def fingerprintCols(cols: Column*): Seq[Column] =
    Seq(count(lit(1)).as("fp_rows"), sum(xxhash64(cols: _*).bitwiseAND(lit((1L << 40) - 1))).as("fp_sum"))
}
