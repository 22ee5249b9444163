package pageplus.ops

import pageplus.model._

/** `delete_textlevel` / `delete_textlines` (models/page.py:198-243,
  * cli/modification.py:103-134) as struct projections.
  *
  * Divergence (intended, SURVEY §2.3): the reference's `_delete_lines` crashes on
  * table pages because `TableRegion.textlines` is a list-of-lists
  * (models/table_elements.py:30); the engine handles cells uniformly.
  */
object Delete {

  /** Canonical per-line `.//Unicode` document order after a structural edit:
    * word-level Unicode first (writer emits Words before line TextEquivs),
    * then line TextEquivs, truthy filter applied. */
  def recomputeUnicodes(l: LineT): LineT =
    l.copy(unicodes =
      (l.words.flatMap(_.texts.map(_.unicode)) ++ l.texts.map(_.unicode)).filter(_.nonEmpty))

  private def mapLines(doc: PageDoc)(f: LineT => LineT): PageDoc =
    doc.copy(regions = doc.regions.map(r =>
      r.copy(lines = r.lines.map(f), cells = r.cells.map(c => c.copy(lines = c.lines.map(f))))))

  /** level='word': drop every Word element (models/page.py:211-216). */
  def words(doc: PageDoc): PageDoc =
    mapLines(doc)(l => recomputeUnicodes(l.copy(words = Nil)))

  /** level='line': drop the FIRST TextEquiv of each TextLine (find = first,
    * models/page.py:218-226). */
  def lineTextEquiv(doc: PageDoc): PageDoc =
    mapLines(doc)(l => recomputeUnicodes(l.copy(texts = if (l.texts.nonEmpty) l.texts.tail else l.texts)))

  /** level='region': drop the first TextEquiv of each text/table region
    * (models/page.py:228-235; cells untouched). */
  def regionTextEquiv(doc: PageDoc): PageDoc =
    doc.copy(regions = doc.regions.map(r =>
      r.copy(texts = if (r.texts.nonEmpty) r.texts.tail else r.texts)))

  /** CLI delete_textlines: remove every TextLine from TEXT regions only
    * (cli/modification.py:127-129 iterates page.regions.textregions). */
  def textlines(doc: PageDoc): PageDoc =
    doc.copy(regions = doc.regions.map(r => if (r.kind == "text") r.copy(lines = Nil) else r))
}
