package graft.webtext

/** Deterministic synthetic web page around a document's text — the sandbox
  * stand-in for a Common-Crawl HTML payload (north_rule input shape: the
  * `html` column of `pages`). Everything that affects COUNTS is plain
  * `doc_id` modular arithmetic so the DuckDB oracle can recompute block
  * statistics in SQL; the article body is the document text chunked into
  * paragraphs of [[ParaWords]] words, so the main-content oracle is the same
  * word-chunk reassembly the fulltext oracle uses (stride 24 instead of 8).
  *
  * Boilerplate the extractor must strip: a nav link list, a sidebar (link
  * list + short promo paragraph), a comments block, a footer (links +
  * copyright line), plus head/script/style noise with `<`/`&` traps. Inline
  * `<b>`/`<a>` markup INSIDE article paragraphs must be kept (text-identical).
  */
object HtmlGen {

  val ParaWords = 24

  /** The HTML fixture families by name: the one table the
    * [[graft.expr.Kernel.HtmlFixture]] kernel looks its page builder up in. */
  val families: Map[String, (Long, String) => String] = Map(
    "page" -> (page _), "tables" -> (pageWithTables _), "hreflang" -> (pageWithHreflang _),
    "microdata" -> (pageWithMicrodata _))

  /** The UTF-8 bytes of fixture `family`'s page for one document. */
  def pageBytes(docId: Long, text: String, family: String): Array[Byte] =
    families(family)(docId, text).getBytes(java.nio.charset.StandardCharsets.UTF_8)

  // label pools: every boilerplate link label is >= 8 chars so the body
  // block's link-density penalty separates it from the article even for the
  // shortest documents (scoring margin analysis in MainContent)
  private val NavLabels = Array("homepage", "politics", "business", "sciences",
    "cultures", "archives", "weathers", "sportive", "contacts", "newsfeed", "features")
  private val SideLabels = Array("trending now", "most shared", "editor desk",
    "latest wire", "top stories", "deep dives")
  private val Promos = Array("editors picks", "daily briefs", "fresh angles",
    "field report", "morning wrap")
  private val Comments = Array(
    "great read thanks for sharing", "not sure i agree with this",
    "came here from the newsletter", "typo in the third paragraph",
    "bookmarking this for later on", "the charts could be clearer")

  /** Words -> paragraphs of [[ParaWords]] words (single-space joined). */
  def paragraphTexts(text: String): Seq[String] =
    (if (text == null) "" else text).split(" ", -1).grouped(ParaWords).map(_.mkString(" ")).toSeq

  /** The text a correct main-content extractor must recover, byte-identical:
    * paragraphs joined with '\n', no trailing newline. */
  def expectedMainText(text: String): String = paragraphTexts(text).mkString("\n")

  def escapeAttr(s: String): String = escape(s).replace("\"", "&quot;")

  /** [[page]] plus a realistic document-metadata head block (FIXTURES family:
    * all values doc_id/text arithmetic so the oracle is plain SQL):
    * `lang` attribute on `<html>`, `<meta name=description>` = `"doc {id}: "`
    * + first 6 words, `<link rel=canonical>` to the canonical article url on
    * `site{id%7}`, and `<meta property=og:title>`. Spliced AFTER the charset
    * meta so [[page]]'s byte layout (and every oracle derived from it) is
    * untouched for other queries. */
  def pageWithMeta(docId: Long, text: String, lang: String): String = {
    val base = page(docId, text)
    val words = (if (text == null) "" else text).split(" ", -1).take(6).mkString(" ")
    val meta = new java.lang.StringBuilder(256)
      .append("<meta name=\"description\" content=\"")
      .append(escapeAttr(s"doc $docId: $words")).append("\">\n")
      .append("<link rel=\"canonical\" href=\"https://site").append(docId % 7)
      .append(".example.com/articles/doc").append(docId).append(".html\">\n")
      .append("<meta property=\"og:title\" content=\"document ").append(docId)
      .append(" | site").append(docId % 7).append("\">\n")
    val anchor = "<meta charset=\"utf-8\">\n"
    val at = base.indexOf(anchor) + anchor.length
    val langAttr = "<html lang=\"" + escapeAttr(if (lang == null) "" else lang) + "\">"
    (base.substring(0, at) + meta + base.substring(at))
      .replaceFirst("<html>", java.util.regex.Matcher.quoteReplacement(langAttr))
  }

  /** [[page]] plus schema.org JSON-LD blocks spliced after the charset meta
    * ([[pageWithMeta]] discipline). docId%11==3 plants NO block (absent-row
    * class); docId%5==0 prepends a non-Article decoy (BreadcrumbList) the
    * selector must skip; docId%9==0 prepends a MALFORMED block (truncated
    * JSON) the parser must degrade past; headline carries escaped quotes
    * when docId%7==0. wordCount = split(" ",-1) length (house word count). */
  def pageWithJsonLd(docId: Long, text: String): String = {
    val base = page(docId, text)
    if (docId % 11 == 3) return base
    val sb = new java.lang.StringBuilder(384)
    if (docId % 9 == 0)
      sb.append("<script type=\"application/ld+json\">{\"@type\":\"Article\",\"headline\":</script>\n")
    if (docId % 5 == 0)
      sb.append("<script type=\"application/ld+json\">{\"@context\":\"https://schema.org\",\"@type\":\"BreadcrumbList\"}</script>\n")
    val headline = "document " + docId + (if (docId % 7 == 0) " \\\"brief\\\"" else "")
    val author =
      if (docId % 3 == 0) "\"author " + (docId % 13) + "\""
      else "{\"@type\":\"Person\",\"name\":\"author " + (docId % 13) + "\"}"
    val words = (if (text == null) "" else text).split(" ", -1).length
    val iso = java.time.LocalDate.of(2020, 1, 1).plusDays(docId % 365).toString
    sb.append("<script type=\"application/ld+json\">")
      .append("{\"@context\":\"https://schema.org\",\"@type\":\"Article\",\"headline\":\"")
      .append(headline).append("\",\"datePublished\":\"").append(iso)
      .append("\",\"author\":").append(author)
      .append(",\"wordCount\":").append(words).append("}</script>\n")
    val anchor = "<meta charset=\"utf-8\">\n"
    val at = base.indexOf(anchor) + anchor.length
    base.substring(0, at) + sb + base.substring(at)
  }

  /** Language pool for the hreflang fixture family, in generator order (en
    * first = the page's own language; lexicographic min of the chosen prefix
    * is what the cluster key reduces to). */
  val HreflangLangs: Array[String] = Array("en", "de", "fr", "es")

  /** [[page]] plus `<link rel="alternate" hreflang=...>` tags spliced after
    * the charset meta ([[pageWithMeta]] discipline): the translation-family
    * fixture for parallel-corpus mining. The page declares `1 + docId % 4`
    * language variants ([[HreflangLangs]] prefix), each pointing at
    * `https://site{docId%7}.example.com/{lang}/doc{docId}.html`. Traps the
    * extractor must handle: docId%5==0 adds an `x-default` row (points at the
    * en variant — a ROUTING hint, not a language, so it must not appear in
    * the cluster rows or the language count); docId%9==0 adds a malformed
    * alternate with NO href the parser must skip. All values are doc_id
    * arithmetic -> plain-SQL oracle. */
  def pageWithHreflang(docId: Long, text: String): String = {
    val base = page(docId, text)
    val site = s"https://site${docId % 7}.example.com"
    val nv = (1 + docId % 4).toInt
    val sb = new java.lang.StringBuilder(256)
    var i = 0
    while (i < nv) {
      val l = HreflangLangs(i)
      sb.append("<link rel=\"alternate\" hreflang=\"").append(l)
        .append("\" href=\"").append(site).append('/').append(l)
        .append("/doc").append(docId).append(".html\">\n")
      i += 1
    }
    if (docId % 5 == 0)
      sb.append("<link rel=\"alternate\" hreflang=\"x-default\" href=\"")
        .append(site).append("/en/doc").append(docId).append(".html\">\n")
    if (docId % 9 == 0)
      sb.append("<link rel=\"alternate\" hreflang=\"pt\">\n")
    val anchor = "<meta charset=\"utf-8\">\n"
    val at = base.indexOf(anchor) + anchor.length
    base.substring(0, at) + sb + base.substring(at)
  }

  /** [[page]] plus a schema.org/Article MICRODATA scope spliced after the
    * charset meta ([[pageWithMeta]] discipline) — the attribute-level twin of
    * [[pageWithJsonLd]], same class structure so the two extractors are
    * directly comparable: docId%11==3 plants NO scope (absent-row class);
    * docId%5==0 prepends a non-Article decoy scope (BreadcrumbList, with its
    * own itemprop=name the extractor must not leak); author is a PLAIN
    * itemprop span when docId%3==0, otherwise a NESTED Person itemscope whose
    * `name` property supplies the value; headline carries an `&amp;` entity
    * trap when docId%7==0; wordCount rides a `<meta itemprop content=...>`.
    * All values doc_id/text arithmetic -> plain-SQL oracle. */
  def pageWithMicrodata(docId: Long, text: String): String = {
    val base = page(docId, text)
    if (docId % 11 == 3) return base
    val sb = new java.lang.StringBuilder(512)
    if (docId % 5 == 0)
      sb.append("<div itemscope itemtype=\"https://schema.org/BreadcrumbList\">")
        .append("<span itemprop=\"name\">crumb ").append(docId % 3).append("</span></div>\n")
    val headline = "document " + docId + (if (docId % 7 == 0) " &amp; co" else "")
    val words = (if (text == null) "" else text).split(" ", -1).length
    sb.append("<div itemscope itemtype=\"https://schema.org/Article\">\n")
      .append("<span itemprop=\"headline\">").append(headline).append("</span>\n")
    if (docId % 3 == 0)
      sb.append("<span itemprop=\"author\">author ").append(docId % 13).append("</span>\n")
    else
      sb.append("<span itemprop=\"author\" itemscope itemtype=\"https://schema.org/Person\">")
        .append("<span itemprop=\"name\">author ").append(docId % 13).append("</span></span>\n")
    sb.append("<meta itemprop=\"wordCount\" content=\"").append(words).append("\">\n")
      .append("</div>\n")
    val anchor = "<meta charset=\"utf-8\">\n"
    val at = base.indexOf(anchor) + anchor.length
    base.substring(0, at) + sb + base.substring(at)
  }

  /** [[page]] plus a robots meta directive spliced after the charset meta
    * ([[pageWithMeta]] discipline): the opt-out-governance fixture. Branches
    * by docId%6 — noindex / "noai, noimageai" / explicit allow / ABSENT /
    * upper-case "NOINDEX,NOFOLLOW" / an unrelated directive the gate must
    * ignore. Raw content strings are pinned so the oracle is a CASE table. */
  def pageWithRobots(docId: Long, text: String): String = {
    val content = (docId % 6) match {
      case 0 => "noindex"
      case 1 => "noai, noimageai"
      case 2 => "index, follow"
      case 3 => null
      case 4 => "NOINDEX,NOFOLLOW"
      case _ => "max-snippet:-1"
    }
    val base = page(docId, text)
    if (content == null) return base
    val anchor = "<meta charset=\"utf-8\">\n"
    val at = base.indexOf(anchor) + anchor.length
    val nameAttr = if (docId % 6 == 4) "ROBOTS" else "robots"
    base.substring(0, at) +
      "<meta name=\"" + nameAttr + "\" content=\"" + content + "\">\n" +
      base.substring(at)
  }

  /** [[page]] plus a license declaration — the rights-governance fixture for
    * CC-license mining (the filter a commercially-trained corpus runs before
    * the opt-out gate). Branches by docId%6, values pinned so the oracle is a
    * CASE table:
    *   0: head `<link rel="license nofollow">` -> CC BY 4.0 (multi-token rel
    *      trap — rel must be matched token-wise, not string-equal)
    *   1: head link -> CC BY-NC-SA 3.0
    *   2: BODY `<a rel="license">` before the comments block -> CC BY-ND 4.0
    *      (anchor-declared, not head-declared)
    *   3: ABSENT (no rel=license anywhere; the footer's plain anchors are
    *      natural decoys)
    *   4: head `<link rel="LICENSE">` -> a non-CC terms url (uppercase rel
    *      VALUE trap — attr names lowercase in the parser, values don't)
    *   5: head link -> CC0 (publicdomain/zero/1.0 path shape) */
  def pageWithLicense(docId: Long, text: String): String = {
    val base = page(docId, text)
    val head = (docId % 6) match {
      case 0 => "<link rel=\"license nofollow\" href=\"https://creativecommons.org/licenses/by/4.0/\">\n"
      case 1 => "<link rel=\"license\" href=\"https://creativecommons.org/licenses/by-nc-sa/3.0/\">\n"
      case 4 => "<link rel=\"LICENSE\" href=\"https://example.com/terms-of-use\">\n"
      case 5 => "<link rel=\"license\" href=\"https://creativecommons.org/publicdomain/zero/1.0/\">\n"
      case _ => null
    }
    if (head != null) {
      val anchor = "<meta charset=\"utf-8\">\n"
      val at = base.indexOf(anchor) + anchor.length
      base.substring(0, at) + head + base.substring(at)
    } else if (docId % 6 == 2) {
      val anchor = "<div class=\"comments\">"
      val at = base.indexOf(anchor)
      base.substring(0, at) +
        "<a rel=\"license\" href=\"https://creativecommons.org/licenses/by-nd/4.0/\">some rights reserved</a>\n" +
        base.substring(at)
    } else base
  }

  /** [[page]] plus deterministic data tables spliced right before the
    * comments block (same splice discipline as [[pageWithMeta]]: every other
    * oracle's byte layout is untouched because only the tables query consumes
    * these pages). Table 0: one `<th>` header row of C = 2+docId%2 cells
    * `h{j}`, then R = 2+docId%3 data rows with cell (i,j) =
    * `v{docId*7 + i*C + j}`, plus an entity trap (`&amp; x` in the source,
    * literal `& x` extracted) on cells where (i+j)%3==0. A second 2x2
    * header-less table (`w{docId + 2i + j}`) appears when docId%4==0.
    * All counts/content are doc_id arithmetic -> plain-SQL oracle. */
  def pageWithTables(docId: Long, text: String): String = {
    val base = page(docId, text)
    val sb = new java.lang.StringBuilder(512)
    val c = (2 + docId % 2).toInt
    val r = (2 + docId % 3).toInt
    sb.append("<table class=\"data\">\n<tr>")
    var j = 0
    while (j < c) { sb.append("<th>h").append(j).append("</th>"); j += 1 }
    sb.append("</tr>\n")
    var i = 0
    while (i < r) {
      sb.append("<tr>")
      j = 0
      while (j < c) {
        sb.append("<td>v").append(docId * 7 + i * c + j)
        if ((i + j) % 3 == 0) sb.append(" &amp; x")
        sb.append("</td>")
        j += 1
      }
      sb.append("</tr>\n")
      i += 1
    }
    sb.append("</table>\n")
    if (docId % 4 == 0) {
      sb.append("<table class=\"extra\">\n")
      i = 0
      while (i < 2) {
        sb.append("<tr>")
        j = 0
        while (j < 2) { sb.append("<td>w").append(docId + 2 * i + j).append("</td>"); j += 1 }
        sb.append("</tr>\n")
        i += 1
      }
      sb.append("</table>\n")
    }
    val anchor = "<div class=\"comments\">"
    val at = base.indexOf(anchor)
    base.substring(0, at) + sb + base.substring(at)
  }

  def escape(s: String): String = {
    if (s.indexOf('&') < 0 && s.indexOf('<') < 0 && s.indexOf('>') < 0) return s
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
  }

  /** One paragraph with deterministic inline markup: p%3==1 bolds the first
    * word, p%3==2 wraps the last word in an inline anchor. Text content is
    * unchanged by the markup. */
  private def paragraphHtml(docId: Long, p: Int, para: String): String = {
    val words = para.split(" ", -1)
    val marked =
      if (p % 3 == 1)
        (("<b>" + escape(words.head) + "</b>") +: words.tail.map(escape)).mkString(" ")
      else if (p % 3 == 2)
        (words.init.map(escape) :+ (s"""<a href="/w/$docId/$p">""" + escape(words.last) + "</a>")).mkString(" ")
      else words.map(escape).mkString(" ")
    s"<p>$marked</p>"
  }

  /** Deterministic page. Counts (SQL-recomputable from doc_id + word count):
    *   nav links       = 4 + doc_id % 4
    *   sidebar links   = 3 + doc_id % 3
    *   footer links    = 2
    *   inline anchors  = floor(P / 3)   (paragraph indices p % 3 == 2)
    *   paragraphs      = P (article) + 1 (sidebar promo) + 1 (footer (c))
    *   comment divs    = 2 + doc_id % 2
    * where P = ceil(words / 24). Article wrapped in <div id="content"> when
    * doc_id % 2 == 1 (same extracted text either way — the wrapper ties with
    * the article and pre-order tie-break picks the wrapper). */
  def page(docId: Long, text: String): String = {
    val sb = new java.lang.StringBuilder(2048 + 2 * (if (text == null) 0 else text.length))
    val paras = paragraphTexts(text)
    sb.append("<!DOCTYPE html>\n<html><head><title>document ").append(docId)
      .append("</title>\n<meta charset=\"utf-8\">\n")
      .append("<style>body{font:14px serif} .ad{display:none} a<b{}</style>\n")
      .append("<script>var t={id:").append(docId)
      .append("};if(1<2&&t.id>=0){/* <p>not text</p> & stays code */}</script>\n")
      .append("</head>\n<body>\n<nav><ul>\n")
    val navN = (4 + docId % 4).toInt
    var k = 0
    while (k < navN) {
      sb.append("<li><a href=\"/nav/").append(k).append("\">")
        .append(NavLabels(((docId + k) % NavLabels.length).toInt)).append("</a></li>\n")
      k += 1
    }
    sb.append("</ul></nav>\n<div class=\"sidebar\"><h3>related</h3>\n")
    val sideN = (3 + docId % 3).toInt
    k = 0
    while (k < sideN) {
      sb.append("<a class=\"rel\" href=\"/rel/").append(k).append("\">")
        .append(SideLabels(((docId + 2 * k) % SideLabels.length).toInt)).append("</a>\n")
      k += 1
    }
    sb.append("<p class=\"promo\">").append(Promos((docId % Promos.length).toInt)).append("</p></div>\n")
    val wrap = docId % 2 == 1
    if (wrap) sb.append("<div id=\"content\">\n")
    sb.append("<article><h1>document ").append(docId).append("</h1>\n")
    paras.zipWithIndex.foreach { case (para, p) =>
      sb.append(paragraphHtml(docId, p, para)).append('\n')
    }
    sb.append("</article>\n")
    if (wrap) sb.append("</div>\n")
    sb.append("<div class=\"comments\">\n")
    val comN = (2 + docId % 2).toInt
    k = 0
    while (k < comN) {
      sb.append("<div class=\"comment\">").append(Comments(((docId + k) % Comments.length).toInt))
        .append("</div>\n")
      k += 1
    }
    sb.append("</div>\n<footer><a href=\"/about\">about us!</a> <a href=\"/terms\">terms!!!</a>")
      .append("<p>(c) 2026 example corp</p></footer>\n</body></html>\n")
    sb.toString
  }
}
