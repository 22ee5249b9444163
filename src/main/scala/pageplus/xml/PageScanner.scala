package pageplus.xml

import java.nio.charset.StandardCharsets.UTF_8

import scala.annotation.switch

/** Single forward pass over PAGE-XML bytes for the text-only parse: a
  * dependency-free [[PageCursor]] that tokenizes only what [[PageWalk]] reads.
  * Start and end tags become events; character data is validated and skipped,
  * except inside `Unicode`; attribute values become strings only when the walk
  * asks for them. No `String` is built for element names: they match by
  * [[El]] code.
  *
  * It accepts a strict subset of XML 1.0 that the JDK StAX reader reads the
  * same way, and throws [[PageScanner.Fallback]] on anything else (the list is
  * in [[StaxPageParser]]'s header). It is stricter than StAX everywhere, never
  * more lenient: a document it accepts is well-formed up to the root end, with
  * the same element tree, attribute values and `Unicode` text.
  */
private[xml] final class PageScanner(b: Array[Byte]) extends PageCursor {
  import PageCursor._
  import PageScanner._

  private[this] val end = b.length
  private[this] var p = 0

  // open elements' names, for end-tag matching
  private[this] val openAt = new Array[Int](MaxDepth)
  private[this] val openLen = new Array[Int](MaxDepth)
  private[this] var depth = 0
  /** The current start tag ended with `/>`: its end event is still due. */
  private[this] var selfClosing = false
  private[this] var cur = El.Other
  private[this] var atRoot = false
  private[this] var colon = -1

  // the current start tag's attributes: name [nameAt, nameAt + nameLen) with
  // its local part from localAt, value [valAt, valEnd), and whether the value
  // is its own text (no reference, no '\t' or '\n' to normalize)
  private[this] var nattr = 0
  private[this] val nameAt = new Array[Int](MaxAttrs)
  private[this] val nameLen = new Array[Int](MaxAttrs)
  private[this] val localAt = new Array[Int](MaxAttrs)
  private[this] val valAt = new Array[Int](MaxAttrs)
  private[this] val valEnd = new Array[Int](MaxAttrs)
  private[this] val valRaw = new Array[Boolean](MaxAttrs)

  // prefixes declared on the root: name [pfxAt, pfxAt + pfxLen)
  private[this] var npfx = 0
  private[this] val pfxAt = new Array[Int](MaxPrefixes)
  private[this] val pfxLen = new Array[Int](MaxPrefixes)

  // ---- PageCursor ----------------------------------------------------------

  def next(): Int = {
    if (selfClosing) {
      selfClosing = false
      depth -= 1
      return End
    }
    skipText()
    p += 1 // '<'
    if (p >= end) fallback()
    val c = b(p)
    if (c == '/') {
      p += 1
      endTag()
      End
    } else if (c == '!' || c == '?') fallback()
    else {
      startTag()
      Start
    }
  }

  /** EOF inside the root falls back, so the walk never sees the input end. */
  def hasNext: Boolean = true

  def code: Int = cur

  def attr(local: String): String = {
    val i = find(local)
    if (i < 0) null else attrValue(i)
  }

  def hasAttr(local: String): Boolean = find(local) >= 0

  def readText(): String = {
    if (selfClosing) {
      selfClosing = false
      depth -= 1
      return ""
    }
    val t0 = p
    var raw = true
    while (b(atText()) != '<') { raw = false; p = ref(p, null) }
    val t1 = p
    // markup inside Unicode (elements, comments, CDATA) falls back
    if (p + 1 >= end || b(p + 1) != '/') fallback()
    p += 2
    endTag()
    if (raw) new String(b, t0, t1 - t0, UTF_8) else decode(t0, t1, attribute = false)
  }

  // ---- document ------------------------------------------------------------

  /** Reads the prolog and the root start tag; returns the root namespace. */
  def root(): String = {
    if (end >= 3 && b(0) == 0xEF.toByte && b(1) == 0xBB.toByte && b(2) == 0xBF.toByte) p = 3
    if (at("<?xml")) xmlDecl()
    skipWs()
    if (p >= end || b(p) != '<') fallback()
    p += 1
    if (p >= end || b(p) == '/' || b(p) == '!' || b(p) == '?') fallback()
    atRoot = true
    startTag()
    atRoot = false
    if (selfClosing) fallback()
    var ns: String = null
    val uris = new Array[String](nattr)
    var i = 0
    while (i < nattr) {
      if (nsDecl(i)) {
        val n0 = nameAt(i)
        if (nameLen(i) == 5) ns = attrValue(i)
        else {
          // reserved xml* prefixes, empty URIs, two prefixes bound to one URI
          val uri = attrValue(i)
          if (at(n0 + 6, "xml") || uri.isEmpty || uris.contains(uri) || npfx == MaxPrefixes) fallback()
          uris(npfx) = uri
          pfxAt(npfx) = n0 + 6
          pfxLen(npfx) = nameLen(i) - 6
          npfx += 1
        }
      }
      i += 1
    }
    i = 0
    while (i < nattr) {
      if (localAt(i) != nameAt(i) && !nsDecl(i)) checkPrefix(nameAt(i), localAt(i) - 1 - nameAt(i))
      i += 1
    }
    if (ns == null || !ns.startsWith(StaxPageParser.PageNsPrefix)) fallback()
    ns
  }

  /** After the root end tag: only whitespace may follow. */
  def finish(): Unit = {
    skipWs()
    if (p != end) fallback()
  }

  /** `<?xml version="1.0" (encoding="UTF-8")? (standalone="yes|no")? ?>` */
  private def xmlDecl(): Unit = {
    p += 5
    if (!skipWs()) fallback()
    if (!at("version")) fallback()
    p += 7
    if (!quoted("1.0", anyCase = false)) fallback()
    var ws = skipWs()
    if (ws && at("encoding")) {
      p += 8
      if (!quoted("UTF-8", anyCase = true)) fallback()
      ws = skipWs()
    }
    if (ws && at("standalone")) {
      p += 10
      val v0 = p
      if (!quoted("yes", anyCase = false)) {
        p = v0
        if (!quoted("no", anyCase = false)) fallback()
      }
      skipWs()
    }
    if (!at("?>")) fallback()
    p += 2
  }

  /** `Eq` and a quoted pseudo-attribute value of the XML declaration: whether
    * the value is `v` (ASCII case-insensitive when `anyCase`). */
  private def quoted(v: String, anyCase: Boolean): Boolean = {
    skipWs()
    if (p >= end || b(p) != '=') fallback()
    p += 1
    skipWs()
    if (p >= end || (b(p) != '"' && b(p) != '\'')) fallback()
    val q = b(p)
    val v0 = p + 1
    if (v0 + v.length >= end || b(v0 + v.length) != q) return false
    var k = 0
    while (k < v.length && (b(v0 + k) == v.charAt(k) ||
        (anyCase && Character.toLowerCase(b(v0 + k).toChar) == Character.toLowerCase(v.charAt(k)))))
      k += 1
    p = v0 + v.length + 1
    k == v.length
  }

  // ---- tags ----------------------------------------------------------------

  /** At the first name byte after '<'. */
  private def startTag(): Unit = {
    val n0 = p
    val n1 = name(prefixed = false)
    if (depth == MaxDepth) fallback()
    openAt(depth) = n0
    openLen(depth) = n1 - n0
    depth += 1
    cur = codeOf(n0, n1 - n0)
    nattr = 0
    while (true) {
      val ws = skipWs()
      if (p >= end) fallback()
      val c = b(p)
      if (c == '>') {
        p += 1
        selfClosing = false
        return
      } else if (c == '/') {
        if (p + 1 >= end || b(p + 1) != '>') fallback()
        p += 2
        selfClosing = true
        return
      } else if (!ws) fallback()
      else attribute()
    }
  }

  /** One `name S? = S? "value"` pair of a start tag. */
  private def attribute(): Unit = {
    if (nattr == MaxAttrs) fallback()
    val i = nattr
    val n0 = p
    val n1 = name(prefixed = true)
    nameAt(i) = n0
    nameLen(i) = n1 - n0
    localAt(i) = if (colon < 0) n0 else colon + 1
    if (nsDecl(i)) {
      if (!atRoot) fallback() // namespace declarations below the root
    } else if (localAt(i) != n0 && !atRoot) checkPrefix(n0, localAt(i) - 1 - n0)
    var j = 0
    while (j < i) {
      if (nameLen(j) == nameLen(i) && same(nameAt(j), n0, nameLen(i))) fallback()
      j += 1
    }
    skipWs()
    if (p >= end || b(p) != '=') fallback()
    p += 1
    skipWs()
    if (p >= end) fallback()
    val q = b(p)
    if (q != '"' && q != '\'') fallback()
    val bs = b
    val e = end
    var k = p + 1
    valAt(i) = k
    var raw = true
    while (true) {
      while (k < e && AttrPlain(bs(k) & 0xff)) k += 1
      if (k >= e) fallback()
      val c = bs(k)
      if (c == q) {
        valEnd(i) = k
        valRaw(i) = raw
        p = k + 1
        nattr += 1
        return
      } else if (c == '"' || c == '\'') k += 1
      else if (c == '&') { raw = false; k = ref(k, null) }
      else if (c == '\t' || c == '\n') { raw = false; k += 1 }
      else if (c < 0) k = utf8(k)
      else fallback() // '<', '\r', control characters
    }
  }

  /** At the first name byte after "</": checks it closes the innermost open
    * element. */
  private def endTag(): Unit = {
    if (depth == 0) fallback()
    depth -= 1
    val len = openLen(depth)
    if (p + len > end || !same(openAt(depth), p, len)) fallback()
    p += len
    skipWs()
    if (p >= end || b(p) != '>') fallback()
    p += 1
  }

  /** An ASCII XML name from `p`; `prefixed` allows one inner ':', whose
    * position goes to `colon` (-1 without). Returns its end, which must be
    * followed by a non-name byte. */
  private def name(prefixed: Boolean): Int = {
    val bs = b
    val e = end
    var i = p
    if (i >= e || !NameStart(bs(i) & 0xff)) fallback()
    i += 1
    while (i < e && NameChar(bs(i) & 0xff)) i += 1
    colon = -1
    if (i < e && bs(i) == ':') {
      if (!prefixed || i + 1 >= e || !NameStart(bs(i + 1) & 0xff)) fallback()
      colon = i
      i += 2
      while (i < e && NameChar(bs(i) & 0xff)) i += 1
      if (i < e && bs(i) == ':') fallback()
    }
    if (i - p > MaxName || (i < e && bs(i) < 0)) fallback()
    p = i
    i
  }

  /** The attribute prefix [n0, n0 + len) must be declared on the root. */
  private def checkPrefix(n0: Int, len: Int): Unit = {
    var j = 0
    while (j < npfx) {
      if (pfxLen(j) == len && same(pfxAt(j), n0, len)) return
      j += 1
    }
    fallback()
  }

  /** Attribute `i` is `xmlns` or `xmlns:prefix`. */
  private def nsDecl(i: Int): Boolean =
    (nameLen(i) == 5 || localAt(i) == nameAt(i) + 6) && at(nameAt(i), "xmlns")

  private def attrValue(i: Int): String =
    if (valRaw(i)) new String(b, valAt(i), valEnd(i) - valAt(i), UTF_8)
    else decode(valAt(i), valEnd(i), attribute = true)

  private def find(local: String): Int = {
    val n = local.length
    var i = 0
    while (i < nattr) {
      val l0 = localAt(i)
      if (nameAt(i) + nameLen(i) - l0 == n) {
        var k = 0
        while (k < n && b(l0 + k) == local.charAt(k)) k += 1
        if (k == n) return i
      }
      i += 1
    }
    -1
  }

  private def codeOf(n0: Int, len: Int): Int = {
    val k = (len: @switch) match {
      case 4  => if (b(n0) == 'P') El.Page else El.Word
      case 6  => El.Coords
      case 7  => El.Unicode
      case 8  => if (b(n0) == 'T') El.TextLine else El.Baseline
      case 9  => if (b(n0 + 2) == 'x') El.TextEquiv else El.TableCell
      case 10 => El.TextRegion
      case 11 => El.TableRegion
      case 12 => if (b(n0) == 'R') El.ReadingOrder else El.OrderedGroup
      case 16 => El.RegionRefIndexed
      case _  => El.Other
    }
    if (k != El.Other && at(n0, El.Names(k))) k else El.Other
  }

  // ---- character data ------------------------------------------------------

  /** Validates character data from `p` up to the next '<', which it returns
    * the position of. */
  private def skipText(): Unit =
    while (b(atText()) != '<') p = ref(p, null)

  /** Validates character data from `p` up to the next '<' or '&'; moves `p`
    * there and returns it. */
  private def atText(): Int = {
    val bs = b
    val e = end
    var i = p
    while (true) {
      while (i < e && TextPlain(bs(i) & 0xff)) i += 1
      if (i >= e) fallback()
      val c = bs(i)
      if (c == '<' || c == '&') {
        p = i
        return i
      } else if (c == ']') {
        if (i + 2 < e && bs(i + 1) == ']' && bs(i + 2) == '>') fallback()
        i += 1
      } else if (c < 0) i = utf8(i)
      else fallback() // '\r', control characters
    }
    i
  }

  /** The text of [from, to), already validated, with references resolved and,
    * in attribute values, '\t' and '\n' normalized to ' '. */
  private def decode(from: Int, to: Int, attribute: Boolean): String = {
    val sb = new java.lang.StringBuilder(to - from)
    var s = from
    var i = from
    while (i < to) {
      val c = b(i)
      if (c == '&' || (attribute && (c == '\t' || c == '\n'))) {
        if (i > s) sb.append(new String(b, s, i - s, UTF_8))
        if (c == '&') i = ref(i, sb)
        else {
          sb.append(' ')
          i += 1
        }
        s = i
      } else i += 1
    }
    if (to > s) sb.append(new String(b, s, to - s, UTF_8))
    sb.toString
  }

  /** A reference at `amp` ('&'): one of the five predefined entities or a
    * numeric reference to an XML `Char`. Appends its character to `out` when
    * given; returns the position after ';'. */
  private def ref(amp: Int, out: java.lang.StringBuilder): Int = {
    var i = amp + 1
    if (i < end && b(i) == '#') {
      i += 1
      val hex = i < end && b(i) == 'x'
      if (hex) i += 1
      val d0 = i
      var v = 0
      while (i < end && i - d0 <= 6 && digit(b(i), hex) >= 0) {
        v = v * (if (hex) 16 else 10) + digit(b(i), hex)
        i += 1
      }
      if (i == d0 || i >= end || b(i) != ';' || !isChar(v)) fallback()
      if (out != null) out.appendCodePoint(v)
      i + 1
    } else {
      var k = 0
      while (k < Entities.length && !at(i, Entities(k))) k += 1
      if (k == Entities.length) fallback()
      if (out != null) out.append(EntityChars.charAt(k))
      i + Entities(k).length
    }
  }

  /** Validates the UTF-8 sequence at `i` (a byte >= 0x80): shortest form, no
    * surrogates, at most U+10FFFF, not U+FFFE/U+FFFF. Returns its end. */
  private def utf8(i: Int): Int = {
    val b0 = b(i) & 0xff
    def cont(k: Int): Int = {
      if (k >= end || (b(k) & 0xc0) != 0x80) fallback()
      b(k) & 0xff
    }
    if (b0 < 0xc2) fallback()
    else if (b0 < 0xe0) { cont(i + 1); i + 2 }
    else if (b0 < 0xf0) {
      val b1 = cont(i + 1)
      val b2 = cont(i + 2)
      if ((b0 == 0xe0 && b1 < 0xa0) || (b0 == 0xed && b1 >= 0xa0) ||
          (b0 == 0xef && b1 == 0xbf && b2 >= 0xbe)) fallback()
      i + 3
    } else if (b0 < 0xf5) {
      val b1 = cont(i + 1)
      cont(i + 2); cont(i + 3)
      if ((b0 == 0xf0 && b1 < 0x90) || (b0 == 0xf4 && b1 >= 0x90)) fallback()
      i + 4
    } else fallback()
  }

  /** Skips ' ', '\t' and '\n'; returns whether it skipped any. */
  private def skipWs(): Boolean = {
    val bs = b
    val e = end
    var i = p
    while (i < e && (bs(i) == ' ' || bs(i) == '\t' || bs(i) == '\n')) i += 1
    if (i < e && bs(i) == '\r') fallback()
    val skipped = i > p
    p = i
    skipped
  }

  private def at(s: String): Boolean = at(p, s)

  /** The ASCII string `s` is at position `i`. */
  private def at(i: Int, s: String): Boolean = {
    if (i + s.length > end) return false
    var k = 0
    while (k < s.length && b(i + k) == s.charAt(k)) k += 1
    k == s.length
  }

  /** [i, i + len) and [j, j + len), both inside the input, hold the same bytes. */
  private def same(i: Int, j: Int, len: Int): Boolean = {
    var k = 0
    while (k < len && b(i + k) == b(j + k)) k += 1
    k == len
  }
}

private[xml] object PageScanner {

  /** The preallocated signal that hands a document to StAX. */
  object Fallback extends scala.util.control.ControlThrowable

  private def fallback(): Nothing = throw Fallback

  final val MaxDepth = 64
  final val MaxAttrs = 16
  final val MaxPrefixes = 4
  final val MaxName = 128

  private val Entities = Array("amp;", "lt;", "gt;", "quot;", "apos;")
  private val EntityChars = "&<>\"'"

  private def table(f: Int => Boolean): Array[Boolean] = Array.tabulate(256)(f)

  /** Character-data bytes that need no check: ASCII `Char`s but '<', '&', ']'. */
  private val TextPlain = table(c => (c >= 0x20 && c < 0x80 && c != '<' && c != '&' && c != ']') ||
    c == '\t' || c == '\n')
  /** Attribute-value bytes that need no check: ASCII `Char`s but '<', '&',
    * quotes, '\t' and '\n' (normalized to ' '). */
  private val AttrPlain = table(c => c >= 0x20 && c < 0x80 && c != '<' && c != '&' && c != '"' && c != '\'')
  private val NameStart = table(c => (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || c == '_')
  private val NameChar = table(c => (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || c == '_' ||
    (c >= '0' && c <= '9') || c == '-' || c == '.')

  private def digit(c: Byte, hex: Boolean): Int =
    if (c >= '0' && c <= '9') c - '0'
    else if (hex && c >= 'a' && c <= 'f') c - 'a' + 10
    else if (hex && c >= 'A' && c <= 'F') c - 'A' + 10
    else -1

  /** XML 1.0 `Char`. */
  private def isChar(v: Int): Boolean =
    v == 0x9 || v == 0xa || v == 0xd || (v >= 0x20 && v <= 0xd7ff) ||
      (v >= 0xe000 && v <= 0xfffd) || (v >= 0x10000 && v <= 0x10ffff)
}
