package graft.rdf

import scala.collection.mutable

/** XML events, mirroring the granularity the reference receives from its
  * SAX layer (`@rubensworks/saxes`, wired at `lib/RdfXmlParser.ts:220-227`):
  * opentag / text / cdata / closetag / doctype, with namespace-resolved
  * names and attributes.
  */
sealed trait XmlEvent

/** One attribute, namespace-resolved.
  * `uri` is "" for unprefixed non-namespace attributes (the reference checks
  * `attribute.uri` truthiness to skip those, `lib/RdfXmlParser.ts:399-404`).
  * The `xmlns` attribute itself follows the saxes convention:
  * prefix="xmlns", local="".
  */
final case class XmlAttr(qname: String, prefix: String, local: String, uri: String, value: String)

final case class OpenTag(
    name: String,
    prefix: String,
    local: String,
    uri: String,
    attributes: scala.collection.immutable.ArraySeq[XmlAttr],
    selfClosing: Boolean,
) extends XmlEvent

final case class CloseTag(name: String) extends XmlEvent

/** Text or CDATA content (the reference routes both to the same handler,
  * `lib/RdfXmlParser.ts:223-224`, with overwrite — not append — semantics
  * in the consumer). */
final case class TextEvent(text: String) extends XmlEvent

final case class DoctypeEvent(content: String) extends XmlEvent

final class XmlSyntaxException(message: String, val line: Int, val column: Int)
    extends RuntimeException(s"$line:$column: $message")

/** Incremental, namespace-aware XML event scanner with saxes-compatible
  * behavior for the constructs the reference exercises:
  *   - DOCTYPE internal-subset `<!ENTITY name "uri">` declarations are
  *     scraped with the same regex the reference applies
  *     (`lib/RdfXmlParser.ts:923-928`) and expanded in later text/attributes;
  *   - CDATA is delivered as a text event (`:224`);
  *   - comments and processing instructions are skipped;
  *   - attribute values are XML-normalized (raw whitespace → space) and
  *     entity-expanded; character references bypass normalization;
  *   - line/column tracking matches saxes' convention (line 1-based, column
  *     0-based *after* the construct that completed), so `ParseError`'s
  *     `column + 1` arithmetic (`lib/ParseError.ts:10`) reproduces.
  *
  * Feed with [[write]] chunks and finish with [[end]]; events are pushed to
  * `handler` as soon as each construct is complete, which is what gives the
  * automaton the reference's incremental emission behavior
  * (`test/RdfXmlParser-test.ts:2948-3025`).
  */
object XmlTokenizer {
  /** Reference entity-scrape regex (`lib/RdfXmlParser.ts:924`) — compiled
    * once: a per-document Pattern.compile dominates the parse profile and
    * its lambda-linkage machinery wrecks multi-core scaling. */
  private val EntityRegex =
    """(?s)<!ENTITY\s+(\S+)\s+["']([^"']+)["']\s*>""".r

  private val DefaultEntities: Map[String, String] =
    Map("amp" -> "&", "lt" -> "<", "gt" -> ">", "quot" -> "\"", "apos" -> "'")
}

final class XmlTokenizer(handler: XmlEvent => Unit) {
  import XmlTokenizer.{EntityRegex, DefaultEntities}

  // Copy-on-write: almost no document declares entities, so the default
  // table is shared and only DOCTYPE processing materializes a local map.
  private var entities: Map[String, String] = DefaultEntities

  /** prefix → uri scopes; one frame per open element. */
  private var scopes: List[Map[String, String]] =
    List(Map("xml" -> RdfVocab.XML, "xmlns" -> RdfVocab.XMLNS))
  /** Names of the open elements, innermost last; pushed and popped once per
    * element, so both must be O(1) without clearing any freed tail. */
  private val openNames = new java.util.ArrayDeque[String]()

  private var buf: String = ""
  private var pos: Int = 0 // cursor into buf — consumed prefix is NOT copied away
  private var started = false
  private var closedRoot = false

  var line: Int = 1
  var column: Int = 0

  def depth: Int = openNames.size

  private def fail(msg: String): Nothing = throw new XmlSyntaxException(msg, line, column)

  /** Next newline index in `buf` at/after the consumed prefix; -1 = none in
    * the rest of the buffer, -2 = unknown (buffer content changed). Cached
    * so [[advance]] scans each buffer region ONCE: an unbounded
    * `indexOf('\n')` per call would re-scan to end-of-buffer on every tag of
    * a newline-free (minified) document — O(n²). */
  private var nextNl = -2

  /** Advance position counters over buf[from, until). Newlines are found
    * with `indexOf` jumps (intrinsified SIMD scan) instead of a per-char
    * loop — this runs over every consumed byte of every document and was a
    * top frame in the parse profile. `from` is monotone within one buffer
    * (the run() cursor), so the cached [[nextNl]] makes the total newline
    * scanning linear in the buffer. */
  private def advance(from: Int, until: Int): Unit = {
    if (nextNl == -2 || (nextNl >= 0 && nextNl < from)) nextNl = buf.indexOf('\n', from)
    var last = -1
    while (nextNl >= 0 && nextNl < until) {
      line += 1; last = nextNl; nextNl = buf.indexOf('\n', nextNl + 1)
    }
    if (last >= 0) column = until - last - 1
    else column += until - from
  }

  def write(chunk: String): Unit = {
    var c = chunk
    if (!started) {
      started = true
      if (c.nonEmpty && c.charAt(0) == '\uFEFF') c = c.substring(1) // BOM
    }
    // Batch fast path: when the previous buffer is fully consumed the new
    // chunk becomes the buffer without any copying (one-shot whole-document
    // parses never copy the input at all).
    if (pos >= buf.length) { buf = c; pos = 0; nextNl = -2 }
    else if (c.nonEmpty) { buf = buf.substring(pos) + c; pos = 0; nextNl = -2 }
    run()
  }

  def end(): Unit = {
    // Trailing text never forms markup; only whitespace is legal outside the
    // root element.
    if (pos < buf.length) {
      val rest = buf.substring(pos)
      if (depth == 0) {
        if (!rest.forall(_.isWhitespace)) fail("Text data outside of root node")
      } else {
        emitText(rest, cdata = false)
      }
      advance(pos, buf.length)
      buf = ""
      pos = 0
    }
    if (depth > 0) fail(s"Unclosed tag: ${openNames.peekLast}")
  }

  private def emitText(raw: String, cdata: Boolean): Unit = {
    if (depth == 0) {
      if (!raw.forall(_.isWhitespace)) fail("Text data outside of root node")
      return
    }
    val text = if (cdata) raw else expandEntities(normalizeNewlines(raw), attr = false)
    handler(TextEvent(text))
  }

  private def normalizeNewlines(s: String): String =
    if (s.indexOf('\r') < 0) s else s.replace("\r\n", "\n").replace('\r', '\n')

  /** Expand character and entity references. In attribute context, raw
    * whitespace normalizes to a single space (char-ref-produced whitespace
    * does not, per XML 1.0 §3.3.3). */
  private def expandEntities(s: String, attr: Boolean): String = {
    if (s.indexOf('&') < 0 && !(attr && hasAttrWs(s))) return s
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val ch = s.charAt(i)
      if (ch == '&') {
        val semi = s.indexOf(';', i + 1)
        if (semi < 0) fail("Unterminated entity reference")
        val name = s.substring(i + 1, semi)
        if (name.startsWith("#x") || name.startsWith("#X")) {
          val cp = java.lang.Integer.parseInt(name.substring(2), 16)
          if (!isXmlChar(cp)) fail(s"Invalid character reference: &$name;")
          sb.appendAll(Character.toChars(cp))
        } else if (name.startsWith("#")) {
          val cp = java.lang.Integer.parseInt(name.substring(1), 10)
          if (!isXmlChar(cp)) fail(s"Invalid character reference: &$name;")
          sb.appendAll(Character.toChars(cp))
        } else {
          entities.get(name) match {
            case Some(v) => sb.append(v)
            case None    => fail(s"Undefined entity: &$name;")
          }
        }
        i = semi + 1
      } else if (attr && (ch == '\t' || ch == '\n' || ch == '\r')) {
        sb.append(' ')
        i += 1
      } else {
        sb.append(ch)
        i += 1
      }
    }
    sb.toString
  }

  private def hasAttrWs(s: String): Boolean =
    s.indexOf('\t') >= 0 || s.indexOf('\n') >= 0 || s.indexOf('\r') >= 0

  private def isXmlChar(cp: Int): Boolean =
    cp == 0x9 || cp == 0xA || cp == 0xD || (cp >= 0x20 && cp <= 0xD7FF) ||
      (cp >= 0xE000 && cp <= 0xFFFD) || (cp >= 0x10000 && cp <= 0x10FFFF)

  /** Consume as much of the buffer as forms complete constructs. The
    * cursor-based scan never copies the unconsumed tail (hot-path
    * allocation discipline: the parse is run millions of times per
    * executor). */
  private def run(): Unit = {
    var progress = true
    while (progress) {
      progress = false
      if (pos >= buf.length) return
      if (buf.charAt(pos) != '<') {
        val lt = buf.indexOf('<', pos)
        if (lt < 0) return // incomplete text run — wait for more input
        val raw = buf.substring(pos, lt)
        emitText(raw, cdata = false)
        advance(pos, lt)
        pos = lt
        progress = true
      } else if (pos + 1 < buf.length && isNameStart(buf.charAt(pos + 1))) {
        // Fast path: a name-start char after '<' can only be an open tag —
        // skip the comment/CDATA/PI/DOCTYPE/close prefix cascade (open tags
        // are the dominant construct; this check order was a top profile
        // frame). Identical semantics: none of the other branches match a
        // name-start second char.
        if (scanOpenTag()) progress = true else return
      } else if (buf.startsWith("<!--", pos)) {
        val e = buf.indexOf("-->", pos + 4)
        if (e < 0) return
        advance(pos, e + 3)
        pos = e + 3
        progress = true
      } else if (buf.startsWith("<![CDATA[", pos)) {
        val e = buf.indexOf("]]>", pos + 9)
        if (e < 0) return
        val raw = buf.substring(pos + 9, e)
        advance(pos, e + 3)
        pos = e + 3
        emitText(normalizeNewlines(raw), cdata = true)
        progress = true
      } else if (buf.startsWith("<?", pos)) {
        val e = buf.indexOf("?>", pos + 2)
        if (e < 0) return
        advance(pos, e + 2)
        pos = e + 2
        progress = true
      } else if (buf.regionMatches(true, pos, "<!DOCTYPE", 0, 9)) {
        // Scan to the matching '>' accounting for an internal subset [...].
        var i = pos + 9
        var bracket = 0
        var endPos = -1
        while (i < buf.length && endPos < 0) {
          buf.charAt(i) match {
            case '[' => bracket += 1
            case ']' => bracket -= 1
            case '>' => if (bracket <= 0) endPos = i
            case _   =>
          }
          i += 1
        }
        if (endPos < 0) return
        val content = buf.substring(pos + 9, endPos)
        advance(pos, endPos + 1)
        pos = endPos + 1
        onDoctype(content)
        handler(DoctypeEvent(content))
        progress = true
      } else if (pos + 1 < buf.length && buf.charAt(pos + 1) == '!') {
        // Other declarations (<!ELEMENT...> at top level outside DOCTYPE)
        val e = buf.indexOf('>', pos + 2)
        if (e < 0) return
        advance(pos, e + 1)
        pos = e + 1
        progress = true
      } else if (pos + 1 < buf.length && buf.charAt(pos + 1) == '/') {
        val e = buf.indexOf('>', pos + 2)
        if (e < 0) return
        val name = buf.substring(pos + 2, e).trim
        advance(pos, e + 1)
        pos = e + 1
        onCloseTag(name)
        progress = true
      } else {
        if (scanOpenTag()) progress = true else return
      }
    }
  }

  /** Open tag: scan with quote awareness; returns false when incomplete
    * (wait for more input). */
  private def scanOpenTag(): Boolean = {
    var i = pos + 1
    var quote: Char = 0
    var endPos = -1
    while (i < buf.length && endPos < 0) {
      val c = buf.charAt(i)
      if (quote != 0) { if (c == quote) quote = 0 }
      else if (c == '"' || c == '\'') quote = c
      else if (c == '>') endPos = i
      i += 1
    }
    if (endPos < 0) {
      if (buf.length - pos == 1) return false
      if (!isNameStart(buf.charAt(pos + 1))) fail("Invalid character in markup")
      return false
    }
    val selfClosing = buf.charAt(endPos - 1) == '/'
    val start = pos + 1
    advance(pos, endPos + 1)
    pos = endPos + 1
    onOpenTag(start, if (selfClosing) endPos - 1 else endPos, selfClosing)
    true
  }

  private def isNameStart(c: Char): Boolean =
    c.isLetter || c == '_' || c == ':'

  /** Reference entity scraping: `lib/RdfXmlParser.ts:923-928` (same regex,
    * both quote styles). */
  private def onDoctype(content: String): Unit = {
    EntityRegex.findAllMatchIn(content).foreach { m =>
      entities = entities.updated(m.group(1), m.group(2))
    }
  }

  /** Reused per-tag attribute scratch (cleared each open tag — one
    * allocation per tokenizer instead of per element). Parallel buffers
    * rather than an ArrayBuffer[(String, String)]: attribute handling is
    * ~40% of the kernel profile, and a Tuple2 per attribute plus the
    * pattern-match destructuring closures in the passes over it were a
    * measurable slice of that. */
  private val rawAttrNames = mutable.ArrayBuffer.empty[String]
  private val rawAttrValues = mutable.ArrayBuffer.empty[String]

  /** The open tag whose name and attributes are `buf[start, end)`, scanned
    * in place. The position counters already stand after the tag, which is
    * where a syntax error in it is reported. */
  private def onOpenTag(start: Int, end: Int, selfClosing: Boolean): Unit = {
    if (closedRoot) fail("Markup after the root element")
    // Parse name.
    var i = start
    while (i < end && !buf.charAt(i).isWhitespace) i += 1
    val name = buf.substring(start, i)
    if (name.isEmpty || !isNameStart(name.charAt(0))) fail(s"Invalid tag name: $name")

    // Parse attributes (document order preserved).
    rawAttrNames.clear()
    rawAttrValues.clear()
    while (i < end) {
      while (i < end && buf.charAt(i).isWhitespace) i += 1
      if (i < end) {
        val eq = buf.indexOf('=', i)
        if (eq < 0 || eq >= end) fail(s"Attribute without value in element $name")
        val aname = buf.substring(i, eq).trim
        if (aname.isEmpty) fail(s"Attribute without name in element $name")
        var j = eq + 1
        while (j < end && buf.charAt(j).isWhitespace) j += 1
        if (j >= end || (buf.charAt(j) != '"' && buf.charAt(j) != '\''))
          fail(s"Unquoted attribute value in element $name")
        val q = buf.charAt(j)
        val vEnd = buf.indexOf(q, j + 1)
        if (vEnd < 0 || vEnd >= end) fail(s"Unterminated attribute value in element $name")
        val rawValue = buf.substring(j + 1, vEnd)
        var d = 0
        while (d < rawAttrNames.length) {
          if (rawAttrNames(d) == aname) fail(s"Duplicate attribute: $aname")
          d += 1
        }
        rawAttrNames += aname
        rawAttrValues += expandEntities(rawValue, attr = true)
        i = vEnd + 1
      }
    }
    val nAttrs = rawAttrNames.length

    // Build the namespace scope for this element.
    var scope = scopes.head
    var k = 0
    while (k < nAttrs) {
      val aname = rawAttrNames(k)
      if (aname == "xmlns") scope = scope.updated("", rawAttrValues(k))
      else if (aname.startsWith("xmlns:")) scope = scope.updated(aname.substring(6), rawAttrValues(k))
      k += 1
    }

    val eci = name.indexOf(':')
    val ePrefix = if (eci < 0) "" else name.substring(0, eci)
    val eLocal = if (eci < 0) name else name.substring(eci + 1)
    val eUri =
      if (ePrefix.isEmpty) scope.getOrElse("", "")
      else scope.getOrElse(ePrefix, fail(s"""unbound namespace prefix: "$ePrefix"."""))

    // Array + unsafeWrapArray: a Vector builder is several allocations for
    // a typically 1-4 element collection on the hottest path in the kernel.
    val attrsArr = new Array[XmlAttr](nAttrs)
    k = 0
    while (k < nAttrs) {
      val aname = rawAttrNames(k)
      val v = rawAttrValues(k)
      attrsArr(k) = (if (aname == "xmlns") XmlAttr(aname, "xmlns", "", RdfVocab.XMLNS, v)
      else {
        val ci = aname.indexOf(':')
        val p = if (ci < 0) "" else aname.substring(0, ci)
        val l = if (ci < 0) aname else aname.substring(ci + 1)
        val uri =
          if (p.isEmpty) "" // unprefixed attributes are in no namespace
          else scope.getOrElse(p, fail(s"""unbound namespace prefix: "$p"."""))
        XmlAttr(aname, p, l, uri, v)
      })
      k += 1
    }
    val attrs = scala.collection.immutable.ArraySeq.unsafeWrapArray(attrsArr)

    scopes = scope :: scopes
    openNames.addLast(name)
    handler(OpenTag(name, ePrefix, eLocal, eUri, attrs, selfClosing))
    if (selfClosing) {
      popElement(name)
    }
  }

  private def onCloseTag(name: String): Unit = {
    if (openNames.isEmpty) fail(s"Unexpected closing tag: $name")
    if (openNames.peekLast != name) fail(s"Mismatched closing tag: $name (expected ${openNames.peekLast})")
    popElement(name)
  }

  private def popElement(name: String): Unit = {
    openNames.removeLast()
    scopes = scopes.tail
    handler(CloseTag(name))
    if (openNames.isEmpty) closedRoot = true
  }
}
