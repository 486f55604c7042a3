package graft.rdf

/** A qualified element or attribute name, split at its first ':'. The
  * tokenizer interns names per document, so a name repeated through a
  * document is one record and its `prefix` and `local` are the same strings
  * every time.
  *
  * `xmlnsPrefix` is the prefix an attribute of this name declares: "" for
  * `xmlns` (the default namespace), `p` for `xmlns:p`, null for an attribute
  * that declares none.
  */
final class XmlName private[rdf] (val qname: String, private[rdf] val interned: Boolean) {
  private[this] val colon = qname.indexOf(':')
  val prefix: String = if (colon < 0) "" else qname.substring(0, colon)
  val local: String = if (colon < 0) qname else qname.substring(colon + 1)
  val xmlnsPrefix: String =
    if (qname == "xmlns") "" else if (qname.startsWith("xmlns:")) qname.substring(6) else null
  /** The sequence number of the last open tag that had an attribute of this
    * name: the tokenizer's duplicate-attribute check. */
  private[rdf] var stamp: Long = -1L
}

/** The open tag being reported to [[XmlHandler.openTag]]: one object per
  * tokenizer, refilled for every tag, so it is valid only during that call.
  * Attribute `i` (document order) is `attrNames(i)`, with namespace
  * `attrUris(i)` ("" for an unprefixed attribute, the reference's
  * `attribute.uri` truthiness test, `lib/RdfXmlParser.ts:399-404`) and the
  * normalized, entity-expanded value `attrValues(i)`.
  */
final class OpenTag private[rdf] () {
  private[rdf] var name: XmlName = _
  private[rdf] var uri: String = _
  private[rdf] var attrCount = 0
  private[rdf] var attrNames = new Array[XmlName](8)
  private[rdf] var attrUris = new Array[String](8)
  private[rdf] var attrValues = new Array[String](8)
}

/** What [[XmlTokenizer]] reports, at the granularity the reference receives
  * from its SAX layer (`@rubensworks/saxes`, wired at
  * `lib/RdfXmlParser.ts:220-227`): opentag, text (CDATA included) and
  * closetag. DOCTYPE content is handled inside the tokenizer. */
trait XmlHandler {
  /** An open tag; a self-closing one is followed at once by [[closeTag]]. */
  def openTag(tag: OpenTag): Unit
  /** Text or CDATA content (the reference routes both to the same handler,
    * `lib/RdfXmlParser.ts:223-224`, with overwrite, not append, semantics in
    * the consumer). */
  def text(text: String): Unit
  /** The end of the innermost open element. */
  def closeTag(): Unit
}

final class XmlSyntaxException(message: String, val line: Int, val column: Int)
    extends RuntimeException(s"$line:$column: $message")

/** Incremental, namespace-aware XML scanner with saxes-compatible behavior
  * for the constructs the reference exercises:
  *   - DOCTYPE internal-subset `<!ENTITY name "uri">` declarations are
  *     scraped with the same regex the reference applies
  *     (`lib/RdfXmlParser.ts:923-928`) and expanded in later text/attributes;
  *   - CDATA is reported as text (`:224`);
  *   - comments and processing instructions are skipped;
  *   - attribute values are XML-normalized (raw whitespace → space) and
  *     entity-expanded; character references bypass normalization;
  *   - line/column tracking matches saxes' convention (line 1-based, column
  *     0-based *after* the construct that completed), so `ParseError`'s
  *     `column + 1` arithmetic (`lib/ParseError.ts:10`) reproduces.
  *
  * Feed with [[write]] chunks and finish with [[end]]; each construct is
  * reported to `handler` as soon as it is complete, which is what gives the
  * automaton the reference's incremental emission behavior
  * (`test/RdfXmlParser-test.ts:2948-3025`). A construct cut by a chunk's
  * end waits for the chunk that ends it: the chunks in between are held and
  * searched once each, then joined to the buffer with one copy, so a text
  * run, tag, comment or CDATA section of L chars costs O(L) whatever the
  * chunk size.
  *
  * Element and attribute names are looked up by their characters in the
  * buffer, in a per-document open-addressing table, so a name is copied and
  * split once per document rather than once per occurrence. The table starts
  * at [[XmlTokenizer.InitialNameSlots]] slots, so a tiny document sets up
  * little. It takes no name longer than [[XmlTokenizer.MaxNameChars]] and
  * stops taking names at [[XmlTokenizer.MaxNames]]; other names are built per
  * occurrence, so the table stays within a fixed size whatever the document.
  */
object XmlTokenizer {
  /** Reference entity-scrape regex (`lib/RdfXmlParser.ts:924`) — compiled
    * once: a per-document Pattern.compile dominates the parse profile and
    * its lambda-linkage machinery wrecks multi-core scaling. */
  private val EntityRegex =
    """(?s)<!ENTITY\s+(\S+)\s+["']([^"']+)["']\s*>""".r

  private val DefaultEntities: Map[String, String] =
    Map("amp" -> "&", "lt" -> "<", "gt" -> ">", "quot" -> "\"", "apos" -> "'")

  /** Slots of a document's name table when it starts (a power of two). */
  val InitialNameSlots = 16

  /** Distinct names a document's name table holds at most. */
  val MaxNames = 4096

  /** Longest name, in chars, the name table takes. */
  val MaxNameChars = 256

  // What the incomplete construct at the end of the buffer waits for.
  private final val JoinNext = 0 // unknown yet: take the next chunk at once
  private final val LessThan = 1 // the '<' that ends a text run
  private final val GreaterThan = 2 // a '>': close tag or declaration
  private final val TagEnd = 3 // a '>' outside quotes: open tag
  private final val DoctypeEnd = 4 // a '>' outside the internal subset
  private final val Terminator = 5 // the end string of a comment, CDATA or PI
}

final class XmlTokenizer(handler: XmlHandler) {
  import XmlTokenizer._

  // Copy-on-write: almost no document declares entities, so the default
  // table is shared and only DOCTYPE processing materializes a local map.
  private var entities: Map[String, String] = DefaultEntities

  /** prefix → uri scopes, innermost last: the document's base scope, then
    * one per open element. */
  private val scopes = new java.util.ArrayDeque[Map[String, String]]()
  scopes.addLast(Map("xml" -> RdfVocab.XML, "xmlns" -> RdfVocab.XMLNS))
  /** Names of the open elements, innermost last; pushed and popped once per
    * element, so both must be O(1) without clearing any freed tail. */
  private val openNames = new java.util.ArrayDeque[XmlName]()

  private var buf: String = ""
  private var pos: Int = 0 // cursor into buf — consumed prefix is NOT copied away

  /** Chunks written while the construct at `pos` stayed incomplete: they
    * are joined to the buffer only when a chunk holds what that construct
    * waits for, so a construct spanning many chunks is copied once, not
    * once per chunk, and each chunk is searched once. */
  private val held = new java.util.ArrayList[String]()
  /** What the construct at `pos` waits for ([[XmlTokenizer]]'s codes), and
    * where its search stands: the open quote of a tag (0 for none), the
    * open '[' of a DOCTYPE, the end string of a comment, CDATA or PI. */
  private var waiting = JoinNext
  private var quote: Char = 0
  private var subsetDepth = 0
  private var terminator: String = _
  private var recent: String = _ // the pending text's last chars, fewer than the end string's
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
    if (pos < buf.length) {
      if (c.isEmpty) return
      if (!completes(c)) { held.add(c); return }
      c = if (held.isEmpty) buf.substring(pos).concat(c) else joined(c)
    }
    buf = c
    pos = 0
    nextNl = -2
    run()
  }

  /** The buffer's unconsumed tail, the held chunks and `last` as one
    * string, made with one copy. */
  private def joined(last: String): String = {
    held.add(0, buf.substring(pos))
    held.add(last)
    val all = String.join("", held)
    held.clear()
    all
  }

  /** Whether `c` holds what the construct at `pos` waits for; when it does
    * not, the search state moves past `c`. A chunk that may hold it counts
    * too: [[run]] then scans the joined buffer and decides. */
  private def completes(c: String): Boolean = waiting match {
    case LessThan => c.indexOf('<') >= 0
    case GreaterThan => c.indexOf('>') >= 0
    case TagEnd => tagEnd(c, 0) >= 0
    case DoctypeEnd => doctypeEnd(c, 0) >= 0
    case Terminator =>
      // The end string lies in `c`, or starts in the last chars before it.
      val keep = terminator.length - 1
      val hit = c.indexOf(terminator) >= 0 || (recent + c.take(keep)).contains(terminator)
      recent = (recent + c.takeRight(keep)).takeRight(keep)
      hit
    case _ => true
  }

  def end(): Unit = {
    if (!held.isEmpty) { buf = joined(""); pos = 0; nextNl = -2 }
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
    if (depth > 0) fail(s"Unclosed tag: ${openNames.peekLast.qname}")
  }

  private def emitText(raw: String, cdata: Boolean): Unit = {
    if (depth == 0) {
      if (!raw.forall(_.isWhitespace)) fail("Text data outside of root node")
      return
    }
    handler.text(if (cdata) raw else expandEntities(normalizeNewlines(raw), attr = false))
  }

  private def normalizeNewlines(s: String): String =
    if (s.indexOf('\r') < 0) s else s.replace("\r\n", "\n").replace('\r', '\n')

  /** Expand character and entity references. In attribute context, raw
    * whitespace normalizes to a single space (char-ref-produced whitespace
    * does not, per XML 1.0 §3.3.3). One scan finds the first character that
    * needs either; a value with none is returned as it is. */
  private def expandEntities(s: String, attr: Boolean): String = {
    var i = 0
    if (attr) {
      while (i < s.length && !needsWork(s.charAt(i))) i += 1
    } else {
      i = s.indexOf('&')
      if (i < 0) i = s.length
    }
    if (i == s.length) return s
    val sb = new java.lang.StringBuilder(s.length).append(s, 0, i)
    while (i < s.length) {
      val ch = s.charAt(i)
      if (ch == '&') {
        val semi = s.indexOf(';', i + 1)
        if (semi < 0) fail("Unterminated entity reference")
        val name = s.substring(i + 1, semi)
        if (name.startsWith("#x") || name.startsWith("#X")) {
          val cp = java.lang.Integer.parseInt(name.substring(2), 16)
          if (!isXmlChar(cp)) fail(s"Invalid character reference: &$name;")
          sb.appendCodePoint(cp)
        } else if (name.startsWith("#")) {
          val cp = java.lang.Integer.parseInt(name.substring(1), 10)
          if (!isXmlChar(cp)) fail(s"Invalid character reference: &$name;")
          sb.appendCodePoint(cp)
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

  /** An attribute-value character [[expandEntities]] rewrites; all four are
    * at most '&', so most characters take one comparison. */
  private def needsWork(c: Char): Boolean =
    c <= '&' && (c == '&' || c == '\t' || c == '\n' || c == '\r')

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
        if (lt < 0) { waiting = LessThan; return } // incomplete text run — wait for more input
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
      } else if (pos + 1 < buf.length && buf.charAt(pos + 1) == '/') {
        // Close tags next: no declaration branch below matches a '/'.
        val e = buf.indexOf('>', pos + 2)
        if (e < 0) { waiting = GreaterThan; return }
        val start = pos + 2
        advance(pos, e + 1)
        pos = e + 1
        onCloseTag(start, e)
        progress = true
      } else if (buf.startsWith("<!--", pos)) {
        val e = buf.indexOf("-->", pos + 4)
        if (e < 0) { waitFor("-->"); return }
        advance(pos, e + 3)
        pos = e + 3
        progress = true
      } else if (buf.startsWith("<![CDATA[", pos)) {
        val e = buf.indexOf("]]>", pos + 9)
        if (e < 0) { waitFor("]]>"); return }
        val raw = buf.substring(pos + 9, e)
        advance(pos, e + 3)
        pos = e + 3
        emitText(normalizeNewlines(raw), cdata = true)
        progress = true
      } else if (buf.startsWith("<?", pos)) {
        val e = buf.indexOf("?>", pos + 2)
        if (e < 0) { waitFor("?>"); return }
        advance(pos, e + 2)
        pos = e + 2
        progress = true
      } else if (buf.regionMatches(true, pos, "<!DOCTYPE", 0, 9)) {
        subsetDepth = 0
        val endPos = doctypeEnd(buf, pos + 9)
        if (endPos < 0) { waiting = DoctypeEnd; return }
        val content = buf.substring(pos + 9, endPos)
        advance(pos, endPos + 1)
        pos = endPos + 1
        onDoctype(content)
        progress = true
      } else if (pos + 1 < buf.length && buf.charAt(pos + 1) == '!') {
        // Other declarations (<!ELEMENT...> at top level outside DOCTYPE),
        // or the start of a comment, CDATA or DOCTYPE cut by the chunk's end:
        // each ends at a '>'.
        val e = buf.indexOf('>', pos + 2)
        if (e < 0) { waiting = GreaterThan; return }
        advance(pos, e + 1)
        pos = e + 1
        progress = true
      } else {
        if (scanOpenTag()) progress = true else return
      }
    }
  }

  /** The construct at `pos` is incomplete and ends with `end`. */
  private def waitFor(end: String): Unit = {
    waiting = Terminator
    terminator = end
    recent = buf.substring(math.max(pos, buf.length - end.length + 1))
  }

  /** Open tag: scan with quote awareness, jumping over each quoted value
    * with `indexOf`; returns false when incomplete (wait for more input). */
  private def scanOpenTag(): Boolean = {
    quote = 0
    val endPos = tagEnd(buf, pos + 1)
    if (endPos < 0) {
      // A lone '<' may still start any construct.
      if (buf.length - pos == 1) { waiting = JoinNext; return false }
      if (!isNameStart(buf.charAt(pos + 1))) fail("Invalid character in markup")
      waiting = TagEnd
      return false
    }
    val selfClosing = buf.charAt(endPos - 1) == '/'
    val start = pos + 1
    advance(pos, endPos + 1)
    pos = endPos + 1
    onOpenTag(start, if (selfClosing) endPos - 1 else endPos, selfClosing)
    true
  }

  /** The first '>' in `s` from `from` that is outside quotes, or -1; the
    * scan starts inside [[quote]] and leaves there the quote `s` ends in. */
  private def tagEnd(s: String, from: Int): Int = {
    var i = from
    var q = quote
    while (i < s.length) {
      if (q != 0) {
        val close = s.indexOf(q, i)
        if (close < 0) i = s.length else { q = 0; i = close + 1 }
      } else {
        val c = s.charAt(i)
        if (c == '>') return i
        if (c == '"' || c == '\'') q = c
        i += 1
      }
    }
    quote = q
    -1
  }

  /** The first '>' in `s` from `from` outside a DOCTYPE's internal subset,
    * or -1; [[subsetDepth]] counts the '[' open before and after. */
  private def doctypeEnd(s: String, from: Int): Int = {
    var i = from
    while (i < s.length) {
      s.charAt(i) match {
        case '[' => subsetDepth += 1
        case ']' => subsetDepth -= 1
        case '>' => if (subsetDepth <= 0) return i
        case _   =>
      }
      i += 1
    }
    -1
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

  // ----------------------------------------------------------------- names

  /** The name table: open addressing with linear probing, at most half
    * full, keyed by the name's characters. */
  private var names = new Array[XmlName](InitialNameSlots)
  private var nameCount = 0

  /** The name spelled by buf[start, end). */
  private def nameAt(start: Int, end: Int): XmlName = {
    var hash = 0 // the name's `String.hashCode`
    var i = start
    while (i < end) { hash = 31 * hash + buf.charAt(i); i += 1 }
    val len = end - start
    val mask = names.length - 1
    var slot = spread(hash) & mask
    var n = names(slot)
    while (n != null) {
      if (n.qname.length == len && buf.regionMatches(start, n.qname, 0, len)) return n
      slot = (slot + 1) & mask
      n = names(slot)
    }
    val interned = nameCount < MaxNames && len <= MaxNameChars
    n = new XmlName(buf.substring(start, end), interned)
    if (interned) {
      names(slot) = n
      nameCount += 1
      if (2 * nameCount > names.length && names.length < 2 * MaxNames) growNames()
    }
    n
  }

  private def spread(h: Int): Int = h ^ (h >>> 16)

  private def growNames(): Unit = {
    val old = names
    names = new Array[XmlName](old.length * 2)
    val mask = names.length - 1
    old.foreach { n =>
      if (n != null) {
        var slot = spread(n.qname.hashCode) & mask
        while (names(slot) != null) slot = (slot + 1) & mask
        names(slot) = n
      }
    }
  }

  // ------------------------------------------------------------------ tags

  private val tag = new OpenTag
  /** Counts open tags; an attribute name stamped with the current count was
    * already seen on this tag. */
  private var tagSeq = 0L
  /** Duplicate check for names past the table's cap, which have no stamp to
    * share: made on first use, cleared per tag once used. */
  private var overflowNames: java.util.HashSet[String] = _
  private var overflowUsed = false

  /** The open tag whose name and attributes are `buf[start, end)`, scanned
    * in place. The position counters already stand after the tag, which is
    * where a syntax error in it is reported. */
  private def onOpenTag(start: Int, end: Int, selfClosing: Boolean): Unit = {
    if (closedRoot) fail("Markup after the root element")
    // Parse name.
    var i = start
    while (i < end && !buf.charAt(i).isWhitespace) i += 1
    if (i == start || !isNameStart(buf.charAt(start))) fail(s"Invalid tag name: ${buf.substring(start, i)}")
    val name = nameAt(start, i)

    // Parse attributes (document order preserved).
    tagSeq += 1
    if (overflowUsed) { overflowNames.clear(); overflowUsed = false }
    var n = 0
    while (i < end) {
      while (i < end && buf.charAt(i).isWhitespace) i += 1
      if (i < end) {
        val eq = buf.indexOf('=', i)
        if (eq < 0 || eq >= end) fail(s"Attribute without value in element ${name.qname}")
        // The name is buf[i, eq) trimmed as `String.trim` trims.
        var aStart = i
        var aEnd = eq
        while (aStart < aEnd && buf.charAt(aStart) <= ' ') aStart += 1
        while (aEnd > aStart && buf.charAt(aEnd - 1) <= ' ') aEnd -= 1
        if (aStart == aEnd) fail(s"Attribute without name in element ${name.qname}")
        var j = eq + 1
        while (j < end && buf.charAt(j).isWhitespace) j += 1
        if (j >= end || (buf.charAt(j) != '"' && buf.charAt(j) != '\''))
          fail(s"Unquoted attribute value in element ${name.qname}")
        val q = buf.charAt(j)
        val vEnd = buf.indexOf(q, j + 1)
        if (vEnd < 0 || vEnd >= end) fail(s"Unterminated attribute value in element ${name.qname}")
        val aname = nameAt(aStart, aEnd)
        if (aname.interned) {
          if (aname.stamp == tagSeq) fail(s"Duplicate attribute: ${aname.qname}")
          aname.stamp = tagSeq
        } else {
          if (overflowNames == null) overflowNames = new java.util.HashSet[String]()
          overflowUsed = true
          if (!overflowNames.add(aname.qname)) fail(s"Duplicate attribute: ${aname.qname}")
        }
        if (n == tag.attrNames.length) growAttrs()
        tag.attrNames(n) = aname
        tag.attrValues(n) = expandEntities(buf.substring(j + 1, vEnd), attr = true)
        n += 1
        i = vEnd + 1
      }
    }

    // Build the namespace scope for this element.
    var scope = scopes.peekLast
    var k = 0
    while (k < n) {
      val declared = tag.attrNames(k).xmlnsPrefix
      if (declared != null) scope = scope.updated(declared, tag.attrValues(k))
      k += 1
    }

    tag.name = name
    tag.uri =
      if (name.prefix.isEmpty) scope.getOrElse("", "")
      else namespace(scope, name.prefix)
    k = 0
    while (k < n) {
      val p = tag.attrNames(k).prefix
      // unprefixed attributes are in no namespace
      tag.attrUris(k) = if (p.isEmpty) "" else namespace(scope, p)
      k += 1
    }
    tag.attrCount = n

    scopes.addLast(scope)
    openNames.addLast(name)
    handler.openTag(tag)
    // The view keeps no attribute past its tag.
    k = 0
    while (k < n) { tag.attrNames(k) = null; tag.attrUris(k) = null; tag.attrValues(k) = null; k += 1 }
    if (selfClosing) popElement()
  }

  private def namespace(scope: Map[String, String], prefix: String): String = {
    val uri = scope.getOrElse(prefix, null)
    if (uri == null) fail(s"""unbound namespace prefix: "$prefix".""")
    uri
  }

  private def growAttrs(): Unit = {
    val size = tag.attrNames.length * 2
    tag.attrNames = java.util.Arrays.copyOf(tag.attrNames, size)
    tag.attrUris = java.util.Arrays.copyOf(tag.attrUris, size)
    tag.attrValues = java.util.Arrays.copyOf(tag.attrValues, size)
  }

  /** The close tag whose name, with any surrounding whitespace, is
    * `buf[start, end)`. */
  private def onCloseTag(start: Int, end: Int): Unit = {
    var s = start
    var e = end
    while (s < e && buf.charAt(s) <= ' ') s += 1
    while (e > s && buf.charAt(e - 1) <= ' ') e -= 1
    if (openNames.isEmpty) fail(s"Unexpected closing tag: ${buf.substring(s, e)}")
    val open = openNames.peekLast.qname
    if (open.length != e - s || !buf.regionMatches(s, open, 0, e - s))
      fail(s"Mismatched closing tag: ${buf.substring(s, e)} (expected $open)")
    popElement()
  }

  private def popElement(): Unit = {
    openNames.removeLast()
    scopes.removeLast()
    handler.closeTag()
    if (openNames.isEmpty) closedRoot = true
  }
}
