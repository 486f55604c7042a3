package graft.rdf

import scala.annotation.tailrec
import scala.util.hashing.MurmurHash3

/** RDF term model, re-expressing the reference's RDFJS terms as a Scala ADT.
  *
  * Reference semantics: `lib/RdfXmlParser.ts:85-93` (data factory),
  * `:173-180` (NamedNode), `:409-419` (BlankNode), `:199-210` (Literal,
  * where an explicit datatype wins over language, and direction is only
  * attached under an in-scope rdf:version), `:857-873` (quoted triples /
  * RDF 1.2 triple terms, which may nest arbitrarily in the object position).
  *
  * Terms serialize to canonical N-Triples-style text via [[Term.ntriples]];
  * that canonical text is what the Spark pipeline carries in its columns
  * (Catalyst `StructType` cannot recurse, so nested triple terms live in
  * string form once they leave the pure kernel).
  */
sealed trait Term {
  /** Canonical N-Triples-style serialization. */
  def ntriples: String
}

final case class Iri(iri: String) extends Term {
  // Built once per term: a subject is serialized again for every triple
  // that shares it. A racy first build only repeats the same work.
  private[this] var text: String = _
  def ntriples: String = {
    if (text == null) text = "<" + iri + ">"
    text
  }
}

final case class BNode(label: String) extends Term {
  private[this] var text: String = _ // as in Iri
  def ntriples: String = {
    if (text == null) text = "_:".concat(label)
    text
  }
}

/** A literal. `datatype == null` means plain (implicitly xsd:string);
  * `language` may carry `direction` (RDF 1.2 directional literals).
  */
final case class Lit(
    lexical: String,
    datatype: String = null,
    language: String = null,
    direction: String = null,
) extends Term {
  def ntriples: String = {
    // One concatenation per case, which the JIT builds in a single buffer.
    val esc = Lit.escape(lexical)
    if (datatype != null) "\"" + esc + "\"^^<" + datatype + ">"
    else if (language != null && direction != null) "\"" + esc + "\"@" + language + "--" + direction
    else if (language != null) "\"" + esc + "\"@" + language
    else "\"" + esc + "\""
  }
}

object Lit {
  def escape(s: String): String = {
    var i = 0
    while (i < s.length && !needsEscape(s.charAt(i))) i += 1
    if (i == s.length) return s // the common case: no copy
    val sb = new java.lang.StringBuilder(s.length + 8).append(s, 0, i)
    while (i < s.length) {
      s.charAt(i) match {
        case '\\' => sb.append("\\\\")
        case '"'  => sb.append("\\\"")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case c    => sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  private def needsEscape(c: Char): Boolean =
    c == '\\' || c == '"' || c == '\n' || c == '\r' || c == '\t'
}

/** RDF 1.2 triple term (quoted triple) in the object position.
  * Reference: `lib/RdfXmlParser.ts:658-663`, `:857-873`, `:767-769`.
  * `equals`, `hashCode` and `toString` go through [[Triple]]'s, which walk
  * the nest in a loop. */
final case class TripleTerm(t: Triple) extends Term {
  override def equals(o: Any): Boolean = o match {
    case that: TripleTerm => t == that.t
    case _                => false
  }
  override def hashCode: Int = MurmurHash3.mix(Triple.TripleTermSeed, t.##)
  override def toString: String = "TripleTerm(" + t + ")"

  /** One walk down the object chain, the only position a triple term nests
    * in, so a deep nest neither recurses nor copies inner text per level. */
  def ntriples: String = {
    val sb = new java.lang.StringBuilder
    var depth = 0
    var o: Term = this
    while (o.isInstanceOf[TripleTerm]) {
      val inner = o.asInstanceOf[TripleTerm].t
      sb.append("<<( ").append(inner.subj.ntriples).append(' ').append(inner.pred.ntriples).append(' ')
      depth += 1
      o = inner.obj
    }
    sb.append(o.ntriples)
    while (depth > 0) { sb.append(" )>>"); depth -= 1 }
    sb.toString
  }
}

/** One emitted triple (the default graph is implicit — the reference only
  * ever emits into the default graph, `lib/RdfXmlParser.ts:761`).
  *
  * `equals`, `hashCode` and `toString` walk the object chain, the only
  * position a triple term nests in, in a loop, as [[TripleTerm.ntriples]]
  * does: the generated ones recursed once per level and overflowed the stack
  * on a deep nest. They agree with the generated ones on what is equal and
  * on the text. */
final case class Triple(subj: Term, pred: Term, obj: Term) {
  def ntriples: String = subj.ntriples + " " + pred.ntriples + " " + obj.ntriples + " ."

  override def equals(o: Any): Boolean = o match {
    case that: Triple => Triple.sameChain(this, that)
    case _            => false
  }

  override def hashCode: Int = {
    var h = Triple.TripleSeed
    var n = 0
    var t = this
    while (t != null) {
      h = MurmurHash3.mix(MurmurHash3.mix(h, t.subj.##), t.pred.##)
      n += 1
      t.obj match {
        case tt: TripleTerm => h = MurmurHash3.mix(h, Triple.TripleTermSeed); t = tt.t
        case leaf           => h = MurmurHash3.mixLast(h, leaf.##); t = null
      }
    }
    MurmurHash3.finalizeHash(h, 3 * n)
  }

  override def toString: String = {
    val sb = new java.lang.StringBuilder
    var depth = 0
    var t = this
    while (t != null) {
      sb.append("Triple(").append(t.subj).append(',').append(t.pred).append(',')
      t.obj match {
        case tt: TripleTerm => sb.append("TripleTerm("); depth += 1; t = tt.t
        case leaf           => sb.append(leaf).append(')'); t = null
      }
    }
    while (depth > 0) { sb.append("))"); depth -= 1 }
    sb.toString
  }
}

object Triple {
  private[rdf] val TripleSeed = "Triple".hashCode
  private[rdf] val TripleTermSeed = "TripleTerm".hashCode

  @tailrec private def sameChain(a: Triple, b: Triple): Boolean =
    (a eq b) || (a.subj == b.subj && a.pred == b.pred && (a.obj match {
      case ao: TripleTerm => b.obj match {
        case bo: TripleTerm => sameChain(ao.t, bo.t)
        case _              => false
      }
      case ao => ao == b.obj
    }))
}

/** The blank-node labels of the row surfaces (pipeline stage P4 and the
  * DSv2 source), handed to the parser as [[ParserOptions.blankNodeLabel]]:
  * each node is named once, where the parser creates it, as
  * `{prefix}{escape(raw)}`. `raw` is the parser's counter digits for a fresh
  * node or the `rdf:nodeID` / `rdf:annotationNodeID` value. The label is a
  * pure function of (document, raw label), so no per-document map grows and
  * no emitted triple is walked again.
  *
  * Fresh labels start with a digit and escaped `rdf:nodeID` values
  * (NCNames) with a letter or `-`, so the two never name the same node.
  * [[escape]] never emits `_`, so the last `_` ends the document's prefix
  * and labels stay unique across documents; its output holds only
  * N-Triples label characters and never ends in `.`.
  */
object BlankNodeLabels {
  /** A transcript turn's labels: `{conv}_{turn}_{escape(raw)}`. */
  def forTurn(conv: String, turn: Int): String => String = prefixed(s"${conv}_${turn}_")

  /** A file's labels: `{md5(path)}_{escape(raw)}` with the FULL 128-bit path
    * MD5 — a truncated prefix is not collision-safe (32 bits
    * birthday-collides at ~65k files, silently merging unrelated blank nodes
    * across documents). */
  def forPath(path: String): String => String = prefixed(
    java.security.MessageDigest.getInstance("MD5")
      .digest(path.getBytes("UTF-8")).map("%02x".format(_)).mkString + "_")

  private def prefixed(prefix: String): String => String = raw => prefix.concat(escape(raw))

  /** Keeps ASCII letters and digits; writes every other UTF-16 unit as `-`
    * and four lowercase hex digits. */
  def escape(raw: String): String = {
    var i = 0
    while (i < raw.length && isKept(raw.charAt(i))) i += 1
    if (i == raw.length) return raw // the common case: no copy
    val sb = new java.lang.StringBuilder(raw.length + 16).append(raw, 0, i)
    while (i < raw.length) {
      val c = raw.charAt(i)
      if (isKept(c)) sb.append(c)
      else {
        sb.append('-')
        var shift = 12
        while (shift >= 0) { sb.append(Character.forDigit((c >> shift) & 0xf, 16)); shift -= 4 }
      }
      i += 1
    }
    sb.toString
  }

  private def isKept(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9')
}

object RdfVocab {
  val RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
  val XML = "http://www.w3.org/XML/1998/namespace"
  val XMLNS = "http://www.w3.org/2000/xmlns/"
  val ITS = "http://www.w3.org/2005/11/its"
  val XSD = "http://www.w3.org/2001/XMLSchema#"
  val XsdString = XSD + "string"
  val LangString = RDF + "langString"
  val DirLangString = RDF + "dirLangString"
}
