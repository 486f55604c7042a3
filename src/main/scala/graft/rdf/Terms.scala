package graft.rdf

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
    if (text == null) text = "_:" + label
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
    val esc = "\"" + Lit.escape(lexical) + "\""
    if (datatype != null) esc + "^^<" + datatype + ">"
    else if (language != null && direction != null) esc + "@" + language + "--" + direction
    else if (language != null) esc + "@" + language
    else esc
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
  * Reference: `lib/RdfXmlParser.ts:658-663`, `:857-873`, `:767-769`. */
final case class TripleTerm(t: Triple) extends Term {
  def ntriples: String =
    "<<( " + t.subj.ntriples + " " + t.pred.ntriples + " " + t.obj.ntriples + " )>>"
}

/** One emitted triple (the default graph is implicit — the reference only
  * ever emits into the default graph, `lib/RdfXmlParser.ts:761`). */
final case class Triple(subj: Term, pred: Term, obj: Term) {
  def ntriples: String = subj.ntriples + " " + pred.ntriples + " " + obj.ntriples + " ."
}

/** Canonical blank-node relabeling shared by every parse surface (pipeline
  * stage P4 and the DSv2 source): bnodes are renumbered `b0, b1, …` in order
  * of first appearance in the emitted stream — deterministic for a
  * deterministic document and independent of internal counter details — then
  * prefixed with the document's lineage ([[Relabeler.forTurn]] /
  * [[Relabeler.forPath]]), making labels globally unique across the corpus.
  * Recurses into RDF 1.2 triple terms. One instance per document.
  *
  * One implementation on purpose: the pipeline and the source each had a
  * private copy, and the two diverged once (the truncated-MD5-prefix
  * collision bug) before being re-unified here.
  */
final class Relabeler private (prefix: String) {
  private val seen = scala.collection.mutable.HashMap.empty[String, String]
  /** Returns `t` itself when it holds no blank node. */
  def apply(t: Term): Term = t match {
    case BNode(l) => BNode(seen.getOrElseUpdate(l, prefix + "b" + seen.size))
    case TripleTerm(tr) =>
      val r = apply(tr)
      if (r eq tr) t else TripleTerm(r)
    case other => other
  }

  /** Returns `t` itself when it holds no blank node. */
  def apply(t: Triple): Triple = {
    val s = apply(t.subj)
    val p = apply(t.pred)
    val o = apply(t.obj)
    if ((s eq t.subj) && (p eq t.pred) && (o eq t.obj)) t else Triple(s, p, o)
  }
}

object Relabeler {
  /** A transcript turn's labels: `{conv}_{turn}_bN`. */
  def forTurn(conv: String, turn: Int): Relabeler = new Relabeler(s"${conv}_${turn}_")

  /** A file's labels: `{md5(path)}_bN` with the FULL 128-bit path MD5 — a
    * truncated prefix is not collision-safe (32 bits birthday-collides at
    * ~65k files, silently merging unrelated blank nodes across documents). */
  def forPath(path: String): Relabeler = new Relabeler(
    java.security.MessageDigest.getInstance("MD5")
      .digest(path.getBytes("UTF-8")).map("%02x".format(_)).mkString + "_")
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
