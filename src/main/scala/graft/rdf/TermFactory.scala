package graft.rdf

/** Pluggable term construction — the reference's `dataFactory` option
  * (`lib/RdfXmlParser.ts:85-93`): every term the consumer observes is built
  * by the supplied factory, including the components of nested RDF 1.2
  * triple terms.
  *
  * Placement differs from the reference deliberately: the hot kernel keeps
  * its monomorphic [[Term]] ADT (inside Spark the durable output is Catalyst
  * rows, not factory objects, and a polymorphic factory call per term would
  * megamorph the emit path), so the factory is applied at the emit boundary —
  * each pushed triple is converted just before the consumer sees it. The
  * observable contract matches the reference: consumers receive only
  * factory-built terms, and blank-node labels are caller-controlled via
  * [[ParserOptions.blankNodeLabel]], which the parser calls once per blank
  * node it creates (the reference's `dataFactory.blankNode(label?)`,
  * `lib/RdfXmlParser.ts:409-419`).
  */
trait TermFactory[N] {
  def namedNode(iri: String): N
  def blankNode(label: String): N

  /** Literal construction follows the reference's rules
    * (`lib/RdfXmlParser.ts:199-210`): an explicit datatype wins over
    * language, and `direction` is only ever non-empty under an in-scope
    * rdf:version 1.2 with a language present. */
  def literal(lexical: String, datatype: Option[String], language: Option[String],
      direction: Option[String]): N

  /** RDF 1.2 triple term in the object position
    * (`lib/RdfXmlParser.ts:857-873`); may nest arbitrarily. */
  def tripleTerm(subj: N, pred: N, obj: N): N
}

object TermFactory {

  /** Convert one kernel term through a factory. Triple terms nest only in
    * the object position, so one walk down the object chain converts each
    * level's subject and predicate, then the innermost object, and folds
    * back up through `tripleTerm`: a deep nest does not recurse per level,
    * and the factory sees its calls in the order a recursive walk makes. */
  def convert[N](t: Term, f: TermFactory[N]): N = {
    def up(obj: N, levels: List[(N, N)]): N =
      levels.foldLeft(obj) { case (o, (s, p)) => f.tripleTerm(s, p, o) }
    @annotation.tailrec
    def down(o: Term, levels: List[(N, N)]): N = o match { // levels: innermost first
      case TripleTerm(q) => down(q.obj, (convert(q.subj, f), convert(q.pred, f)) :: levels)
      case Iri(i)        => up(f.namedNode(i), levels)
      case BNode(l)      => up(f.blankNode(l), levels)
      case l: Lit        => up(f.literal(l.lexical, Option(l.datatype), Option(l.language), Option(l.direction)), levels)
    }
    down(t, Nil)
  }

  /** Identity factory: rebuilds the kernel ADT itself (so
    * `parseWith(doc, Adt) == parse(doc)` term-for-term). */
  object Adt extends TermFactory[Term] {
    def namedNode(iri: String): Term = Iri(iri)
    def blankNode(label: String): Term = BNode(label)
    def literal(lexical: String, datatype: Option[String], language: Option[String],
        direction: Option[String]): Term =
      Lit(lexical, datatype.orNull, language.orNull, direction.orNull)
    def tripleTerm(subj: Term, pred: Term, obj: Term): Term =
      TripleTerm(Triple(subj, pred, obj))
  }
}
