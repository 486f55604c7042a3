package graft.rdf

/** How a parsed document becomes rows: the one column layout every parse
  * surface carries after its own lineage columns
  * ([[graft.pipeline.TripleRow]] after `conv_id`/`turn_idx`, the `rdfxml`
  * source after `path`). The columns are [[Names]], in that order:
  *
  *  - `subj`/`pred`/`obj`: canonical N-Triples text ([[Term.ntriples]]);
  *  - `obj_type`: [[IriType]], [[BNodeType]], [[LiteralType]],
  *    [[TripleType]] (an RDF 1.2 triple term) or [[ErrorType]];
  *  - `lexical`/`datatype`/`lang`: a literal object's fields, null for any
  *    other object (an RDF 1.2 direction stays visible only in `obj`);
  *  - `error`: the per-document error channel. A document that fails to
  *    parse becomes one row holding only `obj_type = "error"` and the
  *    message, never a task failure (reference semantics R28,
  *    `lib/ParseError.ts:7-12`).
  */
object TripleColumns {
  val Names: IndexedSeq[String] =
    Vector("subj", "pred", "obj", "obj_type", "lexical", "datatype", "lang", "error")

  val IriType = "iri"
  val BNodeType = "bnode"
  val LiteralType = "literal"
  val TripleType = "triple"
  val ErrorType = "error"

  /** The rows of one parsed document, each aligned with [[Names]]: its
    * triples with blank nodes relabeled by `relabel`, or the one error row. */
  def rows(parsed: Either[ParseError, Vector[Triple]], relabel: Relabeler): Iterator[Array[String]] =
    parsed match {
      case Left(e) => Iterator.single(Array(null, null, null, ErrorType, null, null, null, e.message))
      case Right(ts) => ts.iterator.map(t => values(relabel(t)))
    }

  private def values(t: Triple): Array[String] = t.obj match {
    case Lit(l, d, la, _) => row(t, LiteralType, l, d, la)
    case Iri(_)           => row(t, IriType, null, null, null)
    case BNode(_)         => row(t, BNodeType, null, null, null)
    case TripleTerm(_)    => row(t, TripleType, null, null, null)
  }

  private def row(t: Triple, objType: String, lexical: String, datatype: String, lang: String): Array[String] =
    Array(t.subj.ntriples, t.pred.ntriples, t.obj.ntriples, objType, lexical, datatype, lang, null)
}
