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
  *    parse ends in one row holding only `obj_type = "error"` and the
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

  /** Column `i` of [[Names]] for triple `t`. */
  def value(t: Triple, i: Int): String = i match {
    case 0 => t.subj.ntriples
    case 1 => t.pred.ntriples
    case 2 => t.obj.ntriples
    case 3 => t.obj match {
      case _: Lit        => LiteralType
      case _: Iri        => IriType
      case _: BNode      => BNodeType
      case _: TripleTerm => TripleType
    }
    case 4 => t.obj match { case l: Lit => l.lexical; case _ => null }
    case 5 => t.obj match { case l: Lit => l.datatype; case _ => null }
    case 6 => t.obj match { case l: Lit => l.language; case _ => null }
    case _ => null
  }

  /** One document's rows, produced while it is parsed: feed its text with
    * [[write]] (whole, or in chunks) and [[end]], and take the rows ready so
    * far with [[next]] and [[value]] between writes. Only the triples pushed
    * since the last drain are held.
    *
    * A document that fails partway keeps the triples the parser pushed
    * before the failing event, in push order, followed by exactly one error
    * row; the reference behaves the same (`lib/RdfXmlParser.ts:765`), and a
    * streaming surface could not take those triples back anyway. Input after
    * the failure is ignored. Blank nodes carry the labels
    * `opts.blankNodeLabel` gives them.
    */
  final class Document(opts: ParserOptions) {
    private val pending = new java.util.ArrayDeque[Triple]()
    private val parser = RdfXmlParser.streaming(opts)(pending.addLast)
    private var error: String = null
    private var errorTaken = false
    private var current: Triple = _

    /** True once the document has failed: later input cannot add rows. */
    def failed: Boolean = error != null

    def write(chunk: String): Unit = if (!failed) guarded(parser.write(chunk))
    def end(): Unit = if (!failed) guarded(parser.end())

    private def guarded(step: => Unit): Unit =
      try step catch RdfXmlParser.AsParseError.andThen(e => error = e.message)

    /** Moves to the next ready row; false when none is ready yet. */
    def next(): Boolean = {
      current = pending.pollFirst()
      if (current != null) true
      else if (failed && !errorTaken) { errorTaken = true; true }
      else false
    }

    /** Column `i` of [[Names]] for the current row. */
    def value(i: Int): String =
      if (current != null) TripleColumns.value(current, i)
      else if (i == 3) ErrorType // the error row's obj_type
      else if (i == 7) error // the error row's message
      else null
  }
}
