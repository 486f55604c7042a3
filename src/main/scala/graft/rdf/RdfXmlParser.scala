package graft.rdf

import scala.collection.mutable

/** Parser configuration, mirroring `IRdfXmlParserArgs`
  * (`lib/RdfXmlParser.ts:950-990`). */
final case class ParserOptions(
    baseIRI: String = "",
    allowDuplicateRdfIds: Boolean = false,
    validateUri: Boolean = true,
    iriValidation: IriValidation = null, // defaults from validateUri like :94-99
    parseUnsupportedVersions: Boolean = false,
    version: Option[String] = None,
    trackPosition: Boolean = false,
    // Graph stamped on every emitted quad (`lib/RdfXmlParser.ts:90-93`,
    // `:761`; behavior pinned at test:1189-1201). "" = the default graph.
    // Constant per parse, so the Spark side attaches it as a literal column
    // (ParseStage.parseQuads) instead of widening every kernel Triple.
    defaultGraph: String = "",
    // Blank-node naming, the factory-controlled part of the reference's
    // `dataFactory.blankNode(label?)` (`lib/RdfXmlParser.ts:409-419`):
    // called once each time the parser creates a blank node, with the raw
    // label, which is a per-document counter's digits ("0", "1", …) for an
    // anonymous node or the `rdf:nodeID` / `rdf:annotationNodeID` value.
    // null = raw labels. `rdf:nodeID` values are NCNames, which never start
    // with a digit, so raw fresh and nodeID labels cannot name the same
    // node; a hook must keep the two apart too (BlankNodeLabels does).
    blankNodeLabel: String => String = null,
) {
  def effectiveIriValidation: IriValidation =
    if (iriValidation != null) iriValidation
    else if (validateUri) IriValidation.Pragmatic
    else IriValidation.None
}

/** IRI validation strategy — the reference's `iriValidationStrategy`
  * option (`lib/RdfXmlParser.ts:978-981`, validate-iri's Strict / Pragmatic
  * / None), plus a user-supplied hook: `Custom` receives each IRI and
  * returns `Some(errorMessage)` to reject it. */
sealed trait IriValidation
object IriValidation {
  case object Strict extends IriValidation
  case object Pragmatic extends IriValidation
  case object None extends IriValidation
  final case class Custom(validate: String => Option[String]) extends IriValidation
}

/** A grammar/IRI violation. `message` already carries the
  * `Line L column C: ` prefix when position tracking is on
  * (`lib/ParseError.ts:7-12`). */
final case class ParseError(message: String)

private[rdf] final class ParseException(val rawMessage: String, val positioned: Boolean)
    extends RuntimeException(rawMessage)

private[rdf] object ParseMode {
  final val Resource = 0
  final val Property = 1
}

/** Per-XML-element state frame; direct analogue of `IActiveTag`
  * (`lib/RdfXmlParser.ts:992-1019`). One automaton instance exists per
  * document — inside Spark this is a short-lived object per row in a
  * `mapPartitions`, never a Spark datatype. */
private[rdf] final class ActiveTag {
  var subject: Term = _ // Iri | BNode
  var predicate: Iri = _
  var predicateEmitted = false
  var predicateSubPredicates: mutable.ArrayBuffer[Iri] = _
  var predicateSubObjects: mutable.ArrayBuffer[Term] = _
  var hadChildren = false
  var text: String = _
  var language: String = _
  var direction: String = _
  var datatype: Iri = _
  var childrenParseType: Int = ParseMode.Resource
  var baseIRI: String = _
  var listItemCounter: Int = 0
  var reifiedStatementId: Iri = _
  var childrenTagsToString = false
  var childrenStringTags: mutable.ArrayBuffer[String] = _
  var childrenStringEmitClosingTag: String = _
  var childrenCollectionSubject: Term = _
  var childrenCollectionPredicate: Iri = _
  var childrenTagsToTripleTerms = false
  var childrenTripleTerms: mutable.ArrayBuffer[Triple] = _
  var reifier: Term = _ // Iri | BNode
  var rdfVersion: String = _
  var namespaces: mutable.ArrayBuffer[(String, String)] = _
}

/** Validated IRIs keyed by the two strings they were made from, at most
  * [[RdfXmlParser.MaxCachedIris]] of them: past that, lookups of new pairs
  * miss and the caller builds the IRI again. The caller stores no IRI longer
  * than [[RdfXmlParser.MaxCachedIriChars]], so the table's size is bounded
  * whatever the document. */
private[rdf] final class IriTable {
  private val byFirst = new java.util.HashMap[String, java.util.HashMap[String, Iri]]()
  private var size = 0

  /** The IRI stored for (`a`, `b`), or null. */
  def get(a: String, b: String): Iri = {
    val inner = byFirst.get(a)
    if (inner == null) null else inner.get(b)
  }

  def put(a: String, b: String, iri: Iri): Unit =
    if (size < RdfXmlParser.MaxCachedIris) {
      var inner = byFirst.get(a)
      if (inner == null) { inner = new java.util.HashMap[String, Iri](); byFirst.put(a, inner) }
      inner.put(b, iri)
      size += 1
    }
}

/** Streaming RDF/XML → triples automaton. A from-scratch Scala
  * re-expression of the reference's event-driven state machine
  * (`lib/RdfXmlParser.ts`), preserving its observable semantics:
  * single-pass, O(stack-depth) memory, incremental emission (a triple is
  * pushed the moment the closing of a construct determines it), identical
  * error taxonomy, and identical quirks (deferred dangling-property
  * buffering `:690-740`, parseType=Triple buffers swallowing suppressed
  * emissions `:857-873`, attribute-order-dependent literal language on
  * property elements `:702`).
  */
final class RdfXmlParser(opts: ParserOptions, push: Triple => Unit) {
  import RdfVocab._

  val tokenizer = new XmlTokenizer(new XmlHandler {
    def openTag(tag: OpenTag): Unit = onTag(tag)
    def text(text: String): Unit = onText(text)
    def closeTag(): Unit = onCloseTag()
  })

  private val iriValidation = opts.effectiveIriValidation
  /** One validated [[Iri]] per distinct (namespace, local name) of an
    * element or property attribute, and per distinct (base, value) of an
    * `rdf:datatype`: a repeated one is then neither concatenated, validated
    * nor allocated again, and its `ntriples` text is built once. Used only
    * under the built-in validation strategies, so a `Custom` hook still sees
    * every IRI. */
  private val cachesIris = !iriValidation.isInstanceOf[IriValidation.Custom]
  private val nameIris = new IriTable
  private val datatypeIris = new IriTable

  private var mediaTypeVersionToCheck: Option[String] = opts.version
  private var bnodeCounter = 0
  private val nodeIds = mutable.HashSet.empty[String]
  private val stack = mutable.ArrayBuffer.empty[ActiveTag]

  private val ForbiddenNodeElements = RdfXmlParser.ForbiddenNodeElements
  private val ForbiddenPropertyElements = RdfXmlParser.ForbiddenPropertyElements

  // ---------------------------------------------------------------- plumbing

  /** Feed a chunk of the document; mirrors `_transform`
    * (`lib/RdfXmlParser.ts:122-141`) incl. the one-shot media-type version
    * check. */
  def write(chunk: String): Unit = {
    mediaTypeVersionToCheck match {
      case Some(v) =>
        mediaTypeVersionToCheck = None
        if (!isValidVersion(v))
          throw parseError(s"Detected unsupported version as media type parameter: $v")
      case scala.None =>
    }
    tokenizer.write(chunk)
  }

  def end(): Unit = tokenizer.end()

  private def parseError(message: String): ParseException =
    new ParseException(
      if (opts.trackPosition) s"Line ${tokenizer.line} column ${tokenizer.column + 1}: $message"
      else message,
      positioned = true,
    )

  private def isValidVersion(version: String): Boolean =
    opts.parseUnsupportedVersions || RdfXmlParser.SupportedVersions.contains(version)

  /** A per-element list of property attributes or buffered sub-properties,
    * made when its first entry is added (most elements have none): nearly always
    * short, so it starts at two slots, not 16. */
  private def attrBuffer[A]: mutable.ArrayBuffer[A] = new mutable.ArrayBuffer[A](2)

  private def freshBNode(): BNode = {
    val node = bnode(bnodeCounter.toString)
    bnodeCounter += 1
    node
  }

  /** Every blank node the parser creates is named here, once. */
  private def bnode(raw: String): BNode =
    BNode(if (opts.blankNodeLabel ne null) opts.blankNodeLabel(raw) else raw)

  /** `valueToUri` (`lib/RdfXmlParser.ts:161-163`). */
  private def valueToUri(value: String, tag: ActiveTag): Iri =
    uriToNamedNode(IriResolver.resolve(value, tag.baseIRI))

  /** Whether an IRI made of `a` and `b` may go into an [[IriTable]]. */
  private def cacheable(a: String, b: String): Boolean =
    cachesIris && (if (a == null) 0 else a.length) + b.length <= RdfXmlParser.MaxCachedIriChars

  /** The IRI `namespace + local` of an element or attribute name. */
  private def nameIri(namespace: String, local: String): Iri =
    if (!cacheable(namespace, local)) uriToNamedNode(namespace + local)
    else {
      var iri = nameIris.get(namespace, local)
      if (iri == null) {
        iri = uriToNamedNode(namespace + local)
        nameIris.put(namespace, local, iri)
      }
      iri
    }

  /** `valueToUri` of an `rdf:datatype` value. */
  private def datatypeIri(value: String, tag: ActiveTag): Iri =
    if (!cacheable(tag.baseIRI, value)) valueToUri(value, tag)
    else {
      var iri = datatypeIris.get(tag.baseIRI, value)
      if (iri == null) {
        iri = valueToUri(value, tag)
        datatypeIris.put(tag.baseIRI, value, iri)
      }
      iri
    }

  /** `uriToNamedNode` with pragmatic validation (`:173-180`). */
  private def uriToNamedNode(uri: String): Iri = {
    iriValidation match {
      case IriValidation.Pragmatic =>
        if (!IriValidator.pragmaticValid(uri))
          throw parseError(s"Invalid IRI according to RDF Turtle: '$uri'")
      case IriValidation.Strict =>
        if (!IriValidator.strictValid(uri))
          throw parseError(s"Invalid IRI according to RFC 3987: '$uri'")
      case IriValidation.Custom(f) =>
        f(uri).foreach(m => throw parseError(m))
      case IriValidation.None =>
    }
    Iri(uri)
  }

  private def validateNcname(value: String): Unit =
    if (!IriValidator.isNcName(value)) throw parseError(s"Not a valid NCName: $value")

  /** `createLiteral` (`:199-210`): datatype wins over language; direction
    * only under an in-scope rdf:version. */
  private def createLiteral(value: String, tag: ActiveTag): Lit =
    if (tag.datatype != null) Lit(value, tag.datatype.iri)
    else if (tag.language != null)
      Lit(value, null, tag.language, if (tag.rdfVersion != null) tag.direction else null)
    else Lit(value)

  private def setDirection(tag: ActiveTag, value: String): Unit = {
    if (value != null && value.nonEmpty) {
      if (value != "ltr" && value != "rtl")
        throw parseError(s"Base directions must either be 'ltr' or 'rtl', while '$value' was found.")
      tag.direction = value
    } else tag.direction = null
  }

  private def setVersion(tag: ActiveTag, version: String): Unit = {
    tag.rdfVersion = version
    if (!isValidVersion(version)) throw parseError(s"Detected unsupported version: $version")
  }

  /** Duplicate rdf:ID registry (`claimNodeId`, `:807-814`). */
  private def claimNodeId(term: Term): Unit = {
    if (!opts.allowDuplicateRdfIds) {
      val v = term match { case Iri(i) => i; case BNode(b) => b; case other => other.ntriples }
      if (nodeIds.contains(v))
        throw parseError(s"Found multiple occurrences of rdf:ID='$v'.")
      nodeIds += v
    }
  }

  // ---------------------------------------------------------------- emission

  /** `emitTriple` (`:753-798`): suppressible into a triple-term buffer, with
    * reifier / reification fan-out always going to the real output. */
  private def emitTriple(
      subject: Term,
      predicate: Iri,
      obj: Term,
      statementId: Iri,
      childrenTripleTerms: mutable.ArrayBuffer[Triple],
      reifier: Term,
  ): Unit = {
    val t = Triple(subject, predicate, obj)
    if (childrenTripleTerms != null) childrenTripleTerms += t
    else push(t)
    if (reifier != null)
      push(Triple(reifier, RdfXmlParser.IriReifies, TripleTerm(t)))
    if (statementId != null) {
      push(Triple(statementId, RdfXmlParser.IriType, RdfXmlParser.IriStatement))
      push(Triple(statementId, RdfXmlParser.IriSubject, subject))
      push(Triple(statementId, RdfXmlParser.IriPredicate, predicate))
      push(Triple(statementId, RdfXmlParser.IriObject, obj))
    }
  }

  // ------------------------------------------------------------------ events

  /** `onTag` (`:233-300`). */
  private def onTag(tag: OpenTag): Unit = {
    val parentTag: ActiveTag = if (stack.nonEmpty) stack.last else null
    var currentParseType = ParseMode.Resource
    if (parentTag != null) {
      parentTag.hadChildren = true
      currentParseType = parentTag.childrenParseType
    }

    // parseType=Literal string-capture mode (`:245-266`).
    if (parentTag != null && parentTag.childrenStringTags != null) {
      val sb = new StringBuilder
      sb.append('<').append(tag.name.qname)
      if (parentTag.namespaces != null)
        parentTag.namespaces.foreach { case (k, v) => sb.append(' ').append(k).append("=\"").append(v).append('"') }
      var i = 0
      while (i < tag.attrCount) {
        sb.append(' ').append(tag.attrNames(i).qname).append("=\"").append(tag.attrValues(i)).append('"')
        i += 1
      }
      sb.append('>')
      parentTag.childrenStringTags += sb.toString

      val stringTag = new ActiveTag
      stringTag.childrenStringTags = parentTag.childrenStringTags
      stringTag.childrenStringEmitClosingTag = s"</${tag.name.qname}>"
      stack += stringTag
      return
    }

    val activeTag = new ActiveTag
    if (parentTag != null) {
      activeTag.language = parentTag.language
      activeTag.direction = parentTag.direction
      activeTag.baseIRI = parentTag.baseIRI
      activeTag.childrenTripleTerms = parentTag.childrenTripleTerms
      activeTag.rdfVersion = parentTag.rdfVersion
    } else {
      activeTag.baseIRI = opts.baseIRI
    }
    stack += activeTag

    if (currentParseType == ParseMode.Resource)
      onTagResource(tag, activeTag, parentTag, rootTag = parentTag == null)
    else
      onTagProperty(tag, activeTag, parentTag)

    // Capture xmlns declarations for potential XMLLiteral serialization
    // (`:288-299`). Default xmlns follows the saxes key convention `xmlns:`.
    var i = 0
    while (i < tag.attrCount) {
      val name = tag.attrNames(i)
      if (name.xmlnsPrefix != null) {
        if (activeTag.namespaces == null) activeTag.namespaces = mutable.ArrayBuffer.empty
        activeTag.namespaces += ((if (name.qname == "xmlns") "xmlns:" else name.qname, tag.attrValues(i)))
      }
      i += 1
    }
    // Own declarations first, then the parent's. An element that declares
    // none shares its parent's list: no list is changed after its own tag.
    if (parentTag != null && parentTag.namespaces != null) {
      if (activeTag.namespaces == null) activeTag.namespaces = parentTag.namespaces
      else activeTag.namespaces ++= parentTag.namespaces
    }
  }

  /** `onTagResource` (`:309-523`): node elements. */
  private def onTagResource(tag: OpenTag, activeTag: ActiveTag, parentTag: ActiveTag, rootTag: Boolean): Unit = {
    activeTag.childrenParseType = ParseMode.Property
    var typedNode = true
    if (tag.uri == RDF) {
      if (!rootTag && ForbiddenNodeElements.contains(tag.name.local))
        throw parseError(s"Illegal node element name: ${tag.name.local}")
      tag.name.local match {
        case "RDF" =>
          activeTag.childrenParseType = ParseMode.Resource
          typedNode = false
        case "Description" =>
          typedNode = false
        case _ =>
      }
    }

    var predicates: mutable.ArrayBuffer[Iri] = null
    var objects: mutable.ArrayBuffer[String] = null

    // Collect attributes first; subject is assigned only after all
    // attributes are seen because xml:base may still change (`:332-420`).
    var activeSubjectValue: String = null
    var claimSubjectNodeId = false
    var subjectValueBlank = false
    var explicitType: String = null

    // An indexed loop, not foreach: the flags below are then plain locals
    // rather than heap-boxed captures of a closure, on the hottest path.
    var next = 0
    while (next < tag.attrCount) {
      val name = tag.attrNames(next)
      val uri = tag.attrUris(next)
      val local = name.local
      val value = tag.attrValues(next)
      next += 1
      var handled = true
      if (uri == RDF && local == "version") {
        setVersion(activeTag, value)
      } else if (parentTag != null && uri == RDF) {
        local match {
          case "about" =>
            if (activeSubjectValue != null)
              throw parseError(s"Only one of rdf:about, rdf:nodeID and rdf:ID can be present, " +
                s"while $value and $activeSubjectValue where found.")
            activeSubjectValue = value
          case "ID" =>
            if (activeSubjectValue != null)
              throw parseError(s"Only one of rdf:about, rdf:nodeID and rdf:ID can be present, " +
                s"while $value and $activeSubjectValue where found.")
            validateNcname(value)
            activeSubjectValue = "#" + value
            claimSubjectNodeId = true
          case "nodeID" =>
            if (activeSubjectValue != null)
              throw parseError(s"Only one of rdf:about, rdf:nodeID and rdf:ID can be present, " +
                s"while $value and $activeSubjectValue where found.")
            validateNcname(value)
            activeSubjectValue = value
            subjectValueBlank = true
          case "bagID" => throw parseError("rdf:bagID is not supported.")
          case "type" => explicitType = value
          case "aboutEach" => throw parseError("rdf:aboutEach is not supported.")
          case "aboutEachPrefix" => throw parseError("rdf:aboutEachPrefix is not supported.")
          case "li" => throw parseError("rdf:li on node elements are not supported.")
          case _ => handled = false
        }
      } else if (uri == XML && local == "lang") {
        activeTag.language = if (value.isEmpty) null else value.toLowerCase
      } else if (uri == XML && local == "base") {
        // xml:base resolves against the parent's base (`:387-391`).
        activeTag.baseIRI = IriResolver.resolve(value, activeTag.baseIRI)
      } else if (uri == ITS && local == "dir") {
        setDirection(activeTag, value)
      } else handled = false

      if (!handled) {
        // Property attribute — but only namespaced, non-xml(ns) ones (`:397-404`).
        if (name.prefix != "xml" && name.prefix != "xmlns" &&
            !(name.prefix == "" && local == "xmlns") &&
            uri.nonEmpty) {
          if (predicates == null) { predicates = attrBuffer; objects = attrBuffer }
          predicates += nameIri(uri, local)
          objects += value
        }
      }
    }

    if (activeSubjectValue != null) {
      activeTag.subject =
        if (subjectValueBlank) bnode(activeSubjectValue)
        else valueToUri(activeSubjectValue, activeTag)
      if (claimSubjectNodeId) claimNodeId(activeTag.subject)
    }
    if (activeTag.subject == null) activeTag.subject = freshBNode()

    if (typedNode) {
      val tpe = nameIri(tag.uri, tag.name.local)
      emitTriple(activeTag.subject, RdfXmlParser.IriType, tpe,
        if (parentTag != null) parentTag.reifiedStatementId else null,
        activeTag.childrenTripleTerms, activeTag.reifier)
    }

    if (parentTag != null) {
      if (parentTag.predicate != null) {
        if (parentTag.childrenCollectionSubject != null) {
          // rdf:List chaining (`:438-465`).
          val linkTerm = freshBNode()
          val restTerm = RdfXmlParser.IriRest
          val isRestTerm = parentTag.childrenCollectionPredicate == restTerm
          emitTriple(parentTag.childrenCollectionSubject, parentTag.childrenCollectionPredicate,
            linkTerm,
            if (isRestTerm) null else parentTag.reifiedStatementId,
            parentTag.childrenTripleTerms,
            if (isRestTerm) null else parentTag.reifier)
          emitTriple(linkTerm, RdfXmlParser.IriFirst, activeTag.subject, null,
            activeTag.childrenTripleTerms, null)
          parentTag.childrenCollectionSubject = linkTerm
          parentTag.childrenCollectionPredicate = restTerm
        } else {
          // Set-based properties (`:466-496`).
          if (!parentTag.childrenTagsToTripleTerms) {
            emitTriple(parentTag.subject, parentTag.predicate, activeTag.subject,
              parentTag.reifiedStatementId, parentTag.childrenTripleTerms, parentTag.reifier)
            parentTag.predicateEmitted = true
          }
          // Attach buffered dangling property-attributes to this child subject.
          if (parentTag.predicateSubPredicates != null) {
            var i = 0
            while (i < parentTag.predicateSubPredicates.length) {
              emitTriple(activeTag.subject, parentTag.predicateSubPredicates(i),
                parentTag.predicateSubObjects(i), null, parentTag.childrenTripleTerms,
                parentTag.reifier)
              i += 1
            }
            parentTag.predicateSubPredicates = null
            parentTag.predicateSubObjects = null
          }
        }
      }

      // Emit collected property attributes (`:499-510`).
      var i = 0
      while (predicates != null && i < predicates.length) {
        val obj = createLiteral(objects(i), activeTag)
        emitTriple(activeTag.subject, predicates(i), obj, parentTag.reifiedStatementId,
          parentTag.childrenTripleTerms, parentTag.reifier)
        i += 1
      }
      // rdf:type attribute emits a named node (`:512-521`).
      if (explicitType != null) {
        emitTriple(activeTag.subject, RdfXmlParser.IriType, uriToNamedNode(explicitType), null,
          activeTag.childrenTripleTerms, activeTag.reifier)
      }
    }
  }

  /** `onTagProperty` (`:531-741`): property elements. */
  private def onTagProperty(tag: OpenTag, activeTag: ActiveTag, parentTag: ActiveTag): Unit = {
    activeTag.childrenParseType = ParseMode.Resource
    activeTag.subject = parentTag.subject
    if (tag.uri == RDF && tag.name.local == "li") {
      // rdf:li → rdf:_N with a per-parent counter (`:535-540`).
      if (parentTag.listItemCounter == 0) parentTag.listItemCounter = 1
      activeTag.predicate = uriToNamedNode(s"${tag.uri}_${parentTag.listItemCounter}")
      parentTag.listItemCounter += 1
    } else {
      activeTag.predicate = nameIri(tag.uri, tag.name.local)
    }

    if (tag.uri == RDF && ForbiddenPropertyElements.contains(tag.name.local))
      throw parseError(s"Illegal property element name: ${tag.name.local}")

    var parseType = false
    var attributedProperty = false

    var activeSubSubjectValue: String = null
    var subSubjectValueBlank = true
    var predicates: mutable.ArrayBuffer[Iri] = null
    var objects: mutable.ArrayBuffer[Term] = null

    var next = 0 // indexed, as in onTagResource
    while (next < tag.attrCount) {
      val name = tag.attrNames(next)
      val uri = tag.attrUris(next)
      val local = name.local
      val value = tag.attrValues(next)
      next += 1
      var handled = true
      if (uri == RDF && local == "version") {
        setVersion(activeTag, value)
      } else if (uri == RDF) {
        local match {
          case "resource" =>
            if (activeSubSubjectValue != null)
              throw parseError(s"Found both rdf:resource ($value) and rdf:nodeID ($activeSubSubjectValue).")
            if (parseType)
              throw parseError(s"rdf:parseType is not allowed on property elements with rdf:resource ($value)")
            activeTag.hadChildren = true
            activeSubSubjectValue = value
            subSubjectValueBlank = false
          case "datatype" =>
            if (attributedProperty)
              throw parseError(s"Found both non-rdf:* property attributes and rdf:datatype ($value).")
            if (parseType)
              throw parseError(s"rdf:parseType is not allowed on property elements with rdf:datatype ($value)")
            activeTag.datatype = datatypeIri(value, activeTag)
          case "nodeID" =>
            if (attributedProperty)
              throw parseError(s"Found both non-rdf:* property attributes and rdf:nodeID ($value).")
            if (activeTag.hadChildren)
              throw parseError(s"Found both rdf:resource and rdf:nodeID ($value).")
            if (parseType)
              throw parseError(s"rdf:parseType is not allowed on property elements with rdf:nodeID ($value)")
            validateNcname(value)
            activeTag.hadChildren = true
            activeSubSubjectValue = value
            subSubjectValueBlank = true
          case "bagID" => throw parseError("rdf:bagID is not supported.")
          case "parseType" =>
            if (attributedProperty)
              throw parseError("rdf:parseType is not allowed when non-rdf:* property attributes are present")
            if (activeTag.datatype != null)
              throw parseError(s"rdf:parseType is not allowed on property elements with rdf:datatype (${activeTag.datatype.iri})")
            if (activeSubSubjectValue != null)
              throw parseError(s"rdf:parseType is not allowed on property elements with rdf:nodeID or rdf:resource ($activeSubSubjectValue)")
            value match {
              case "Resource" =>
                parseType = true
                activeTag.childrenParseType = ParseMode.Property
                // Property element becomes an implicit blank node element (`:630-645`).
                val nested = freshBNode()
                emitTriple(activeTag.subject, activeTag.predicate, nested,
                  activeTag.reifiedStatementId, activeTag.childrenTripleTerms, activeTag.reifier)
                activeTag.subject = nested
                activeTag.predicate = null
              case "Collection" =>
                parseType = true
                activeTag.hadChildren = true
                activeTag.childrenCollectionSubject = activeTag.subject
                activeTag.childrenCollectionPredicate = activeTag.predicate
                subSubjectValueBlank = false
              case "Literal" =>
                parseType = true
                activeTag.childrenTagsToString = true
                activeTag.childrenStringTags = mutable.ArrayBuffer.empty
              case "Triple" =>
                parseType = true
                activeTag.childrenTagsToTripleTerms = true
                activeTag.childrenTripleTerms = mutable.ArrayBuffer.empty
              case _ =>
            }
          case "ID" =>
            validateNcname(value)
            activeTag.reifiedStatementId = valueToUri("#" + value, activeTag)
            claimNodeId(activeTag.reifiedStatementId)
          case "annotation" =>
            activeTag.reifier = Iri(value)
          case "annotationNodeID" =>
            validateNcname(value)
            activeTag.reifier = bnode(value)
          case _ => handled = false
        }
      } else if (uri == XML && local == "lang") {
        activeTag.language = if (value.isEmpty) null else value.toLowerCase
      } else if (uri == ITS && local == "dir") {
        setDirection(activeTag, value)
      } else if (uri == ITS && local == "version") {
        // its:version ignored (`:685-687`).
      } else handled = false

      if (!handled) {
        // Property attributes on a property element → implicit blank node
        // sub-properties (`:690-704`). Literals are created *during* the
        // loop, so xml:lang order matters — quirk preserved.
        if (name.prefix != "xml" && name.prefix != "xmlns" &&
            !(name.prefix == "" && local == "xmlns") &&
            uri.nonEmpty) {
          if (parseType || activeTag.datatype != null)
            throw parseError(s"Found illegal rdf:* properties on property element with attribute: $value")
          activeTag.hadChildren = true
          attributedProperty = true
          if (predicates == null) { predicates = attrBuffer; objects = attrBuffer }
          predicates += nameIri(uri, local)
          objects += createLiteral(value, activeTag)
        }
      }
    }

    if (activeSubSubjectValue != null) {
      // rdf:resource / rdf:nodeID object shortcut (`:706-732`).
      val subjectParent = activeTag.subject
      activeTag.subject =
        if (subSubjectValueBlank) bnode(activeSubSubjectValue)
        else valueToUri(activeSubSubjectValue, activeTag)
      emitTriple(subjectParent, activeTag.predicate, activeTag.subject,
        activeTag.reifiedStatementId, activeTag.childrenTripleTerms, activeTag.reifier)
      var i = 0
      while (predicates != null && i < predicates.length) {
        emitTriple(activeTag.subject, predicates(i), objects(i), null,
          activeTag.childrenTripleTerms, activeTag.reifier)
        i += 1
      }
      activeTag.predicateEmitted = true
    } else if (subSubjectValueBlank) {
      // Dangling property attributes: buffer until a child subject appears
      // or the tag closes (`:733-740`).
      activeTag.predicateSubPredicates = predicates
      activeTag.predicateSubObjects = objects
      activeTag.predicateEmitted = false
    }
  }

  /** `onText` (`:820-832`) — overwrite, not append. */
  private def onText(text: String): Unit = {
    if (stack.nonEmpty) {
      val activeTag = stack.last
      if (activeTag.childrenStringTags != null) activeTag.childrenStringTags += text
      else if (activeTag.predicate != null) activeTag.text = text
    }
  }

  /** `onCloseTag` (`:837-917`). */
  private def onCloseTag(): Unit = {
    val poppedTag = stack.remove(stack.length - 1)
    val parentTag: ActiveTag = if (stack.nonEmpty) stack.last else null

    if (poppedTag.childrenStringEmitClosingTag != null)
      poppedTag.childrenStringTags += poppedTag.childrenStringEmitClosingTag

    if (poppedTag.childrenTagsToString) {
      poppedTag.datatype = RdfXmlParser.IriXmlLiteral
      poppedTag.text = poppedTag.childrenStringTags.mkString("")
      poppedTag.hadChildren = false
    }

    if (poppedTag.childrenTagsToTripleTerms && poppedTag.predicate != null && poppedTag.rdfVersion != null) {
      if (poppedTag.childrenTripleTerms.length != 1)
        throw parseError(s"Expected exactly one triple term in rdf:parseType=\"Triple\" but got ${poppedTag.childrenTripleTerms.length}")
      poppedTag.childrenTripleTerms.foreach { tripleTerm =>
        emitTriple(poppedTag.subject, poppedTag.predicate, TripleTerm(tripleTerm), null,
          parentTag.childrenTripleTerms, parentTag.reifier)
      }
      poppedTag.predicateEmitted = true
    }

    if (poppedTag.childrenCollectionSubject != null) {
      // Terminate the rdf:List (`:875-883`).
      emitTriple(poppedTag.childrenCollectionSubject, poppedTag.childrenCollectionPredicate,
        RdfXmlParser.IriNil, null, poppedTag.childrenTripleTerms, null)
    } else if (poppedTag.predicate != null) {
      if (!poppedTag.hadChildren && poppedTag.childrenParseType != ParseMode.Property) {
        // Text-only property element → literal (`:884-894`).
        emitTriple(poppedTag.subject, poppedTag.predicate,
          createLiteral(if (poppedTag.text != null) poppedTag.text else "", poppedTag),
          poppedTag.reifiedStatementId, poppedTag.childrenTripleTerms, poppedTag.reifier)
      } else if (!poppedTag.predicateEmitted) {
        // Anonymous property element with buffered sub-properties (`:895-915`).
        val subject = freshBNode()
        emitTriple(poppedTag.subject, poppedTag.predicate, subject,
          poppedTag.reifiedStatementId, poppedTag.childrenTripleTerms, poppedTag.reifier)
        var i = 0
        while (poppedTag.predicateSubPredicates != null && i < poppedTag.predicateSubPredicates.length) {
          emitTriple(subject, poppedTag.predicateSubPredicates(i), poppedTag.predicateSubObjects(i),
            null, poppedTag.childrenTripleTerms, null)
          i += 1
        }
      }
    }
  }
}

object RdfXmlParser {

  // Constant terms, hoisted out of the emission hot path (allocated once per
  // JVM instead of once per triple).
  private[rdf] val IriType = Iri(RdfVocab.RDF + "type")
  private[rdf] val IriStatement = Iri(RdfVocab.RDF + "Statement")
  private[rdf] val IriSubject = Iri(RdfVocab.RDF + "subject")
  private[rdf] val IriPredicate = Iri(RdfVocab.RDF + "predicate")
  private[rdf] val IriObject = Iri(RdfVocab.RDF + "object")
  private[rdf] val IriReifies = Iri(RdfVocab.RDF + "reifies")
  private[rdf] val IriFirst = Iri(RdfVocab.RDF + "first")
  private[rdf] val IriRest = Iri(RdfVocab.RDF + "rest")
  private[rdf] val IriNil = Iri(RdfVocab.RDF + "nil")
  private[rdf] val IriXmlLiteral = Iri(RdfVocab.RDF + "XMLLiteral")

  /** `FORBIDDEN_NODE_ELEMENTS` (`lib/RdfXmlParser.ts:17-28`). */
  val ForbiddenNodeElements: Set[String] = Set(
    "RDF", "ID", "about", "bagID", "parseType", "resource", "nodeID", "li",
    "aboutEach", "aboutEachPrefix")

  /** `FORBIDDEN_PROPERTY_ELEMENTS` (`lib/RdfXmlParser.ts:30-41`). */
  val ForbiddenPropertyElements: Set[String] = Set(
    "Description", "RDF", "ID", "about", "bagID", "parseType", "resource",
    "nodeID", "aboutEach", "aboutEachPrefix")

  /** Entries each of a parser's two [[IriTable]]s holds at most. */
  val MaxCachedIris = 4096

  /** Longest IRI, in chars (the two key strings together), an [[IriTable]]
    * takes. */
  val MaxCachedIriChars = 256

  /** `SUPPORTED_VERSIONS` (`lib/RdfXmlParser.ts:56-60`). */
  val SupportedVersions: Set[String] = Set("1.2", "1.2-basic", "1.1")

  /** One-shot batch parse: the whole document text → all triples or the
    * first error. This is the per-row entry point used inside Spark
    * `mapPartitions`. */
  def parse(text: String, opts: ParserOptions = ParserOptions()): Either[ParseError, Vector[Triple]] = {
    val out = Vector.newBuilder[Triple]
    runToEither(new RdfXmlParser(opts, out += _), text)(out.result())
  }

  /** Single source of the exception → ParseError mapping: the batch entry
    * points and the row surfaces ([[TripleColumns.Document]]) all catch
    * through it, so a new error site added to the parser cannot make them
    * diverge. */
  private[rdf] val AsParseError: PartialFunction[Throwable, ParseError] = {
    case e: ParseException => ParseError(e.rawMessage)
    case e: XmlSyntaxException => ParseError(e.getMessage)
    case e: IriResolver.IriResolutionError => ParseError(e.message)
    case e: NumberFormatException => ParseError(s"Invalid character reference: ${e.getMessage}")
  }

  private def runToEither[T](parser: RdfXmlParser, text: String)(result: => T): Either[ParseError, T] =
    try {
      parser.write(text)
      parser.end()
      Right(result)
    } catch AsParseError.andThen(Left(_))

  /** Incremental parse surface: feed chunks with `write`, finish with
    * `end`, observe each triple as it is pushed. Used by the file source
    * (through [[TripleColumns.Document]]) and the streaming-emission tests. */
  def streaming(opts: ParserOptions)(push: Triple => Unit): RdfXmlParser =
    new RdfXmlParser(opts, push)

  /** Batch parse through a custom [[TermFactory]] — the reference's
    * `dataFactory` surface (`lib/RdfXmlParser.ts:85-93`): every term in the
    * result, including nested triple-term components, is built by `factory`.
    * Combine with [[ParserOptions.blankNodeLabel]] to also control blank-node
    * labels. */
  def parseWith[N](text: String, factory: TermFactory[N],
      opts: ParserOptions = ParserOptions()): Either[ParseError, Vector[(N, N, N)]] = {
    val out = Vector.newBuilder[(N, N, N)]
    val parser = streamingWith(opts, factory)((s, p, o) => out += ((s, p, o)))
    runToEither(parser, text)(out.result())
  }

  /** Incremental parse through a custom [[TermFactory]]: each emitted triple
    * is converted at the push boundary, preserving the chunk-by-chunk
    * emission contract (R29). */
  def streamingWith[N](opts: ParserOptions, factory: TermFactory[N])(
      push: (N, N, N) => Unit): RdfXmlParser =
    new RdfXmlParser(opts, t => push(
      TermFactory.convert(t.subj, factory),
      TermFactory.convert(t.pred, factory),
      TermFactory.convert(t.obj, factory)))
}
