package graft.rdf

import org.scalatest.funsuite.AnyFunSuite

/** Pins the pluggable term-factory surface (reference `dataFactory`,
  * `lib/RdfXmlParser.ts:85-93`): all observed terms are factory-built,
  * nested triple terms recurse through the factory, and fresh blank-node
  * labels are caller-controlled via `ParserOptions.blankNodeLabel`. */
class TermFactorySpec extends AnyFunSuite {
  private val RDF = RdfVocab.RDF
  private val EG = "http://example.org/"

  /** A deliberately non-ADT factory: renders every term to a tagged string. */
  private object Tagged extends TermFactory[String] {
    def namedNode(iri: String): String = s"N($iri)"
    def blankNode(label: String): String = s"B($label)"
    def literal(lexical: String, datatype: Option[String], language: Option[String],
        direction: Option[String]): String =
      s"L($lexical|${datatype.getOrElse("")}|${language.getOrElse("")}|${direction.getOrElse("")})"
    def tripleTerm(subj: String, pred: String, obj: String): String = s"T($subj,$pred,$obj)"
  }

  test("parseWith builds every term via the factory, including datatyped and directional literals") {
    val doc =
      s"""<?xml version="1.0"?>
<rdf:RDF xmlns:rdf="$RDF" xmlns:eg="$EG" xmlns:its="http://www.w3.org/2005/11/its" rdf:version="1.2">
  <rdf:Description rdf:about="${EG}a" xml:lang="en" its:dir="ltr">
    <eg:p rdf:datatype="http://www.w3.org/2001/XMLSchema#int">5</eg:p>
    <eg:q>hello</eg:q>
  </rdf:Description>
</rdf:RDF>"""
    val Right(ts) = RdfXmlParser.parseWith(doc, Tagged)
    assert(ts.contains((s"N(${EG}a)", s"N(${EG}p)", "L(5|http://www.w3.org/2001/XMLSchema#int||)")))
    assert(ts.contains((s"N(${EG}a)", s"N(${EG}q)", "L(hello||en|ltr)")))
  }

  test("nested triple terms recurse through the factory") {
    val doc =
      s"""<?xml version="1.0"?>
<rdf:RDF xmlns:rdf="$RDF" xmlns:eg="$EG" rdf:version="1.2">
  <rdf:Description rdf:about="${EG}a">
    <eg:prop rdf:parseType="Triple">
      <rdf:Description rdf:about="${EG}s"><eg:p rdf:resource="${EG}o"/></rdf:Description>
    </eg:prop>
  </rdf:Description>
</rdf:RDF>"""
    val Right(ts) = RdfXmlParser.parseWith(doc, Tagged)
    assert(ts == Vector((s"N(${EG}a)", s"N(${EG}prop)",
      s"T(N(${EG}s),N(${EG}p),N(${EG}o))")))
  }

  test("blankNodeLabel controls fresh anonymous-node allocation (counter-driven, per document)") {
    val doc =
      s"""<?xml version="1.0"?>
<rdf:RDF xmlns:rdf="$RDF" xmlns:eg="$EG">
  <rdf:Description><eg:p>v</eg:p></rdf:Description>
  <rdf:Description><eg:p>w</eg:p></rdf:Description>
</rdf:RDF>"""
    val opts = ParserOptions(blankNodeLabel = raw => s"my$raw")
    // counter 0 is burned on the root frame (matching the default b1/b2
    // labels the reference corpus pins for this shape)
    val Right(ts) = RdfXmlParser.parse(doc, opts)
    assert(ts.map(_.subj) == Vector(BNode("my1"), BNode("my2")))
    // a fresh parse restarts the counter — labels are per-document
    val Right(again) = RdfXmlParser.parse(doc, opts)
    assert(again.map(_.subj) == Vector(BNode("my1"), BNode("my2")))
  }

  test("the identity factory reproduces parse() term-for-term (incl. reification fan-out)") {
    val doc =
      s"""<?xml version="1.0"?>
<rdf:RDF xmlns:rdf="$RDF" xmlns:eg="$EG" xml:base="http://example.org/file">
  <rdf:Description rdf:about="${EG}a">
    <eg:prop rdf:ID="st" rdf:resource="${EG}o"/>
    <eg:list rdf:parseType="Collection"><rdf:Description rdf:about="${EG}x"/></eg:list>
  </rdf:Description>
</rdf:RDF>"""
    val Right(plain) = RdfXmlParser.parse(doc)
    val Right(viaFactory) = RdfXmlParser.parseWith(doc, TermFactory.Adt)
    assert(viaFactory == plain.map(t => (t.subj, t.pred, t.obj)))
  }

  test("streamingWith preserves the incremental push contract across chunk boundaries") {
    val doc =
      s"""<?xml version="1.0"?>
<rdf:RDF xmlns:rdf="$RDF" xmlns:eg="$EG">
  <rdf:Description rdf:about="${EG}a"><eg:p>v</eg:p><eg:q rdf:resource="${EG}o"/></rdf:Description>
</rdf:RDF>"""
    val pushed = Vector.newBuilder[(String, String, String)]
    val parser = RdfXmlParser.streamingWith(ParserOptions(), Tagged)((s, p, o) => pushed += ((s, p, o)))
    doc.grouped(7).foreach(parser.write) // awkward chunk size on purpose
    parser.end()
    assert(pushed.result() == Vector(
      (s"N(${EG}a)", s"N(${EG}p)", "L(v|||)"),
      (s"N(${EG}a)", s"N(${EG}q)", s"N(${EG}o)")))
  }
}
