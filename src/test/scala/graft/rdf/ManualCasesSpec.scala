package graft.rdf

import org.scalatest.funsuite.AnyFunSuite

import scala.collection.mutable

/** Hand-transcribed reference behaviors that the mechanical extractor
  * skipped: byte-exact XMLLiteral serialization (`test/RdfXmlParser-test.ts:
  * 2264-2303`), rdf:version error gating (`:2509-2614`), and the per-chunk
  * incremental-emission contract (`:2948-3025`).
  */
class ManualCasesSpec extends AnyFunSuite {

  test("parseType=Literal serializes child XML with inherited namespaces, byte-exact") {
    val doc = """<?xml version="1.0"?>
<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
         xmlns:ex="http://example.org/stuff/1.0/">
  <rdf:Description rdf:about="http://example.org/item01">
    <ex:prop rdf:parseType="Literal" xmlns:a="http://example.org/a#">
      <a:Box required="true">
        <a:widget size="10" />
        <a:grommit id="23">abc</a:grommit>
      </a:Box>
    </ex:prop>
  </rdf:Description>
</rdf:RDF>"""
    val Right(ts) = RdfXmlParser.parse(doc)
    assert(ts.length == 1)
    val Lit(lex, dt, _, _) = ts.head.obj
    assert(dt == RdfVocab.RDF + "XMLLiteral")
    val expected = "\n      <a:Box xmlns:a=\"http://example.org/a#\" xmlns:rdf=\"http://www.w3.org/1999/02/22-rdf-syntax-ns#\" xmlns:ex=\"http://example.org/stuff/1.0/\" required=\"true\">\n" +
      "        <a:widget size=\"10\"></a:widget>\n" +
      "        <a:grommit id=\"23\">abc</a:grommit>\n" +
      "      </a:Box>\n    "
    assert(lex == expected)
  }

  test("parseType=Literal without prefixes") {
    val doc = """<?xml version="1.0"?>
<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
         xmlns:ex="http://example.org/stuff/1.0/">
  <rdf:Description rdf:about="http://example.org/item01">
    <ex:prop rdf:parseType="Literal">
      <Box></Box>
    </ex:prop>
  </rdf:Description>
</rdf:RDF>"""
    val Right(ts) = RdfXmlParser.parse(doc)
    val Lit(lex, _, _, _) = ts.head.obj
    assert(lex == "\n      <Box xmlns:rdf=\"http://www.w3.org/1999/02/22-rdf-syntax-ns#\" xmlns:ex=\"http://example.org/stuff/1.0/\"></Box>\n    ")
  }

  private def parseAbout(iri: String, v: IriValidation): Either[ParseError, Vector[Triple]] =
    RdfXmlParser.parse(
      s"""<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"><rdf:Description rdf:about="$iri"/></rdf:RDF>""",
      ParserOptions(iriValidation = v))

  test("iriValidation=Strict enforces full RFC 3987 (reference IriValidationStrategy.Strict)") {
    // pragmatic accepts a bare '%' and '['; strict requires pct-encoding and
    // bracket-only-for-IP-literal
    assert(parseAbout("http://example.org/%zz", IriValidation.Pragmatic).isRight)
    assert(parseAbout("http://example.org/%zz", IriValidation.Strict) ==
      Left(ParseError("Invalid IRI according to RFC 3987: 'http://example.org/%zz'")))
    assert(parseAbout("foo:/[x]", IriValidation.Pragmatic).isRight)
    assert(parseAbout("foo:/[x]", IriValidation.Strict).isLeft)
    // strict accepts the full grammar: userinfo, IPv6 literal, port, query,
    // fragment, unicode path segments, and an empty hier-part
    assert(parseAbout("http://u@[2001:db8::1]:8080/p?q=1#f", IriValidation.Strict).isRight)
    assert(parseAbout("http://example.org/ünïcödé?q=ß#frag", IriValidation.Strict).isRight)
    assert(parseAbout("a:", IriValidation.Strict).isRight)
    assert(parseAbout("http://example.org/a b", IriValidation.Strict).isLeft)
  }

  test("iriValidation=Custom: a user-supplied validation hook rejects with its own message") {
    val custom = IriValidation.Custom(iri =>
      if (iri.contains("evil")) Some(s"Corporate policy forbids: '$iri'") else None)
    assert(parseAbout("http://example.org/good", custom).isRight)
    assert(parseAbout("http://example.org/evil", custom) ==
      Left(ParseError("Corporate policy forbids: 'http://example.org/evil'")))
  }

  test("unsupported rdf:version errors") {
    val doc = """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" rdf:version="0.9"/>"""
    assert(RdfXmlParser.parse(doc) == Left(ParseError("Detected unsupported version: 0.9")))
  }

  test("unsupported rdf:version tolerated with parseUnsupportedVersions") {
    val doc = """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" rdf:version="0.9"/>"""
    assert(RdfXmlParser.parse(doc, ParserOptions(parseUnsupportedVersions = true)).isRight)
  }

  test("unsupported media-type version parameter errors") {
    val doc = """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"/>"""
    assert(RdfXmlParser.parse(doc, ParserOptions(version = Some("9.9"))) ==
      Left(ParseError("Detected unsupported version as media type parameter: 9.9")))
    assert(RdfXmlParser.parse(doc, ParserOptions(version = Some("1.2"))).isRight)
  }

  test("rdf:annotationNodeID must be an NCName, as rdf:nodeID must") {
    // "1" would otherwise name the same blank node as the parser's fresh node 1
    val doc = """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" xmlns:ex="http://example.org/">
      <rdf:Description rdf:about="http://example.org/s">
      <ex:p rdf:annotationNodeID="1">o</ex:p></rdf:Description></rdf:RDF>"""
    assert(RdfXmlParser.parse(doc) == Left(ParseError("Not a valid NCName: 1")))
  }

  test("incremental emission contract (chunk-by-chunk)") {
    val emitted = mutable.ArrayBuffer.empty[Triple]
    val p = RdfXmlParser.streaming(ParserOptions())(emitted += _)

    def expectCount(chunk: String, n: Int): Unit = {
      val before = emitted.length
      p.write(chunk)
      assert(emitted.length - before == n, s"after chunk <$chunk>")
    }

    expectCount("", 0)
    expectCount("<?xml version=\"1.0\"?>", 0)
    expectCount("""<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
         xmlns:ex="http://example.org/stuff/1.0/"
         xml:base="http://example.org/triples/">""", 0)
    expectCount("<rdf:Description ", 0)
    expectCount("ex:title1=\"Title1\" ", 0)
    expectCount("rdf:about=\"http://www.w3.org/TR/rdf-syntax-grammar\" ", 0)
    expectCount("ex:title2=\"Title2\"", 0)
    expectCount(">", 2) // both property-attribute triples at tag completion
    assert(emitted(0) == TestSupport.quad("http://www.w3.org/TR/rdf-syntax-grammar",
      "http://example.org/stuff/1.0/title1", "\"Title1\""))
    assert(emitted(1) == TestSupport.quad("http://www.w3.org/TR/rdf-syntax-grammar",
      "http://example.org/stuff/1.0/title2", "\"Title2\""))
    expectCount("<ex:prop ", 0)
    expectCount(" rdf:resource=\"http://example.org/\" ", 0)
    expectCount("/>", 1)
    assert(emitted(2) == TestSupport.quad("http://www.w3.org/TR/rdf-syntax-grammar",
      "http://example.org/stuff/1.0/prop", "http://example.org/"))
    expectCount("</rdf:Description>", 0)
    expectCount("</rdf:RDF>", 0)
    p.end()
    assert(emitted.length == 3)
  }

  test("xml errors are delegated (test:106-109)") {
    assert(RdfXmlParser.parse("\nabc").isLeft)
  }

  test("invalid IRI scheme errors under default Pragmatic validation (test:137-140)") {
    val doc = """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
      xmlns:eg="http://example.org/"><rdf:Description rdf:about="%https://example.com/"><eg:p>x</eg:p></rdf:Description></rdf:RDF>"""
    assert(RdfXmlParser.parse(doc) ==
      Left(ParseError("Invalid IRI according to RDF Turtle: '%https://example.com/'")))
  }

  test("invalid IRI character errors under default Pragmatic validation (test:142-145)") {
    val doc = """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
      xmlns:eg="http://example.org/"><rdf:Description rdf:about="https://example.com/&lt;"><eg:p>x</eg:p></rdf:Description></rdf:RDF>"""
    assert(RdfXmlParser.parse(doc) ==
      Left(ParseError("Invalid IRI according to RDF Turtle: 'https://example.com/<'")))
  }

  test("invalid IRIs pass through with validateUri=false (test:3040-3055)") {
    val doc = """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
      xmlns:eg="http://example.org/"><rdf:Description rdf:about="%https://example.com/"><eg:p>x</eg:p></rdf:Description></rdf:RDF>"""
    val Right(ts) = RdfXmlParser.parse(doc, ParserOptions(validateUri = false))
    assert(ts == Vector(TestSupport.quad("%https://example.com/", "http://example.org/p", "\"x\"")))
  }

  test("shortened URIs in rdf:about/resource/datatype resolve against the options baseIRI (test:1931-1948)") {
    val doc = """<?xml version="1.0"?>
<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
            xmlns:ex="http://example.org/stuff/1.0/">
  <rdf:Description rdf:about="snack">
    <ex:prop rdf:resource="fruit/apple"/>
    <ex:prop2 rdf:resource="http://example.org/"/>
    <ex:editor rdf:datatype="abc">def</ex:editor>
  </rdf:Description>
</rdf:RDF>"""
    val Right(ts) = RdfXmlParser.parse(doc, ParserOptions(baseIRI = "http://example.org/here/"))
    val expected = Vector(
      TestSupport.quad("http://example.org/here/snack", "http://example.org/stuff/1.0/prop", "http://example.org/here/fruit/apple"),
      TestSupport.quad("http://example.org/here/snack", "http://example.org/stuff/1.0/prop2", "http://example.org/"),
      TestSupport.quad("http://example.org/here/snack", "http://example.org/stuff/1.0/editor", "\"def\"^^http://example.org/here/abc"),
    )
    assert(TestSupport.isomorphic(ts, expected))
  }

  test("reference quirk: subject and property attributes on a non-rdf:RDF ROOT node element are dropped (lib:325,435,500)") {
    // onTagResource interprets rdf:about/ID/nodeID only when parentTag is
    // set, and emits collected property attributes only inside the
    // `if (parentTag)` block — so the root node element of a document
    // without an rdf:RDF wrapper is always a FRESH blank node and its
    // non-xml attributes produce no triples. Pinned so a future "fix"
    // toward the W3C reading (root rdf:about = subject) can't slip in
    // silently and diverge from the reference.
    val doc = """<?xml version="1.0"?>
<Book xmlns="http://example.org/terms#" xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
      rdf:about="http://example.org/node" xmlns:eg="http://example.org/" eg:shelf="a3">
  <title>Harry</title>
</Book>"""
    val Right(ts) = RdfXmlParser.parse(doc, ParserOptions(baseIRI = "http://base.example/"))
    val expected = Vector(
      TestSupport.quad("_:b", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type", "http://example.org/terms#Book"),
      TestSupport.quad("_:b", "http://example.org/terms#title", "\"Harry\""),
    )
    assert(TestSupport.isomorphic(ts, expected),
      s"root-attr quirk drifted:\n${TestSupport.describe(ts)}")
  }

  test("custom default base IRI from options") {
    val doc = """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
      xmlns:eg="http://example.org/"><rdf:Description rdf:about="rel"><eg:p rdf:resource="x"/></rdf:Description></rdf:RDF>"""
    val Right(ts) = RdfXmlParser.parse(doc, ParserOptions(baseIRI = "http://base.org/dir/"))
    assert(ts == Vector(TestSupport.quad("http://base.org/dir/rel", "http://example.org/p", "http://base.org/dir/x")))
  }

  test("a lower-case <!doctype> declares entities that expand in attributes and text") {
    val doc = """<!doctype rdf:RDF [ <!ENTITY ex "http://example.org/"> ]>
<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" xmlns:eg="http://example.org/">
  <rdf:Description rdf:about="&ex;s"><eg:p>v &ex;</eg:p></rdf:Description>
</rdf:RDF>"""
    val Right(ts) = RdfXmlParser.parse(doc)
    assert(ts == Vector(TestSupport.quad("http://example.org/s", "http://example.org/p", "\"v http://example.org/\"")))
  }
}
