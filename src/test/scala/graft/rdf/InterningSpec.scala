package graft.rdf

import org.scalatest.funsuite.AnyFunSuite

import scala.collection.mutable

/** The tokenizer shares one record per distinct element or attribute name,
  * and the parser one [[Iri]] per distinct (namespace, local name) and per
  * distinct (base, `rdf:datatype` value). These cases pin that what is
  * shared is keyed by everything its text depends on. */
class InterningSpec extends AnyFunSuite {

  private val Rdf = RdfVocab.RDF

  private def triples(doc: String, opts: ParserOptions = ParserOptions()): Vector[String] =
    RdfXmlParser.parse(doc, opts).fold(e => fail(e.message), _.map(_.ntriples))

  test("a prefix rebound in sibling subtrees names each subtree's namespace") {
    val doc = s"""<rdf:RDF xmlns:rdf="$Rdf">
      |<g:T rdf:about="http://e.org/a" xmlns:g="http://one.org/"><g:p>1</g:p></g:T>
      |<g:T rdf:about="http://e.org/b" xmlns:g="http://two.org/"><g:p>2</g:p></g:T>
      |<rdf:Description rdf:about="http://e.org/c" xmlns:g="http://one.org/" g:p="3"/>
      |<rdf:Description rdf:about="http://e.org/d" xmlns:g="http://two.org/" g:p="4"/>
      |</rdf:RDF>""".stripMargin
    assert(triples(doc) == Vector(
      s"<http://e.org/a> <${Rdf}type> <http://one.org/T> .",
      """<http://e.org/a> <http://one.org/p> "1" .""",
      s"<http://e.org/b> <${Rdf}type> <http://two.org/T> .",
      """<http://e.org/b> <http://two.org/p> "2" .""",
      """<http://e.org/c> <http://one.org/p> "3" .""",
      """<http://e.org/d> <http://two.org/p> "4" ."""))
  }

  test("one IRI reached through two prefixes is the same IRI") {
    val doc = s"""<rdf:RDF xmlns:rdf="$Rdf" xmlns:a="http://e.org/ns#" xmlns:b="http://e.org/ns#"
      |    xmlns:c="http://e.org/ns#x">
      |<rdf:Description rdf:about="http://e.org/s" a:xy="1" b:xy="2">
      |<a:xy>3</a:xy><b:xy>4</b:xy><c:y>5</c:y></rdf:Description>
      |</rdf:RDF>""".stripMargin
    val ts = RdfXmlParser.parse(doc).fold(e => fail(e.message), identity)
    assert(ts.length == 5)
    assert(ts.map(_.pred).distinct == Vector(Iri("http://e.org/ns#xy")))
    assert(ts.map(_.obj) == (1 to 5).map(i => Lit(i.toString)))
  }

  test("a relative rdf:datatype resolves against the xml:base in scope") {
    val doc = s"""<rdf:RDF xmlns:rdf="$Rdf" xmlns:ex="http://e.org/" xml:base="http://one.org/">
      |<rdf:Description rdf:about="s"><ex:p rdf:datatype="#int">1</ex:p></rdf:Description>
      |<rdf:Description rdf:about="s" xml:base="http://two.org/"><ex:p rdf:datatype="#int">2</ex:p></rdf:Description>
      |<rdf:Description rdf:about="s"><ex:p rdf:datatype="#int">3</ex:p></rdf:Description>
      |</rdf:RDF>""".stripMargin
    assert(triples(doc) == Vector(
      """<http://one.org/s> <http://e.org/p> "1"^^<http://one.org/#int> .""",
      """<http://two.org/s> <http://e.org/p> "2"^^<http://two.org/#int> .""",
      """<http://one.org/s> <http://e.org/p> "3"^^<http://one.org/#int> ."""))
  }

  test("a custom IRI check sees every IRI, in document order, repeats included") {
    val doc = s"""<rdf:RDF xmlns:rdf="$Rdf" xmlns:ex="http://e.org/">
      |<rdf:Description rdf:about="http://e.org/a"><ex:p>1</ex:p><ex:p>2</ex:p></rdf:Description>
      |<ex:T rdf:about="http://e.org/b" ex:q="x">
      |<ex:r rdf:datatype="http://e.org/dt">3</ex:r><ex:r rdf:datatype="http://e.org/dt">4</ex:r></ex:T>
      |</rdf:RDF>""".stripMargin
    val seen = mutable.ArrayBuffer.empty[String]
    val custom = triples(doc, ParserOptions(iriValidation = IriValidation.Custom { iri => seen += iri; None }))
    assert(seen.map(_.stripPrefix("http://e.org/")) ==
      Seq("a", "p", "p", "q", "b", "T", "r", "dt", "r", "dt"))
    assert(custom == triples(doc))
  }

  test("names and IRIs past the tables' caps still parse, duplicates included") {
    val n = 2 * math.max(XmlTokenizer.MaxNames, RdfXmlParser.MaxCachedIris)
    val sb = new StringBuilder(s"""<rdf:RDF xmlns:rdf="$Rdf">""")
    (0 until n).foreach { i =>
      sb.append(s"""<n$i:T$i xmlns:n$i="http://e.org/ns$i/" rdf:about="http://e.org/s$i" n$i:a$i="v"/>""")
    }
    val ts = RdfXmlParser.parse(sb.append("</rdf:RDF>").toString).fold(e => fail(e.message), identity)
    assert(ts.length == 2 * n)
    assert(ts(2 * n - 2).obj == Iri(s"http://e.org/ns${n - 1}/T${n - 1}"))
    assert(ts(2 * n - 1).pred == Iri(s"http://e.org/ns${n - 1}/a${n - 1}"))
    val dup = sb.toString.replace(s"""n${n - 1}:a${n - 1}="v"/>""", s"""n${n - 1}:a${n - 1}="v" n${n - 1}:a${n - 1}="w"/>""")
    val err = RdfXmlParser.parse(dup).swap.getOrElse(fail("the duplicate attribute parsed"))
    assert(err.message.endsWith(s"Duplicate attribute: n${n - 1}:a${n - 1}"), err)
  }

  test("names and IRIs longer than the tables take parse like short ones, duplicates included") {
    val long = "x" * (2 * math.max(XmlTokenizer.MaxNameChars, RdfXmlParser.MaxCachedIriChars))
    val ns = s"http://e.org/$long/"
    val doc = s"""<rdf:RDF xmlns:rdf="$Rdf" xmlns:L="$ns">
      |<L:T$long rdf:about="http://e.org/s" L:a$long="1"><L:p$long rdf:datatype="$ns#d">2</L:p$long></L:T$long>
      |<L:T$long rdf:about="http://e.org/s" L:a$long="3"><L:p$long rdf:datatype="$ns#d">4</L:p$long></L:T$long>
      |</rdf:RDF>""".stripMargin
    assert(triples(doc) == Vector(1, 3).flatMap(i => Vector(
      s"<http://e.org/s> <${Rdf}type> <${ns}T$long> .",
      s"""<http://e.org/s> <${ns}a$long> "$i" .""",
      s"""<http://e.org/s> <${ns}p$long> "${i + 1}"^^<$ns#d> .""")))
    val dup = doc.replace(s"""L:a$long="3"""", s"""L:a$long="3" L:a$long="5"""")
    val err = RdfXmlParser.parse(dup).swap.getOrElse(fail("the duplicate attribute parsed"))
    assert(err.message.endsWith(s"Duplicate attribute: L:a$long"), err)
  }
}
