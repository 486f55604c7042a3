package graft.sources

import java.nio.file.Files

import graft.pipeline.{ParseStage, SparkSuite}
import graft.rdf.{RdfXmlParser, TermFactory, TripleColumns}

/** An outside document nesting RDF 1.2 triple terms thousands deep
  * (`rdf:parseType="Triple"` inside `rdf:parseType="Triple"`) gives its one
  * row on every parse surface, and the task that read it, and the session,
  * survive it: the same session then runs a next query. Nothing on the path
  * from the parser to a row recurses per nesting level. */
class DeepNestingSpec extends SparkSuite {

  /** `<s> <p> <<( _:n <p> <<( … <<( _:n <p> "leaf" )>> … )>> )>>`, with an
    * anonymous node at every level. */
  private def nested(depth: Int): String = {
    val sb = new StringBuilder(
      """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" xmlns:ex="http://e.org/" rdf:version="1.2">""")
    sb.append("""<rdf:Description rdf:about="http://e.org/s">""")
    var i = 0
    while (i < depth) { sb.append("""<ex:p rdf:parseType="Triple"><rdf:Description>"""); i += 1 }
    sb.append("<ex:p>leaf</ex:p>")
    while (i > 0) { sb.append("</rdf:Description></ex:p>"); i -= 1 }
    sb.append("</rdf:Description></rdf:RDF>").toString
  }

  /** The one row's `obj` holds the whole nest, down to the leaf. */
  private def assertNest(obj: String, depth: Int): Unit = {
    assert(obj.startsWith("<<( _:") && obj.endsWith(" <http://e.org/p> \"leaf\"" + " )>>" * depth))
    assert("<<\\( ".r.findAllIn(obj).length == depth)
  }

  private def nextQueryRuns(): Unit = assert(spark.range(10).selectExpr("sum(id)").head().getLong(0) == 45)

  Seq(5000, 20000).foreach { depth =>
    test(s"triple terms nested $depth deep give one row on every surface, and the session lives on") {
      val doc = nested(depth)

      val kernel = RdfXmlParser.parse(doc).fold(e => fail(e.toString), identity)
      assert(kernel.length == 1)
      assertNest(TripleColumns.value(kernel.head, 2), depth)

      val dir = Files.createTempDirectory("graft_deep")
      Files.writeString(dir.resolve("deep.rdf"), doc)
      val fromFiles = spark.read.format("rdfxml").load(dir.toString).select("obj", "obj_type").collect()
      assert(fromFiles.length == 1 && fromFiles.head.getString(1) == TripleColumns.TripleType)
      assertNest(fromFiles.head.getString(0), depth)
      nextQueryRuns()

      import spark.implicits._
      val turns = Seq(("deep", 0, doc)).toDF("conv_id", "turn_idx", "text")
      val fromTurns = ParseStage.parseTurns(turns).collect()
      assert(fromTurns.length == 1 && fromTurns.head.obj_type == TripleColumns.TripleType)
      assertNest(fromTurns.head.obj, depth)
      nextQueryRuns()
    }
  }

  Seq(5000, 20000).foreach { depth =>
    test(s"a triple with terms nested $depth deep compares, hashes and prints") {
      def parsed(doc: String) = RdfXmlParser.parse(doc).fold(e => fail(e.toString), identity).head
      val doc = nested(depth)
      val (a, b) = (parsed(doc), parsed(doc))
      assert(!(a eq b))
      assert(a == b)
      assert(a.hashCode == b.hashCode)
      val otherLeaf = parsed(doc.replace(">leaf<", ">leaf2<"))
      assert(a != otherLeaf)
      val text = a.toString
      assert(text.startsWith("Triple(Iri(http://e.org/s),Iri(http://e.org/p),TripleTerm(Triple(BNode("))
      assert(text.endsWith(",Iri(http://e.org/p),Lit(leaf,null,null,null))" + "))" * depth))
      assert("TripleTerm\\(".r.findAllIn(text).length == depth)
    }
  }

  /** Reads a term as its triple-term depth. Each call is O(1), so the case
    * below measures the walk, not the factory. */
  private object Depth extends TermFactory[Int] {
    def namedNode(iri: String): Int = 0
    def blankNode(label: String): Int = 0
    def literal(lexical: String, datatype: Option[String], language: Option[String],
        direction: Option[String]): Int = 0
    def tripleTerm(subj: Int, pred: Int, obj: Int): Int = obj + 1
  }

  Seq(5000, 20000).foreach { depth =>
    test(s"parseWith converts triple terms nested $depth deep through a factory") {
      val ts = RdfXmlParser.parseWith(nested(depth), Depth).fold(e => fail(e.toString), identity)
      assert(ts.length == 1)
      val (s, p, o) = ts.head
      assert(s == 0 && p == 0)
      assert(o == depth)
    }
  }
}
