package graft.sources

import graft.pipeline.SparkSuite
import graft.rdf.{RdfXmlParser, TermFactory, TripleColumns}

/** An outside document nesting RDF 1.2 triple terms thousands deep
  * (`rdf:parseType="Triple"` inside `rdf:parseType="Triple"`), or property
  * elements a hundred thousand deep, gives its rows on every parse surface,
  * and the task that read it, and the session, survive it: the same session
  * then runs a next query. Nothing on the path from the parser to a row
  * recurses per nesting level. */
class DeepNestingSpec extends SparkSuite {
  import Surfaces._

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

  Seq(5000, 20000).foreach { depth =>
    test(s"triple terms nested $depth deep give one row on every surface, and the session lives on") {
      val doc = nested(depth)

      val kernel = RdfXmlParser.parse(doc).fold(e => fail(e.toString), identity)
      assert(kernel.length == 1)
      assertNest(TripleColumns.value(kernel.head, 2), depth)

      val files = fromFile(spark, doc, "obj", "obj_type")
      assert(files.length == 1 && files.head.getString(1) == TripleColumns.TripleType)
      assertNest(files.head.getString(0), depth)
      nextQueryRuns(spark)

      val turns = fromTurns(spark, doc)
      assert(turns.length == 1 && turns.head.obj_type == TripleColumns.TripleType)
      assertNest(turns.head.obj, depth)
      nextQueryRuns(spark)
    }
  }

  private val ElementDepth = 100000

  test(s"property elements nested $ElementDepth deep give their rows on every surface, and the session lives on") {
    // <s> <p> _:1 . _:1 <p> _:2 . … _:n <q> "leaf" .
    val sb = new StringBuilder(
      """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" xmlns:ex="http://e.org/">""")
    sb.append("""<rdf:Description rdf:about="http://e.org/s">""")
    sb.append("""<ex:p rdf:parseType="Resource">""" * ElementDepth)
    sb.append("<ex:q>leaf</ex:q>").append("</ex:p>" * ElementDepth)
    val doc = sb.append("</rdf:Description></rdf:RDF>").toString

    /** The rows as (subj, obj, obj_type) form one chain from `<s>` to the
      * leaf. */
    def assertChain(rows: Seq[(String, String, String)]): Unit = {
      assert(rows.length == ElementDepth + 1)
      val (links, leaf) = rows.partition(_._3 == TripleColumns.BNodeType)
      assert(leaf.map(r => (r._2, r._3)) == Seq(("\"leaf\"", TripleColumns.LiteralType)))
      assert(links.map(_._2).distinct.length == ElementDepth)
      assert(rows.map(_._1).toSet == links.map(_._2).toSet + "<http://e.org/s>")
    }

    val (kernel, kernelS) = seconds(RdfXmlParser.parse(doc).fold(e => fail(e.toString), identity))
    info(f"RdfXmlParser.parse: $kernelS%.2f s")
    assertChain(kernel.map(t => (t.subj.ntriples, t.obj.ntriples, TripleColumns.value(t, 3))))

    val (files, fileS) = seconds(fromFile(spark, doc, "subj", "obj", "obj_type"))
    info(f"""format("rdfxml"): $fileS%.2f s""")
    assertChain(files.toSeq.map(r => (r.getString(0), r.getString(1), r.getString(2))))
    nextQueryRuns(spark)

    val (turns, turnsS) = seconds(fromTurns(spark, doc))
    info(f"ParseStage.parseTurns: $turnsS%.2f s")
    assertChain(turns.toSeq.map(r => (r.subj, r.obj, r.obj_type)))
    nextQueryRuns(spark)
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
