package graft.sources

import java.nio.file.Files

import graft.pipeline.{ParseStage, SparkSuite}
import graft.rdf.RdfXmlParser

/** An `rdf:nodeID` and an anonymous node stay two blank nodes, even when the
  * nodeID spells the label the parser would mint for the anonymous one. */
class BlankNodeLabelSpec extends SparkSuite {

  private val doc =
    """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" xmlns:ex="http://e.org/">
      |  <rdf:Description rdf:nodeID="b1"><ex:name>named</ex:name></rdf:Description>
      |  <rdf:Description><ex:name>anon</ex:name></rdf:Description>
      |  <rdf:Description rdf:nodeID="b0"><ex:name>zero</ex:name></rdf:Description>
      |</rdf:RDF>""".stripMargin

  test("rdf:nodeID labels and fresh anonymous labels never name the same node, on every surface") {
    val kernel = RdfXmlParser.parse(doc).fold(e => fail(e.toString), identity)
    assert(kernel.map(_.subj).distinct.size == 3, kernel)

    import spark.implicits._
    val turns = Seq(("conv-x", 0, doc)).toDF("conv_id", "turn_idx", "text")
    val fromTurns = ParseStage.parseTurns(turns).select("subj").as[String].collect()
    assert(fromTurns.length == 3 && fromTurns.distinct.length == 3, fromTurns.toSeq)

    val dir = Files.createTempDirectory("graft_nodeid")
    Files.writeString(dir.resolve("doc.rdf"), doc)
    val fromFiles = spark.read.format("rdfxml").load(dir.toString).select("subj").as[String].collect()
    assert(fromFiles.length == 3 && fromFiles.distinct.length == 3, fromFiles.toSeq)
  }
}
