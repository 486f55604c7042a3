package graft.sources

import java.nio.file.Files

import graft.pipeline.{ParseStage, SparkSuite}
import graft.rdf.{BlankNodeLabels, RdfXmlParser}

/** An `rdf:nodeID` and an anonymous node stay two blank nodes, even when the
  * nodeID spells the label the parser would mint for the anonymous one; and
  * the surfaces' labels ([[BlankNodeLabels]]) are exact, unique across
  * documents and valid N-Triples. */
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

  private val oddIds =
    """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" xmlns:ex="http://e.org/">
      |  <rdf:Description rdf:nodeID="a_b"><ex:p rdf:nodeID="a.b"/></rdf:Description>
      |  <rdf:Description rdf:nodeID="a-b"><ex:p rdf:nodeID="ñé"/></rdf:Description>
      |  <rdf:Description rdf:nodeID="end."><ex:p>v</ex:p></rdf:Description>
      |  <rdf:Description><ex:p rdf:nodeID="_x"/></rdf:Description>
      |</rdf:RDF>""".stripMargin

  /** Raw label → escaped label, for every blank node of [[oddIds]]. */
  private val oddLabels = Seq(
    "a_b" -> "a-005fb", "a.b" -> "a-002eb", "a-b" -> "a-002db", "ñé" -> "-00f1-00e9",
    "end." -> "end-002e", "1" -> "1", "_x" -> "-005fx")

  test("the escape keeps ASCII letters and digits and writes every other UTF-16 unit as -hhhh") {
    oddLabels.foreach { case (raw, esc) => assert(BlankNodeLabels.escape(raw) == esc, raw) }
    assert(BlankNodeLabels.escape("Az09") == "Az09")
    assert(BlankNodeLabels.escape("\ud83d\ude00") == "-d83d-de00") // one supplementary char
    assert(BlankNodeLabels.forTurn("c", 3)("0") == "c_3_0")
    assert(BlankNodeLabels.forPath("/x/doc.rdf")("n_1").matches("[0-9a-f]{32}_n-005f1"))
  }

  test("nodeIDs with '_', '.', '-' and non-ASCII characters get exact labels on every surface") {
    val kernel = RdfXmlParser.parse(oddIds).fold(e => fail(e.toString), identity)
    val raw = kernel.flatMap(t => Seq(t.subj, t.obj)).collect { case graft.rdf.BNode(l) => l }.toSet
    assert(raw == oddLabels.map(_._1).toSet) // the kernel alone keeps raw labels

    import spark.implicits._
    val turns = Seq(("c", 0, oddIds)).toDF("conv_id", "turn_idx", "text")
    val fromTurns = ParseStage.parseTurns(turns).collect()
    assert(fromTurns.forall(_.error == null))
    assert(fromTurns.flatMap(r => Seq(r.subj, r.obj)).filter(_.startsWith("_:")).toSet ==
      oddLabels.map("_:c_0_" + _._2).toSet)

    val dir = Files.createTempDirectory("graft_nodeid_odd")
    Files.writeString(dir.resolve("doc.rdf"), oddIds)
    val fromFiles = spark.read.format("rdfxml").load(dir.toString).select("path", "subj", "obj").collect()
    val prefix = BlankNodeLabels.forPath(fromFiles.head.getString(0))("")
    assert(fromFiles.flatMap(r => Seq(r.getString(1), r.getString(2))).filter(_.startsWith("_:")).toSet ==
      oddLabels.map("_:" + prefix + _._2).toSet)
  }

  test("a lineage that ends like another's nodeID does not merge their blank nodes") {
    def doc(id: String) =
      s"""<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" xmlns:ex="http://e.org/">
         |<rdf:Description rdf:nodeID="$id"><ex:p>v</ex:p></rdf:Description></rdf:RDF>""".stripMargin
    import spark.implicits._
    // plain concatenation would name both `a_1_x_2_y`
    val turns = Seq(("a", 1, doc("x_2_y")), ("a_1_x", 2, doc("y"))).toDF("conv_id", "turn_idx", "text")
    val subjects = ParseStage.parseTurns(turns).map(_.subj).collect()
    assert(subjects.toSet == Set("_:a_1_x-005f2-005fy", "_:a_1_x_2_y"))
  }

  test("every emitted label reads back through the N-Triples source unchanged") {
    import spark.implicits._
    val turns = Seq(("c", 0, oddIds), ("a_1_x", 2, doc)).toDF("conv_id", "turn_idx", "text")
    val rows = ParseStage.parseTurns(turns).collect()
    assert(rows.nonEmpty && rows.forall(_.error == null))
    val dir = Files.createTempDirectory("graft_nodeid_nt")
    Files.writeString(dir.resolve("labels.nt"), rows.map(r => s"${r.subj} ${r.pred} ${r.obj} .\n").mkString)
    val back = NTriples.read(spark, dir.toString).select("subj", "pred", "obj", "error").collect()
    assert(back.forall(_.isNullAt(3)), back.toSeq)
    assert(back.map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet ==
      rows.map(r => (r.subj, r.pred, r.obj)).toSet)
    // and each label is an N-Triples BLANK_NODE_LABEL (ASCII subset)
    val label = "_:[A-Za-z0-9_]([A-Za-z0-9_.-]*[A-Za-z0-9_-])?"
    assert(rows.flatMap(r => Seq(r.subj, r.obj)).filter(_.startsWith("_:")).forall(_.matches(label)))
  }
}
