package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.{Encoders, Row}

import graft.pipeline.{ParseStage, SparkSuite, TripleRow}
import graft.rdf.TripleColumns

/** The two batch parse surfaces, `spark.read.format("rdfxml")` over files
  * and `ParseStage.parseTurns` over transcript turns, turn the same document
  * into the same rows. Only the blank-node lineage prefix may differ
  * (`{md5(path)}_` vs `{conv}_{turn}_`), so it is stripped before comparing,
  * also inside `<<( … )>>` triple-term objects. */
class ParseSurfaceParitySpec extends SparkSuite {

  private val Head =
    """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" xmlns:ex="http://e.org/"
      |  xmlns:its="http://www.w3.org/2005/11/its" rdf:version="1.2">""".stripMargin

  private val docs = Seq(
    "typed" -> s"""$Head
      |<rdf:Description rdf:about="http://e.org/a">
      |  <ex:n rdf:datatype="http://www.w3.org/2001/XMLSchema#int">5</ex:n>
      |</rdf:Description></rdf:RDF>""".stripMargin,
    "lang" -> s"""$Head
      |<rdf:Description rdf:about="http://e.org/a" xml:lang="en"><ex:name>hello</ex:name></rdf:Description>
      |</rdf:RDF>""".stripMargin,
    "dir" -> s"""$Head
      |<rdf:Description rdf:about="http://e.org/a" xml:lang="ar" its:dir="rtl"><ex:name>salaam</ex:name></rdf:Description>
      |</rdf:RDF>""".stripMargin,
    "bnode" -> s"""$Head
      |<rdf:Description><ex:p>anon</ex:p><ex:knows rdf:nodeID="x"/></rdf:Description>
      |</rdf:RDF>""".stripMargin,
    "tripleterm" -> s"""$Head
      |<rdf:Description rdf:about="http://e.org/a">
      |  <ex:claim rdf:parseType="Triple">
      |    <rdf:Description><ex:p>inner</ex:p></rdf:Description>
      |  </ex:claim>
      |</rdf:Description></rdf:RDF>""".stripMargin,
    "malformed" -> s"""$Head
      |<rdf:Description rdf:about="http://e.org/a"><ex:p>never closed""".stripMargin,
    "partway" -> s"""$Head
      |<rdf:Description rdf:about="http://e.org/a"><ex:p>kept</ex:p></rdf:Description>
      |<rdf:Description rdf:about="http://e.org/b"><ex:p>never closed""".stripMargin,
  )

  private val cols = TripleColumns.Names

  /** `_:{lineage}_{label}` → `_:{label}`, wherever the label sits in the
    * row; the escaped label holds no `_`, so the last `_` ends the lineage. */
  private def strip(v: Any): String =
    if (v == null) null else v.toString.replaceAll("_:[\\w-]*_([0-9A-Za-z-]+)", "_:$1")

  /** Rows `(document, cols…)` → per document, its stripped rows in a fixed order. */
  private def byDocument(rows: Array[Row], doc: String => String): Map[String, Seq[Seq[String]]] =
    rows.groupBy(r => doc(r.getString(0))).map { case (d, rs) =>
      d -> rs.toSeq.map(r => cols.indices.map(i => strip(r.get(i + 1)))).sortBy(_.mkString("|"))
    }

  test("rdfxml source and parseTurns give identical term columns for the same documents") {
    val dir = Files.createTempDirectory("graft_parity")
    docs.foreach { case (name, text) => Files.writeString(dir.resolve(s"$name.rdf"), text) }
    val fromFiles = byDocument(
      spark.read.format("rdfxml").load(dir.toString).select("path", cols: _*).collect(),
      _.split('/').last.stripSuffix(".rdf"))

    import spark.implicits._
    val turns = docs.map { case (name, text) => (name, 0, text) }.toDF("conv_id", "turn_idx", "text")
    val fromTurns = byDocument(ParseStage.parseTurns(turns).select("conv_id", cols: _*).collect(), identity)

    assert(fromFiles.keySet == docs.map(_._1).toSet)
    docs.foreach { case (name, _) =>
      assert(fromFiles(name) == fromTurns(name), s"document '$name'")
    }

    def rowsOf(doc: String) = fromTurns(doc).map(r => cols.zip(r).toMap)
    assert(rowsOf("typed").exists(r =>
      r("lexical") == "5" && r("datatype") == "http://www.w3.org/2001/XMLSchema#int"))
    assert(rowsOf("lang").exists(r => r("obj") == "\"hello\"@en" && r("lang") == "en"))
    assert(rowsOf("dir").exists(r => r("obj") == "\"salaam\"@ar--rtl" && r("lang") == "ar"))
    assert(rowsOf("bnode").exists(r => r("subj") == "_:1" && r("obj") == "_:x" && r("obj_type") == "bnode"))
    assert(rowsOf("tripleterm").exists(r =>
      r("obj") == "<<( _:1 <http://e.org/p> \"inner\" )>>" && r("obj_type") == "triple"))
    val Seq(err) = rowsOf("malformed")
    assert(err("obj_type") == "error" && err("error") != null && err("subj") == null)
    // A document that fails partway keeps the triples pushed before the
    // failure, then gives exactly one error row, on both surfaces.
    val (partErr, partKept) = rowsOf("partway").partition(_("obj_type") == "error")
    assert(partKept.map(r => (r("subj"), r("pred"), r("obj"))) ==
      Seq(("<http://e.org/a>", "<http://e.org/p>", "\"kept\"")), partKept)
    assert(partErr.length == 1 && partErr.head("error").endsWith("Unclosed tag: ex:p"), partErr)
  }

  test("TripleRow carries its lineage, then exactly the shared columns in order") {
    assert(Encoders.product[TripleRow].schema.fieldNames.toSeq == Seq("conv_id", "turn_idx") ++ cols)
  }
}
