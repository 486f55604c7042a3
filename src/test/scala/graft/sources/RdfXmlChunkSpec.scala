package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import graft.pipeline.SparkSuite
import graft.rdf.{BlankNodeLabels, ParseError, ParserOptions, RdfXmlParser, TripleColumns}

/** The `rdfxml` source feeds the parser in [[RdfXmlPartitionReader.ChunkChars]]
  * chunks; a document spanning several chunks must read exactly as the
  * one-shot parse of its whole text. The generated document carries what a
  * chunk edge can split: a leading BOM, multi-byte UTF-8, a supplementary
  * character whose surrogate pair straddles every edge (in text on even
  * edges, in an attribute value on odd ones) and blank nodes. */
class RdfXmlChunkSpec extends SparkSuite {

  private val Chunk = RdfXmlPartitionReader.ChunkChars
  private val Emoji = "😀" // U+1F600, two UTF-16 chars
  private val Tail = "</rdf:RDF>\n"

  /** The document, and the chunk edges a surrogate pair straddles. */
  private lazy val (doc, straddled) = {
    val sb = new StringBuilder("\uFEFF<?xml version=\"1.0\"?>\n")
    sb.append("""<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" xmlns:ex="http://e.org/">""")
    sb.append('\n')
    var i = 0
    var edges = List.empty[Int]
    while (sb.length < 5 * Chunk) {
      val edge = (sb.length / Chunk + 1) * Chunk
      if (edge - sb.length < 300 && !edges.contains(edge)) {
        // Pad so the pair's high surrogate is the last char of a chunk.
        val (open, close) =
          if (edges.length % 2 == 0) (s"""<rdf:Description rdf:about="http://e.org/edge$edge"><ex:text>""", "</ex:text></rdf:Description>\n")
          else (s"""<rdf:Description rdf:about="http://e.org/edge$edge" ex:note="""" , "\"/>\n")
        val pad = "x" * (edge - 1 - sb.length - open.length)
        sb.append(open).append(pad).append(Emoji).append(close)
        edges = edge :: edges
      } else {
        sb.append(i % 4 match {
          case 0 => s"""<rdf:Description rdf:about="http://e.org/s$i"><ex:name xml:lang="el">Ωμέγα $i — ü</ex:name><ex:knows rdf:nodeID="n${i % 50}"/></rdf:Description>"""
          case 1 => s"""<rdf:Description><ex:label>anon $i ✓</ex:label></rdf:Description>"""
          case 2 => s"""<rdf:Description rdf:about="http://e.org/s$i"><ex:part rdf:parseType="Resource"><ex:v>$i</ex:v></ex:part></rdf:Description>"""
          case _ => s"""<rdf:Description rdf:about="http://e.org/s$i" ex:tag="日本 $i"/>"""
        }).append('\n')
        i += 1
      }
    }
    (sb.append(Tail).toString, edges)
  }

  /** The rows `TripleColumns` gives for the whole-text parse of `text`, with
    * the file's blank-node labels. */
  private def expected(text: String, path: String): Seq[Seq[String]] = {
    val Right(parsed) = RdfXmlParser.parse(text, ParserOptions(blankNodeLabel = BlankNodeLabels.forPath(path)))
    parsed.map(t => TripleColumns.Names.indices.map(TripleColumns.value(t, _)))
  }

  private def read(text: String): (String, Seq[Seq[String]]) = {
    val dir = Files.createTempDirectory("graft_rdfxml_chunks")
    Files.write(dir.resolve("doc.rdf"), text.getBytes(UTF_8))
    val rows = spark.read.format("rdfxml").load(dir.toString)
      .select("path", TripleColumns.Names: _*).collect()
    (rows.head.getString(0), rows.toSeq.map(r => TripleColumns.Names.indices.map(i => r.getString(i + 1))))
  }

  test("a multi-chunk document reads as the whole-text parse, row for row") {
    assert(doc.length > 256 * 1024 && straddled.length >= 4, straddled)
    straddled.foreach { edge =>
      assert(Character.isHighSurrogate(doc.charAt(edge - 1)) && Character.isLowSurrogate(doc.charAt(edge)), edge)
    }
    val (path, rows) = read(doc)
    assert(rows == expected(doc, path))
    assert(rows.exists(_(0).startsWith("_:")) && rows.exists(_(2).startsWith("_:")))
    assert(rows.count(r => r(4) != null && r(4).endsWith(Emoji)) == straddled.length)
    assert(rows.exists(r => r(4) != null && r(4).contains("Ωμέγα")))
  }

  test("a syntax error near the end gives the whole-text message, line and column, after the rows before it") {
    val bad = doc.stripSuffix(Tail) +
      """<rdf:Description rdf:about="http://e.org/last"><ex:open>v</ex:shut></rdf:Description>""" + "\n" + Tail
    val Left(ParseError(message)) = RdfXmlParser.parse(bad)
    assert(message.matches("\\d+:\\d+: Mismatched closing tag: ex:shut .*"), message)
    val (path, rows) = read(bad)
    assert(rows.last == Seq(null, null, null, TripleColumns.ErrorType, null, null, null, message))
    assert(rows.init == expected(doc, path))
  }
}
