package graft.rdf

import java.lang.management.ManagementFactory

import org.scalatest.funsuite.AnyFunSuite

/** What the parse kernel allocates to read one large document, pinned so
  * that a later change cannot silently give back the saving of interning
  * names and IRIs per document, nor make a construct that spans many chunks
  * cost more than its size.
  *
  * The document is 8 MB in the shape of perfbench's `rdfxml_file` inputs.
  * After warm-up, the bytes the thread allocates over one
  * `RdfXmlParser.parse` of it are the same from run to run. Measured on
  * JDK 17: 141.0 MB while every name occurrence was copied and split, every
  * element got a fresh event, attribute objects and frame, and every
  * element or attribute name built and validated a fresh `Iri`; 38.7 MB
  * with the per-document name table, the shared `Iri`s and the reused
  * open-tag view. The bound lies halfway between.
  */
class KernelAllocationSpec extends AnyFunSuite {

  private val Words = ("a the batch part spark line column order small sort fast value scan " +
    "stream filter big merge group join agg hash vector query table key " +
    "customer slow index shard graph node edge triple parse token").split(' ')
  private val Langs = Array("en", "fr", "es", "zh", "de")
  private val XsdInt = "http://www.w3.org/2001/XMLSchema#integer"

  /** About `bytes` characters of resources of five kinds, as perfbench's
    * generator writes them; returns the text and its triple count. */
  private def document(bytes: Int): (String, Int) = {
    val r = new java.util.Random(14)
    val sb = new StringBuilder("""<?xml version="1.0"?>
<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" xmlns:g="http://graft.dev/voc#">
""")
    var triples = 0
    var i = 0
    while (sb.length < bytes) {
      val about = s"http://graft.dev/f0/r$i"
      val name = Seq.fill(1 + r.nextInt(4))(Words(r.nextInt(Words.length))).mkString(" ")
      r.nextInt(5) match {
        case 0 =>
          sb.append(s"""<rdf:Description rdf:about="$about"><g:name>$name</g:name>""" +
            s"""<g:size rdf:datatype="$XsdInt">${r.nextInt(1000000)}</g:size>""" +
            s"""<g:knows rdf:resource="http://graft.dev/f0/r${r.nextInt(i + 1)}"/></rdf:Description>""" + "\n")
          triples += 3
        case 1 =>
          sb.append(s"""<g:Item rdf:about="$about"><g:label xml:lang="${Langs(r.nextInt(5))}">$name</g:label>""" +
            "</g:Item>\n")
          triples += 2
        case 2 =>
          sb.append(s"""<rdf:Description rdf:about="$about"><g:addr rdf:parseType="Resource">""" +
            s"""<g:city>$name</g:city><g:zip>${r.nextInt(100000)}</g:zip></g:addr></rdf:Description>""" + "\n")
          triples += 3
        case 3 =>
          sb.append(s"""<rdf:Description rdf:about="$about" g:a="$name" g:b="${r.nextInt(1000)}"/>""" + "\n")
          triples += 2
        case _ =>
          sb.append(s"""<rdf:Description rdf:about="$about"><g:tags rdf:parseType="Collection">""" +
            s"""<rdf:Description rdf:about="$about/t0"/><rdf:Description rdf:about="$about/t1"/>""" +
            "</g:tags></rdf:Description>\n")
          triples += 5
      }
      i += 1
    }
    sb.append("</rdf:RDF>\n")
    (sb.toString, triples)
  }

  private val BoundMb = 90.0

  private val threads = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]

  test("parsing an 8 MB document allocates at most the pinned bound") {
    val (doc, triples) = document(8000000)
    def allocatedMb(): Double = {
      val before = threads.getCurrentThreadAllocatedBytes
      val parsed = RdfXmlParser.parse(doc)
      val mb = (threads.getCurrentThreadAllocatedBytes - before) / 1e6
      assert(parsed.map(_.length) == Right(triples))
      mb
    }
    (1 to 5).foreach(_ => allocatedMb()) // warm-up: let the JIT settle
    val mb = allocatedMb()
    info(f"allocated $mb%.1f MB")
    assert(mb < BoundMb, f"one parse allocated $mb%.1f MB, bound $BoundMb%.1f MB")
  }

  /** Chars of the long literal: 16 Mi. */
  private val LiteralChars = 16 << 20

  /** Allowed allocation per char of the long-literal document. The literal
    * is held, joined, cut out of the buffer, and quoted once as the row's
    * `obj`: a few bytes a char. Copying the unconsumed tail on every write,
    * as the tokenizer once did, allocated about L²/(2 · 64 Ki) chars for a
    * literal of L chars, over 2 GB here. */
  private val BoundBytesPerChar = 8

  test(s"a $LiteralChars-char literal written in file-source chunks allocates a small multiple of its size") {
    val literal = ("lorem ipsum dolor sit amet " * (LiteralChars / 27 + 1)).take(LiteralChars)
    val doc = """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" xmlns:ex="http://e.org/">""" +
      s"""<rdf:Description rdf:about="http://e.org/s"><ex:p>$literal</ex:p></rdf:Description></rdf:RDF>"""
    val chunks = doc.grouped(graft.sources.RdfXmlPartitionReader.ChunkChars).toArray
    def allocatedBytes(): Long = {
      val before = threads.getCurrentThreadAllocatedBytes
      val d = new TripleColumns.Document(ParserOptions())
      chunks.foreach(d.write)
      d.end()
      assert(d.next() && !d.failed)
      assert(d.value(4) == literal) // lexical
      assert(d.value(2).length == literal.length + 2) // obj, quoted
      assert(!d.next())
      threads.getCurrentThreadAllocatedBytes - before
    }
    allocatedBytes() // warm-up
    val bytes = allocatedBytes()
    info(f"allocated ${bytes / 1e6}%.1f MB for a ${doc.length / 1e6}%.1f M-char document")
    assert(bytes < BoundBytesPerChar.toLong * doc.length,
      f"allocated ${bytes / 1e6}%.1f MB, bound ${BoundBytesPerChar * doc.length / 1e6}%.1f MB")
  }
}
