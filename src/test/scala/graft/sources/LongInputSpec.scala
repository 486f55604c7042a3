package graft.sources

import graft.pipeline.SparkSuite
import graft.rdf.{RdfVocab, RdfXmlParser}

/** An outside document with one very long construct (a Collection of a
  * hundred thousand items, a literal of 16 Mi chars) gives its rows on every
  * parse surface in time linear in its size, and the session then runs a
  * next query. `format("rdfxml")` writes the literal to the parser in
  * [[RdfXmlPartitionReader.ChunkChars]] chunks, so it spans 256 of them;
  * `KernelAllocationSpec` pins what that costs. Each case records its time;
  * the bounds are far above it. */
class LongInputSpec extends SparkSuite {
  import Surfaces._

  // Start the session outside the timed reads.
  override def beforeAll(): Unit = { super.beforeAll(); nextQueryRuns(spark) }

  private val Head =
    """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" xmlns:ex="http://e.org/">""" +
      """<rdf:Description rdf:about="http://e.org/s">"""
  private val Tail = "</rdf:Description></rdf:RDF>"

  private val Items = 100000

  test(s"a Collection of $Items items gives its list on every surface, and the session lives on") {
    val doc = Head + """<ex:list rdf:parseType="Collection">""" +
      (0 until Items).map(i => s"""<rdf:Description rdf:about="http://e.org/i$i"/>""").mkString +
      "</ex:list>" + Tail
    val first = s"<${RdfVocab.RDF}first>"
    val rest = s"<${RdfVocab.RDF}rest>"
    val nil = s"<${RdfVocab.RDF}nil>"

    /** The rows as (subj, pred, obj) are `<s> <list> head`, then one
      * `rdf:first` and one `rdf:rest` per item, the items in order, down one
      * chain of list nodes to `rdf:nil`. */
    def assertList(rows: Seq[(String, String, String)]): Unit = {
      assert(rows.length == 1 + 2 * Items)
      val head = rows.collect { case ("<http://e.org/s>", "<http://e.org/list>", o) => o }
      assert(head.length == 1)
      assert(rows.collect { case (_, `first`, o) => o } == (0 until Items).map(i => s"<http://e.org/i$i>"))
      val links = rows.collect { case (s, `rest`, o) => (s, o) }.toMap
      assert(links.size == Items)
      var node = head.head
      var steps = 0
      while (node != nil) { node = links(node); steps += 1 }
      assert(steps == Items)
    }

    val (kernel, kernelS) = seconds(RdfXmlParser.parse(doc).fold(e => fail(e.toString), identity))
    info(f"RdfXmlParser.parse: $kernelS%.2f s")
    assertList(kernel.map(t => (t.subj.ntriples, t.pred.ntriples, t.obj.ntriples)))
    assert(kernelS < 20)

    val (files, fileS) = seconds(fromFile(spark, doc, "subj", "pred", "obj"))
    info(f"""format("rdfxml"): $fileS%.2f s""")
    assertList(files.toSeq.map(r => (r.getString(0), r.getString(1), r.getString(2))))
    assert(fileS < 30)
    nextQueryRuns(spark)

    val (turns, turnsS) = seconds(fromTurns(spark, doc))
    info(f"ParseStage.parseTurns: $turnsS%.2f s")
    assertList(turns.toSeq.map(r => (r.subj, r.pred, r.obj)))
    assert(turnsS < 30)
    nextQueryRuns(spark)
  }

  private val LiteralChars = 16 << 20

  test(s"a literal of $LiteralChars chars gives its row on every surface, and the session lives on") {
    val literal = ("lorem ipsum dolor sit amet " * (LiteralChars / 27 + 1)).take(LiteralChars)
    val doc = Head + s"<ex:p>$literal</ex:p>" + Tail

    val (kernel, kernelS) = seconds(RdfXmlParser.parse(doc).fold(e => fail(e.toString), identity))
    info(f"RdfXmlParser.parse: $kernelS%.2f s")
    assert(kernel.length == 1 && kernel.head.obj.ntriples == "\"" + literal + "\"")
    assert(kernelS < 20)

    val (files, fileS) = seconds(fromFile(spark, doc, "obj", "lexical", "error"))
    info(f"""format("rdfxml"): $fileS%.2f s""")
    assert(files.length == 1 && files.head.isNullAt(2))
    assert(files.head.getString(1) == literal && files.head.getString(0) == "\"" + literal + "\"")
    assert(fileS < 30)
    nextQueryRuns(spark)

    val (turns, turnsS) = seconds(fromTurns(spark, doc))
    info(f"ParseStage.parseTurns: $turnsS%.2f s")
    assert(turns.length == 1 && turns.head.error == null && turns.head.lexical == literal)
    assert(turnsS < 30)
    nextQueryRuns(spark)
  }
}
