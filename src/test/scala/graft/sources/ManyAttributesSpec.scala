package graft.sources

import graft.pipeline.SparkSuite
import graft.rdf.{ParseError, RdfXmlParser}

/** One element with very many attributes, or very many namespace
  * declarations, is read in time linear in its size on the kernel,
  * `format("rdfxml")` and `ParseStage.parseTurns`: the duplicate-attribute
  * check is one lookup per attribute, not a comparison with every earlier
  * one. Each case records its time, and the session then runs a next query;
  * the bounds are far above the times and far below what a quadratic check
  * takes at this size (minutes). */
class ManyAttributesSpec extends SparkSuite {
  import Surfaces._

  // Start the session outside the timed reads.
  override def beforeAll(): Unit = { super.beforeAll(); nextQueryRuns(spark) }

  private val N = 200000
  private val Head =
    """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" xmlns:ex="http://e.org/">""" + "\n"

  /** Line 2 holds one `rdf:Description` with `ex:p0` … `ex:p{n-1}`, then
    * `extra`. */
  private def manyAttributes(n: Int, extra: String = ""): String = {
    val sb = new StringBuilder(Head).append("""<rdf:Description rdf:about="http://e.org/s"""")
    (0 until n).foreach(i => sb.append(s""" ex:p$i="$i""""))
    sb.append(extra).append("/>\n</rdf:RDF>\n").toString
  }

  test(s"one element with $N attributes gives its triples within seconds") {
    val doc = manyAttributes(N)
    val (kernel, kernelS) = seconds(RdfXmlParser.parse(doc))
    info(f"RdfXmlParser.parse: $kernelS%.2f s")
    val ts = kernel.fold(e => fail(e.message), identity)
    assert(ts.length == N)
    assert(ts.last.ntriples == s"""<http://e.org/s> <http://e.org/p${N - 1}> "${N - 1}" .""")
    assert(kernelS < 20)

    val (rows, fileS) = seconds(fromFile(spark, doc, "pred", "obj", "error"))
    info(f"""format("rdfxml"): $fileS%.2f s""")
    assert(rows.length == N && rows.forall(_.isNullAt(2)))
    assert(fileS < 30)
    nextQueryRuns(spark)

    val (turns, turnsS) = seconds(fromTurns(spark, doc))
    info(f"ParseStage.parseTurns: $turnsS%.2f s")
    assert(turns.length == N && turns.forall(_.error == null))
    assert(turns.map(_.obj).toSet.size == N)
    assert(turnsS < 30)
    nextQueryRuns(spark)
  }

  test(s"one element with $N namespace declarations gives its triples within seconds") {
    val sb = new StringBuilder(Head).append("""<rdf:Description rdf:about="http://e.org/s"""")
    (0 until N).foreach(i => sb.append(s""" xmlns:n$i="http://e.org/ns$i/""""))
    sb.append(s"><n0:p>first</n0:p><n${N - 1}:p>last</n${N - 1}:p></rdf:Description>\n</rdf:RDF>\n")
    val doc = sb.toString
    val expected = Vector(
      """<http://e.org/s> <http://e.org/ns0/p> "first" .""",
      s"""<http://e.org/s> <http://e.org/ns${N - 1}/p> "last" .""")

    val (kernel, kernelS) = seconds(RdfXmlParser.parse(doc))
    info(f"RdfXmlParser.parse: $kernelS%.2f s")
    assert(kernel.map(_.map(_.ntriples)) == Right(expected))
    assert(kernelS < 20)

    val (rows, fileS) = seconds(fromFile(spark, doc, "pred", "obj", "error"))
    info(f"""format("rdfxml"): $fileS%.2f s""")
    assert(rows.map(_.getString(1)).toSeq == Seq("\"first\"", "\"last\""))
    assert(fileS < 30)
    nextQueryRuns(spark)

    val (turns, turnsS) = seconds(fromTurns(spark, doc))
    info(f"ParseStage.parseTurns: $turnsS%.2f s")
    assert(turns.map(t => (t.pred, t.obj)).toSeq ==
      Seq(("<http://e.org/ns0/p>", "\"first\""), (s"<http://e.org/ns${N - 1}/p>", "\"last\"")))
    assert(turnsS < 30)
    nextQueryRuns(spark)
  }

  test(s"a duplicate as the last of $N attributes fails where the tag ends") {
    val doc = manyAttributes(N, extra = """ ex:p0="again"""")
    val column = doc.split('\n')(1).length // the tag fills line 2
    val message = s"2:$column: Duplicate attribute: ex:p0"
    assert(RdfXmlParser.parse(doc) == Left(ParseError(message)))
    val rows = fromFile(spark, doc, "pred", "obj", "error")
    assert(rows.length == 1 && rows.head.getString(2) == message)
  }
}
