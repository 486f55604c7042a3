package graft.rdf

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Total-function properties of the parse kernel: any input string yields
  * Left(ParseError) or Right(triples) — never an escaped exception (the
  * per-document error channel R28 depends on this at corpus scale: one
  * weird document must never kill a task), and chunking never changes the
  * result (reference `_transform` chunk-boundary semantics, E1/E3).
  * Raw ScalaCheck generators with fixed seeds (no scalatestplus bridge in
  * the offline cache).
  */
class FuzzSpec extends AnyFunSuite {

  private val xmlish: Gen[String] = {
    val tokens = Gen.oneOf(
      "<", ">", "/>", "</", "rdf:RDF", "rdf:Description", "rdf:about", "rdf:ID",
      "rdf:nodeID", "rdf:resource", "rdf:parseType", "=", "\"", "'", " ",
      "xmlns:rdf=\"http://www.w3.org/1999/02/22-rdf-syntax-ns#\"",
      "xmlns:ex=\"http://e.org/\"", "ex:p", "&amp;", "&x;", "&", ";",
      "<!--", "-->", "<![CDATA[", "]]>", "<!DOCTYPE", "<?xml", "?>",
      "text", "http://e.org/x", "é", "\n", "Literal", "Resource", "Collection",
    )
    Gen.listOf(tokens).map(_.mkString)
  }

  private def samples(gen: Gen[String], n: Int): Seq[String] =
    (0 until n).flatMap(i => gen(Gen.Parameters.default.withSize(20 + i % 60), Seed(i.toLong)))

  test("property: parse is total — any input → Left or Right, never a throw") {
    samples(xmlish, 500).foreach { s =>
      RdfXmlParser.parse(s) match {
        case Left(ParseError(msg)) => assert(msg != null)
        case Right(ts)             => assert(ts != null)
      }
    }
  }

  test("property: chunked writes produce the same result as one-shot parse") {
    val doc = """<?xml version="1.0"?><rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" xmlns:ex="http://e.org/"><rdf:Description rdf:about="http://e.org/s"><ex:p xml:lang="en">v&amp;w</ex:p><ex:q rdf:resource="http://e.org/o"/><ex:r rdf:parseType="Resource"><ex:s>t</ex:s></ex:r></rdf:Description></rdf:RDF>"""
    val oneShot = RdfXmlParser.parse(doc)
    assert(oneShot.isRight && oneShot.toOption.get.length == 4)
    (1 to doc.length).foreach { n =>
      val out = scala.collection.mutable.ArrayBuffer.empty[Triple]
      val p = RdfXmlParser.streaming(ParserOptions())(out += _)
      doc.grouped(n).foreach(p.write)
      p.end()
      assert(Right(out.toVector) == oneShot, s"chunk size $n")
    }
  }

  test("property: trackPosition line/column identical across chunk sizes (newline cache survives rebasing)") {
    val doc = "<?xml version=\"1.0\"?>\n" +
      "<rdf:RDF xmlns:rdf=\"http://www.w3.org/1999/02/22-rdf-syntax-ns#\">\n" +
      "  <rdf:Description rdf:about=\"http://e.org/x\"\n" +
      "      rdf:nodeID=\"abc\"/>\n" +
      "</rdf:RDF>"
    val opts = ParserOptions(trackPosition = true)
    val Left(ParseError(oneShot)) = RdfXmlParser.parse(doc, opts)
    assert(oneShot.startsWith("Line "), oneShot)
    (1 to doc.length).foreach { n =>
      val msg =
        try {
          val p = RdfXmlParser.streaming(opts)(_ => ())
          doc.grouped(n).foreach(p.write)
          p.end()
          fail(s"chunk size $n: expected a parse error")
        } catch { case e: Exception => e.getMessage }
      assert(msg == oneShot, s"chunk size $n")
    }
  }

  test("large minified single-line document parses in linear time") {
    // Regression pin for the advance() newline cache: an unbounded
    // indexOf('\n') per construct re-scans to end-of-buffer on every tag of
    // a newline-free document — 50k elements × ~4 MB ≈ 2×10¹¹ char reads
    // (minutes); the cached scan is one pass (well under a second).
    val sb = new StringBuilder
    sb.append("""<?xml version="1.0"?><rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" xmlns:ex="http://e.org/">""")
    (0 until 50000).foreach(i =>
      sb.append(s"""<rdf:Description rdf:about="http://e.org/s$i"><ex:p>v$i</ex:p></rdf:Description>"""))
    sb.append("</rdf:RDF>")
    val t0 = System.nanoTime()
    val r = RdfXmlParser.parse(sb.toString)
    val secs = (System.nanoTime() - t0) / 1e9
    assert(r.isRight && r.toOption.get.length == 50000)
    assert(secs < 30.0, f"minified parse took $secs%.1f s — newline scan likely quadratic again")
  }

  test("property: chunk-invariance holds across generated feature-mix documents") {
    val rnd = new scala.util.Random(42)
    def fragment(): String = rnd.nextInt(6) match {
      case 0 => s"""<ex:p${rnd.nextInt(3)}>text ${rnd.nextInt(100)}</ex:p${rnd.nextInt(3) /* may mismatch: fine, doc skipped */}>"""
      case 1 => s"""<ex:q rdf:resource="http://e.org/o${rnd.nextInt(10)}"/>"""
      case 2 => s"""<ex:r xml:lang="en">v${rnd.nextInt(10)}</ex:r>"""
      case 3 => s"""<ex:s rdf:parseType="Resource"><ex:t>u</ex:t></ex:s>"""
      case 4 => s"""<ex:c rdf:parseType="Collection"><rdf:Description rdf:about="http://e.org/i${rnd.nextInt(5)}"/></ex:c>"""
      case 5 => s"""<ex:d rdf:datatype="http://www.w3.org/2001/XMLSchema#integer">${rnd.nextInt(100)}</ex:d>"""
    }
    (1 to 50).foreach { i =>
      val body = (1 to 1 + rnd.nextInt(4)).map(_ => fragment()).mkString
      val doc = s"""<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" xmlns:ex="http://e.org/">""" +
        s"""<rdf:Description rdf:about="http://e.org/s$i">$body</rdf:Description></rdf:RDF>"""
      val oneShot = RdfXmlParser.parse(doc)
      (1 to 3).foreach { _ =>
        val n = 1 + rnd.nextInt(doc.length)
        val out = scala.collection.mutable.ArrayBuffer.empty[Triple]
        val p = RdfXmlParser.streaming(ParserOptions())(out += _)
        val chunked =
          try { doc.grouped(n).foreach(p.write); p.end(); Right(out.toVector) }
          catch { case e: Throwable => Left(e.getClass.getName) }
        (oneShot, chunked) match {
          case (Right(a), Right(b)) => assert(a == b, s"doc $i chunk $n")
          case (Left(_), Left(_))   => // both error — same verdict
          case other                => fail(s"doc $i chunk $n verdict mismatch: $other")
        }
      }
    }
  }

  test("property: a chunked write has emitted what a one-shot write of the same prefix emits") {
    // Constructs whose end marker also occurs inside them ('>' in a quoted
    // value, a comment, a CDATA section, a PI or the DOCTYPE's subset), so a
    // chunk edge falls between a false and the true end.
    val rnd = new scala.util.Random(16)
    def part(i: Int): String = rnd.nextInt(7) match {
      case 0 => "<!-- a > b -- > c - -->"
      case 1 => s"<ex:p><![CDATA[x ]] > ]> $i]]></ex:p>"
      case 2 => "<?pi a > b ? c?>"
      case 3 => s"""<ex:q ex:k="a>b" ex:l='c">d'>t$i &g;</ex:q>"""
      case 4 => s"<ex:r>${"text " * rnd.nextInt(30)}$i</ex:r>"
      case 5 => s"""<ex:s rdf:resource="&e;$i"/>"""
      case _ => "\n"
    }
    (1 to 40).foreach { d =>
      val doc = """<!DOCTYPE rdf:RDF [ <!ENTITY e "http://e.org/x"> <!ENTITY g "a>b"> ]>""" + "\n" +
        """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" xmlns:ex="http://e.org/">""" +
        s"""<rdf:Description rdf:about="http://e.org/s$d">""" + (1 to 8).map(part).mkString +
        "</rdf:Description></rdf:RDF>"
      def emitted(prefix: String): Int = {
        var n = 0
        RdfXmlParser.streaming(ParserOptions())(_ => n += 1).write(prefix)
        n
      }
      val n = 1 + rnd.nextInt(12)
      var count = 0
      val p = RdfXmlParser.streaming(ParserOptions())(_ => count += 1)
      var written = 0
      doc.grouped(n).foreach { c =>
        p.write(c)
        written += c.length
        assert(count == emitted(doc.substring(0, written)), s"doc $d chunk $n after $written chars")
      }
      p.end()
      assert(Right(count) == RdfXmlParser.parse(doc).map(_.length), s"doc $d chunk $n")
    }
  }

  test("property: parse is deterministic (same input → same output)") {
    samples(xmlish, 200).foreach { s =>
      assert(RdfXmlParser.parse(s) == RdfXmlParser.parse(s))
    }
  }
}
