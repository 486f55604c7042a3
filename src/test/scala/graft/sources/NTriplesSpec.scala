package graft.sources

import graft.pipeline.{Materialize, ParseStage, SparkSuite}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The N-Triples/N-Quads source: sink → source round trip is the identity on
  * the canonical term-text columns, malformed lines go to the error channel,
  * and the scanner survives the hard tokens (literals with spaces and
  * escaped quotes, language/direction/datatype suffixes, nested RDF 1.2
  * triple terms containing ')>>'-lookalike literal text). */
class NTriplesSpec extends SparkSuite {

  private def parsedSample() = {
    import spark.implicits._
    val docs = Seq(
      ("c1", 0,
        """<?xml version="1.0"?>
          |<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" xmlns:eg="http://e.org/" rdf:version="1.2">
          |  <rdf:Description rdf:about="http://e.org/a" xml:lang="en">
          |    <eg:name>spaced out "quoted" value</eg:name>
          |    <eg:n rdf:datatype="http://www.w3.org/2001/XMLSchema#int">5</eg:n>
          |    <eg:friend rdf:nodeID="x"/>
          |    <eg:claim rdf:parseType="Triple">
          |      <rdf:Description rdf:about="http://e.org/s"><eg:p>inner )&gt;&gt; text</eg:p></rdf:Description>
          |    </eg:claim>
          |  </rdf:Description>
          |</rdf:RDF>""".stripMargin),
    ).toDF("conv_id", "turn_idx", "text")
    ParseStage.parseTurns(docs).toDF()
  }

  test("ntriples sink -> source round trip is the identity on term AND decomposed columns") {
    val rows = parsedSample()
    val dir = Files.createTempDirectory("graft_nt").toString
    Materialize.ntriples(rows, dir)
    val back = NTriples.read(spark, dir)
    assert(back.filter(col("error").isNotNull).count() == 0)
    // Decomposed-column parity with the parse stage (r3 verdict: the source
    // previously carried term text only): obj_type/lexical/datatype/lang
    // from the dump tokenizer must equal what the rdfxml parse emitted —
    // including the UNESCAPED lexical value of a quoted literal.
    val cols = Seq("subj", "pred", "obj", "obj_type", "lexical", "datatype", "lang")
    val expected = rows.filter(col("error").isNull)
      .select(cols.head, cols.tail: _*).collect().map(_.toSeq).toSet
    val got = back.select(cols.head, cols.tail: _*).collect().map(_.toSeq).toSet
    assert(got == expected, s"missing=${expected -- got} extra=${got -- expected}")
    assert(expected.exists(_.exists(v => v != null && v.toString.contains("<<(")))) // triple term survived
    assert(expected.exists(r => r(4) != null && r(4).toString.contains("\"quoted\""))) // unescaped lexical
    assert(expected.exists(r => r(5) == "http://www.w3.org/2001/XMLSchema#int")) // bare datatype IRI
  }

  test("decomposed fields: datatype, lang (direction stripped), unescape edge cases") {
    import NTriples.{decomposeObject, unescape}
    assert(decomposeObject("<http://e.org/x>") == Right(("iri", null, null, null)))
    assert(decomposeObject("_:b7") == Right(("bnode", null, null, null)))
    assert(decomposeObject("\"v\"") == Right(("literal", "v", null, null)))
    assert(decomposeObject("\"v\"@en") == Right(("literal", "v", null, "en")))
    // direction is NOT part of the lang column (mirrors the rdfxml source)
    assert(decomposeObject("\"v\"@en--ltr") == Right(("literal", "v", null, "en")))
    assert(decomposeObject("\"5\"^^<http://www.w3.org/2001/XMLSchema#int>") ==
      Right(("literal", "5", "http://www.w3.org/2001/XMLSchema#int", null)))
    assert(decomposeObject("<<( <http://e.org/s> <http://e.org/p> \"o\" )>>") ==
      Right(("triple", null, null, null)))
    assert(decomposeObject("\"a \\\"q\\\" \\n\\t\\\\ end\"") ==
      Right(("literal", "a \"q\" \n\t\\ end", null, null)))
    assert(unescape("\\u0041\\U0001F600") == Right("A😀"))
    assert(unescape("\\x").isLeft)
    assert(unescape("trailing\\").isLeft)
    assert(unescape("\\u00ZZ").isLeft)
    // strict UCHAR hex: Integer.parseInt's sign tolerance must not leak
    // (\u-001 would otherwise emit U+FFFF as a "clean" literal)
    assert(unescape("\\u-001").isLeft)
    assert(unescape("\\u+041").isLeft)
    assert(unescape("\\U-0000001").isLeft)
  }

  test("W3C grammar: whitespace between terms is optional (minimal_whitespace case)") {
    import NTriples.parseLine
    // modeled on rdf-tests ntriples/minimal_whitespace.nt
    val r1 = parseLine("_:subject1<http://an.example/predicate1>\"object1\".", maxTerms = 3)
    assert(r1.exists(_.error == null), r1.toString)
    assert(r1.exists(r => r.subj == "_:subject1" && r.pred == "<http://an.example/predicate1>" &&
      r.obj == "\"object1\""))
    // language tag directly followed by the graph term (N-Quads)
    val r2 = parseLine("<http://e/s><http://e/p>\"x\"@en<http://e/g>.", maxTerms = 4)
    assert(r2.exists(r => r.error == null && r.obj == "\"x\"@en" && r.graph == "<http://e/g>"), r2.toString)
    // blank node label directly followed by a quote-opening object
    val r3 = parseLine("_:b<http://e/p>\"v\" .", maxTerms = 3)
    assert(r3.exists(r => r.error == null && r.subj == "_:b"), r3.toString)
  }

  test("streaming read: two micro-batches equal the batch read; resume is exactly-once") {
    val tmp = Files.createTempDirectory("graft_nt_stream").toString
    val input = s"$tmp/input"
    val out = s"$tmp/out"
    val ckpt = s"$tmp/ckpt"
    new java.io.File(input).mkdirs()
    def writeDump(name: String, id: Int): Unit =
      Files.write(java.nio.file.Paths.get(input, name),
        (s"<http://e.org/d$id> <http://e.org/name> \"doc $id\"@en .\n" +
          s"<http://e.org/d$id> <http://e.org/n> \"$id\"^^<http://www.w3.org/2001/XMLSchema#int> .\n")
          .getBytes("UTF-8"))
    def runOnce(): Unit = {
      val q = NTriples.stream(spark, input)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
    }
    writeDump("a.nt", 1)
    runOnce()
    assert(spark.read.parquet(out).count() == 2, "first micro-batch parses the first dump")
    writeDump("b.nt", 2)
    runOnce()
    val streamed = spark.read.parquet(out)
    assert(streamed.count() == 4, "resume replays only the new file")
    val batch = NTriples.read(spark, input)
    assert(streamed.exceptAll(batch).count() == 0 && batch.exceptAll(streamed).count() == 0,
      "streamed result equals the batch read, path lineage and decomposed columns included")
    // path lineage column mirrors the rdfxml source
    assert(streamed.filter(col("path").endsWith("a.nt")).count() == 2)
  }

  test("nquads sink -> source round trip preserves the graph column") {
    import spark.implicits._
    val rows = Seq(
      ("<http://e.org/s>", "<http://e.org/p>", "\"v w\"@en--ltr", "http://e.org/g", null: String),
      ("<http://e.org/s>", "<http://e.org/p>", "_:b0", null: String, null: String),
    ).toDF("subj", "pred", "obj", "graph", "error")
    val dir = Files.createTempDirectory("graft_nq").toString
    Materialize.nquads(rows, dir)
    val back = NTriples.readQuads(spark, dir).filter(col("error").isNull)
      .select("subj", "pred", "obj", "graph").collect().map(_.toSeq).toSet
    assert(back == Set(
      Seq("<http://e.org/s>", "<http://e.org/p>", "\"v w\"@en--ltr", "<http://e.org/g>"),
      Seq("<http://e.org/s>", "<http://e.org/p>", "_:b0", null)))
  }

  test("W3C grammar: terms directly followed by the terminating dot, interior label dots, trailing comments") {
    // All spec-valid per the N-Triples grammar (r3 ADVICE): a blank-node
    // label or language tag may abut the statement dot, '.' is a legal
    // INTERIOR blank-node-label character, and a comment may follow the dot.
    val dir = Files.createTempDirectory("graft_nt_w3c")
    Files.write(dir.resolve("in.nt"),
      ("<http://e.org/s> <http://e.org/p> _:b0.\n" +
        "<http://e.org/s> <http://e.org/p> \"x\"@en.\n" +
        "<http://e.org/s> <http://e.org/p> \"x\"@en--ltr. # dir tag abutting dot\n" +
        "<http://e.org/s> <http://e.org/p> <http://e.org/o> . # trailing comment\n" +
        "_:a.b <http://e.org/p> _:c.d .\n" +
        "_:a.b <http://e.org/p> _:c.d. # interior dots AND abutting terminator\n").getBytes("UTF-8"))
    val out = NTriples.read(spark, dir.toString)
    val errs = out.filter(col("error").isNotNull).select("error").collect().map(_.getString(0))
    assert(errs.isEmpty, errs.mkString("; "))
    val objs = out.select("obj").collect().map(_.getString(0)).toSeq
    assert(objs.count(_ == "_:b0") == 1)
    assert(objs.count(_ == "\"x\"@en") == 1)
    assert(objs.count(_ == "\"x\"@en--ltr") == 1)
    assert(objs.count(_ == "_:c.d") == 2)
    assert(out.filter(col("subj") === "_:a.b").count() == 2)
  }

  test("property: generated term shapes round-trip serialize -> scan -> decompose (300 triples)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import graft.rdf.{BNode, Iri, Lit, Term, Triple, TripleTerm}
    // Pathological lexical content on purpose: ')>>' inside literals, quotes,
    // newlines/tabs (escaped by the sink), supplementary-plane code points.
    val lexGen: Gen[String] = Gen.oneOf(
      Gen.alphaNumStr,
      Gen.oneOf(")>>", "a )>> b", "<<( fake )>>", "he said \"hi\"", "line\nbreak\ttab",
        "back\\slash", "é😀中", "", " leading and trailing ", "dot . dot"))
    val iriGen: Gen[Term] = Gen.oneOf("http://e.org/a", "http://e.org/b?q=1&r=2", "urn:x:y#z")
      .map(Iri(_))
    val bnodeGen: Gen[Term] = Gen.oneOf("b0", "a.b", "x1.y", "n").map(BNode(_))
    val litGen: Gen[Term] = for {
      lex <- lexGen
      shape <- Gen.choose(0, 3)
    } yield shape match {
      case 0 => Lit(lex)
      case 1 => Lit(lex, datatype = "http://www.w3.org/2001/XMLSchema#int")
      case 2 => Lit(lex, language = "en")
      case 3 => Lit(lex, language = "en", direction = "ltr")
    }
    def termGen(depth: Int): Gen[Term] =
      if (depth <= 0) Gen.oneOf(iriGen, bnodeGen, litGen)
      else Gen.frequency(
        3 -> iriGen, 2 -> bnodeGen, 3 -> litGen,
        1 -> (for { s <- Gen.oneOf(iriGen, bnodeGen); p <- iriGen; o <- termGen(depth - 1) }
          yield TripleTerm(Triple(s, p, o))))
    val tripleGen = for { s <- Gen.oneOf(iriGen, bnodeGen); p <- iriGen; o <- termGen(2) }
      yield Triple(s, p, o)
    val triples = (0 until 300).flatMap(i =>
      tripleGen(Gen.Parameters.default.withSize(30), Seed(i.toLong)))
    assert(triples.size >= 290)
    triples.foreach { t =>
      val line = t.ntriples // "<s> <p> <o> ." — the Materialize.ntriples sink line
      NTriples.parseLine(line, maxTerms = 3) match {
        case Some(row) =>
          assert(row.error == null, s"$line -> ${row.error}")
          assert(row.subj == t.subj.ntriples && row.pred == t.pred.ntriples && row.obj == t.obj.ntriples, line)
          t.obj match {
            case Lit(lex, dt, la, _) =>
              assert(row.obj_type == "literal" && row.lexical == lex &&
                row.datatype == dt && row.lang == la, line)
            case Iri(_) => assert(row.obj_type == "iri", line)
            case BNode(_) => assert(row.obj_type == "bnode", line)
            case TripleTerm(_) => assert(row.obj_type == "triple", line)
          }
        case None => fail(s"line dropped: $line")
      }
    }
  }

  test("comments and blank lines skipped; malformed lines go to the error channel") {
    val dir = Files.createTempDirectory("graft_nt_err")
    Files.write(dir.resolve("in.nt"),
      ("# a comment\n" +
        "\n" +
        "<http://e.org/s> <http://e.org/p> \"ok \\\" quote\"^^<http://e.org/dt> .\n" +
        "<http://e.org/s> <http://e.org/p> \"unterminated .\n" +
        "<http://e.org/s> <http://e.org/p> <http://e.org/o> extra .\n" +
        "<http://e.org/s> <http://e.org/p> <http://e.org/o>\n").getBytes("UTF-8"))
    val out = NTriples.read(spark, dir.toString)
    assert(out.count() == 4) // 2 comment/blank lines produce nothing
    assert(out.filter(col("error").isNull).count() == 1)
    val errs = out.filter(col("error").isNotNull).select("error").collect().map(_.getString(0))
    assert(errs.exists(_.startsWith("Unterminated literal")))
    assert(errs.exists(_.startsWith("Unexpected term start"))) // 'extra' after 3 terms
    assert(errs.exists(_.startsWith("Missing terminating '.'")))
  }
}
