package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.pipeline.SparkSuite

class RdfXmlSourceSpec extends SparkSuite {

  private def writeCorpus(): String = {
    val dir = Files.createTempDirectory("graft_rdfxml_src")
    Files.writeString(dir.resolve("a.rdf"),
      """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" xmlns:ex="http://e.org/">
        |<rdf:Description rdf:about="http://e.org/s1"><ex:p>v1</ex:p><ex:q rdf:resource="http://e.org/o"/></rdf:Description>
        |</rdf:RDF>""".stripMargin)
    Files.writeString(dir.resolve("b.rdf"),
      """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" xmlns:ex="http://e.org/">
        |<rdf:Description><ex:p>anon</ex:p></rdf:Description>
        |</rdf:RDF>""".stripMargin)
    Files.writeString(dir.resolve("bad.rdf"), "<not-closed")
    Files.writeString(dir.resolve("rel.rdf"),
      """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" xmlns:ex="http://e.org/">
        |<rdf:Description rdf:about="frag"><ex:p>rel</ex:p></rdf:Description>
        |</rdf:RDF>""".stripMargin)
    dir.toString
  }

  test("rdfxml DSv2 source: triples, error rows, bnode uniqueness, path lineage") {
    val dir = writeCorpus()
    val df = spark.read.format("rdfxml")
      .option("baseIRI", "http://base.org/")
      .load(dir)
    val rows = df.collect()
    // a.rdf: 2 triples; b.rdf: 1 (bnode subj); bad.rdf: 1 error row; rel.rdf: 1.
    assert(rows.length == 5)
    val errors = rows.filter(_.getAs[String]("error") != null)
    assert(errors.length == 1 && errors.head.getAs[String]("path").endsWith("bad.rdf"))
    val ok = rows.filter(_.getAs[String]("error") == null)
    assert(ok.forall(_.getAs[String]("path").nonEmpty))
    // relative IRI resolved against the option baseIRI
    assert(ok.exists(_.getAs[String]("subj") == "<http://base.org/frag>"))
    // bnode label is prefixed by the full 128-bit path MD5 (collision-safe
    // across millions of files, unlike a truncated prefix)
    val bn = ok.filter(_.getAs[String]("subj").startsWith("_:"))
    assert(bn.length == 1 && bn.head.getAs[String]("subj").matches("_:[0-9a-f]{32}_1"))
  }

  test("rdfxml scan joined against a path list still returns exact results (runtime filter is semantics-free)") {
    val dir = writeCorpus()
    val df = spark.read.format("rdfxml").load(dir)
    import spark.implicits._
    val want = Seq("file:" + dir + "/a.rdf").toDF("path")
    // the scan prunes no file; the join drops the other files' rows
    val joined = df.join(broadcast(want), "path").select("subj", "pred", "obj").collect()
    assert(joined.length == 2) // exactly a.rdf's triples
  }

  test("rdfxml source skips hidden directories at every level (_temporary staging is invisible)") {
    val dir = Files.createTempDirectory("graft_rdfxml_hidden")
    def doc(about: String) =
      s"""<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" xmlns:ex="http://e.org/">
         |<rdf:Description rdf:about="http://e.org/$about"><ex:p>v</ex:p></rdf:Description>
         |</rdf:RDF>""".stripMargin
    java.nio.file.Files.write(dir.resolve("good.rdf"), doc("good").getBytes("UTF-8"))
    // a producer's in-flight commit dir: hidden DIR, normal leaf file name
    val staging = dir.resolve("_temporary").resolve("0")
    java.nio.file.Files.createDirectories(staging)
    java.nio.file.Files.write(staging.resolve("part-00000.rdf"), doc("uncommitted").getBytes("UTF-8"))
    val rows = spark.read.format("rdfxml").load(dir.toString).collect()
    assert(rows.map(_.getAs[String]("subj")).toSet == Set("<http://e.org/good>"))
  }

  test("rdfxml source reads gzip-compressed documents (Hadoop codec by extension)") {
    val dir = Files.createTempDirectory("graft_rdfxml_gz")
    val doc =
      """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" xmlns:ex="http://e.org/">
        |<rdf:Description rdf:about="http://e.org/gz"><ex:p>zipped</ex:p></rdf:Description>
        |</rdf:RDF>""".stripMargin
    val out = new java.util.zip.GZIPOutputStream(
      java.nio.file.Files.newOutputStream(dir.resolve("c.rdf.gz")))
    out.write(doc.getBytes(java.nio.charset.StandardCharsets.UTF_8)); out.close()
    val rows = spark.read.format("rdfxml").load(dir.toString).collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[String]("subj") == "<http://e.org/gz>")
    assert(rows.head.getAs[String]("lexical") == "zipped")
  }

  test("rdfxml source prunes columns down to the reader") {
    val dir = writeCorpus()
    val df = spark.read.format("rdfxml").option("baseIRI", "http://base.org/")
      .load(dir).select("pred")
    val scan = df.queryExecution.executedPlan.collectLeaves().head.toString
    assert(df.collect().length == 5)
    // physical scan reads only the requested column
    assert(scan.contains("pred") && !scan.contains("lexical"), scan)
  }

  test("rdfxml source respects {path} baseIRI placeholder and SQL usage") {
    val dir = writeCorpus()
    val df = spark.read.format("rdfxml")
      .option("baseIRI", "{path}")
      .load(dir)
      .filter(col("error").isNull)
    // rel.rdf's relative subject resolves against its own file URI
    val rel = df.filter(col("path").endsWith("rel.rdf")).select("subj").collect().map(_.getString(0))
    assert(rel.forall(s => s.contains("rel.rdf") || s.contains("frag")), rel.mkString(","))
  }

  test("rdfxml source counts scale by file, independent of partition packing") {
    val dir = writeCorpus()
    val one = spark.read.format("rdfxml").option("baseIRI", "http://b.org/")
      .option("targetPartitionBytes", 1L).load(dir) // one file per partition
    val packed = spark.read.format("rdfxml").option("baseIRI", "http://b.org/")
      .option("targetPartitionBytes", 1L << 30).load(dir) // all files one partition
    assert(one.count() == packed.count())
    assert(one.rdd.getNumPartitions == 4)
    assert(packed.rdd.getNumPartitions == 1)
  }

  test("rdfxml scan ships the session Hadoop configuration, overlaid with scan options") {
    val dir = writeCorpus()
    spark.sparkContext.hadoopConfiguration.set("graft.probe.ctx", "from-context")
    try {
      val opts = new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("path", dir, "graft.probe.opt", "from-option"))
      val scan = new RdfXmlScan(opts, RdfXmlTable.Schema)
      // a bare `new Configuration()` would carry neither of these
      assert(scan.hadoopConf.value.get("graft.probe.ctx") == "from-context")
      assert(scan.hadoopConf.value.get("graft.probe.opt") == "from-option")
      // and the conf actually reaches file listing / the readers
      assert(spark.read.format("rdfxml").option("baseIRI", "http://base.org/")
        .load(dir).count() == 5)
    } finally spark.sparkContext.hadoopConfiguration.unset("graft.probe.ctx")
  }
}
