package graft.pipeline

import java.nio.file.Files
import org.apache.spark.sql.functions._

class PipelineSpec extends SparkSuite {

  test("parse error channel: bad documents become error rows, not failures") {
    import spark.implicits._
    val turns = Seq(
      ("c1", 0, """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"><rdf:Description rdf:about="http://e.org/s" rdf:nodeID="x"/></rdf:RDF>"""),
      ("c1", 1, """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" xmlns:ex="http://e.org/"><rdf:Description rdf:about="http://e.org/s"><ex:p>v</ex:p></rdf:Description></rdf:RDF>"""),
      ("c1", 2, "<not-xml"),
    ).toDF("conv_id", "turn_idx", "text")
    val rows = ParseStage.parseTurns(turns).collect()
    val errors = rows.filter(_.error != null)
    val ok = rows.filter(_.error == null)
    assert(errors.length == 2)
    assert(errors.map(_.turn_idx).toSet == Set(0, 2))
    assert(errors.find(_.turn_idx == 0).get.error.startsWith("Only one of rdf:about"))
    assert(ok.map(_.obj) sameElements Array("\"v\""))
  }

  test("blank node relabeling is canonical and globally unique") {
    import spark.implicits._
    val doc = """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" xmlns:ex="http://e.org/"><rdf:Description><ex:p>v</ex:p></rdf:Description></rdf:RDF>"""
    val turns = Seq(("c1", 0, doc), ("c1", 2, doc), ("c2", 0, doc)).toDF("conv_id", "turn_idx", "text")
    val subjects = ParseStage.parseTurns(turns).collect().map(_.subj).toSet
    assert(subjects == Set("_:c1_0_b0", "_:c1_2_b0", "_:c2_0_b0"))
  }

  test("parseQuads stamps the configured default graph on every quad (ref test:1189-1201)") {
    import spark.implicits._
    val doc = """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" xmlns:dc="http://purl.org/dc/elements/1.1/"><rdf:Description dc:title="RDF1.1 XML Syntax"></rdf:Description></rdf:RDF>"""
    val turns = Seq(("c1", 0, doc)).toDF("conv_id", "turn_idx", "text")
    val custom = ParseStage.parseQuads(turns, graft.rdf.ParserOptions(defaultGraph = "http://example.org/g1")).collect()
    assert(custom.length == 1 && custom.head.getAs[String]("graph") == "http://example.org/g1")
    assert(custom.head.getAs[String]("pred") == "<http://purl.org/dc/elements/1.1/title>")
    val dflt = ParseStage.parseQuads(turns).collect()
    assert(dflt.head.getAs[String]("graph") == null)
  }

  test("conversation reconstruction flags non-dense turn indexes") {
    import spark.implicits._
    val turns = Seq(
      ("c1", 0, "user", "a", null, java.sql.Timestamp.valueOf("2026-01-01 00:00:00")),
      ("c1", 1, "user", "b", null, java.sql.Timestamp.valueOf("2026-01-01 00:00:01")),
      ("c2", 0, "user", "c", null, java.sql.Timestamp.valueOf("2026-01-01 00:00:02")),
      ("c2", 5, "user", "d", null, java.sql.Timestamp.valueOf("2026-01-01 00:00:03")),
    ).toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val rec = ParseStage.reconstructConversations(turns)
    assert(rec.filter(col("dense")).count() == 3)
    assert(rec.filter(!col("dense")).select("conv_id", "turn_idx").as[(String, Int)].collect().toSet == Set(("c2", 5)))
  }

  test("snapshot stages are resumable: second run reuses, compute not re-executed") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_snap").toString
    var computes = 0
    def compute = { computes += 1; Seq((1, "a"), (2, "b")).toDF("id", "v") }
    val (df1, r1) = Materialize.snapshotStage(spark, "s", dir)(_ => compute)
    assert(!r1.reused && r1.rows == 2 && computes == 1)
    val (df2, r2) = Materialize.snapshotStage(spark, "s", dir)(_ => compute)
    assert(r2.reused && computes == 1)
    assert(df2.collect().map(_.getInt(0)).sorted sameElements Array(1, 2))
    assert(Files.readString(java.nio.file.Paths.get(dir, "_meta", "manifest.json")).contains("\"rows\":2"))
  }

  test("KgPipeline end-to-end + resume") {
    val out = Files.createTempDirectory("graft_kg").toString
    val stats = KgPipeline.run(spark, sfDir, out)
    assert(stats.turns == 1000)
    assert(stats.triples > 2400) // parsed triples + sameAs triples
    // the corpus seeds doc_id % 65 == 63 as malformed (7 of 500 at sf0.001):
    // the pipeline surfaces them on the error channel without failing
    assert(stats.parseErrors == 7)
    // 2 occurrences per prose turn (500 turns) + the seeded doc-11
    // celebrity burst (Transcripts.HubMentions distinct binary mentions)
    assert(stats.mentions == 1000 + Transcripts.HubMentions)
    assert(stats.entities > 0 && stats.entities < 70)
    assert(stats.reusedStages == 0)
    // HLL at rsd=0.02 must land within ~3x rsd of the exact distinct count
    val exactSubjects = spark.read.parquet(s"$out/triples_all/data").select("subj").distinct().count()
    assert(math.abs(stats.subjectsApprox - exactSubjects).toDouble / exactSubjects < 0.06,
      s"approx=${stats.subjectsApprox} exact=$exactSubjects")
    val stats2 = KgPipeline.run(spark, sfDir, out)
    assert(stats2.reusedStages == 6)
    assert(stats2.triples == stats.triples)
    // materialized layout: pred_bucket partition dirs exist
    val graphDirs = new java.io.File(s"$out/graph/data").listFiles().map(_.getName).filter(_.startsWith("pred_bucket="))
    assert(graphDirs.nonEmpty)
    // adjacency table: exact degree, capped deterministic edge list
    val adj = spark.read.parquet(s"$out/adjacency/data")
    assert(adj.count() > 0)
    val r = adj.selectExpr("max(degree)", "max(size(edges))", "min(size(edges))").head()
    assert(r.getLong(0) >= r.getInt(1) && r.getInt(2) >= 1)
  }

  /** Spark jobs `f` launches, counted by a listener. A sentinel job closes
    * the window: the listener bus is FIFO, so once the sentinel's JobStart
    * has arrived every job `f` launched has been counted. */
  private def jobsOf[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val sentinelSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (js.properties != null && js.properties.getProperty("graft.sentinel") != null) sentinelSeen.countDown()
        else jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val out = f
      sc.setLocalProperty("graft.sentinel", "1")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty("graft.sentinel", null)
      assert(sentinelSeen.await(30, java.util.concurrent.TimeUnit.SECONDS))
      (out, jobs.get())
    } finally sc.removeSparkListener(listener)
  }

  test("PipelineStats from the manifests equal the recomputing derivations; a resume launches no Spark job") {
    val out = Files.createTempDirectory("graft_kg_stats").toString
    val stats = KgPipeline.run(spark, sfDir, out)
    // reference formulations: the six actions that rebuilt the stats from
    // the transcripts and the snapshots before the stages counted their rows
    def snap(stage: String) = spark.read.parquet(s"$out/$stage/data")
    val allTriples = snap("triples_all")
    val reference = KgPipeline.PipelineStats(
      turns = Transcripts.transcripts(spark, sfDir).count(),
      triples = allTriples.count(),
      parseErrors = snap("parse").filter(col("error").isNotNull).count(),
      mentions = snap("mentions").count(),
      entities = snap("canonical").select("component").distinct().count(),
      subjectsApprox = allTriples.agg(approx_count_distinct("subj", 0.02)).head().getLong(0),
      reusedStages = 0)
    assert(stats == reference)
    val (resumed, jobs) = jobsOf(KgPipeline.run(spark, sfDir, out))
    assert(jobs == 0, s"a resumed KgPipeline.run launched $jobs Spark job(s)")
    assert(resumed == stats.copy(reusedStages = 6))
    // the triple table's per-bucket counters add up to its rows
    val graph = Materialize.triples(spark.emptyDataFrame, s"$out/graph")
    assert(graph.reused && graph.counters.size == Materialize.PredBuckets &&
      graph.counters.values.sum == graph.rows && graph.rows == stats.triples)
  }

  test("a truncated or missing manifest, a missing counter or a missing data file forces a recompute") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_snap_trunc").toString
    var computes = 0
    def compute = { computes += 1; Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v") }
    val manifest = java.nio.file.Paths.get(dir, "_meta", "manifest.json")
    val (_, r1) = Materialize.snapshotStage(spark, "s", dir)(_ => compute)
    assert(!r1.reused && r1.rows == 3 && computes == 1)
    val text = Files.readString(manifest)
    Files.writeString(manifest, text.take(text.length / 2))
    val (df2, r2) = Materialize.snapshotStage(spark, "s", dir)(_ => compute)
    assert(!r2.reused && r2.rows == 3 && computes == 2)
    assert(df2.count() == 3)
    Files.delete(manifest)
    val (_, r3) = Materialize.snapshotStage(spark, "s", dir)(_ => compute)
    assert(!r3.reused && computes == 3)
    val (df4, r4) = Materialize.snapshotStage(spark, "s", dir)(_ => compute)
    assert(r4.reused && r4.rows == 3 && computes == 3)
    // the resumed frame reads with the recorded schema, as inference would
    assert(df4.schema == spark.read.parquet(s"$dir/data").schema)
    // the stage gained a counter the manifest lacks: recompute, then reuse
    val nB = Seq("n_b" -> count(when(col("v") === "b", 1)))
    val (_, r4b) = Materialize.snapshotStage(spark, "s", dir, nB)(_ => compute)
    assert(!r4b.reused && r4b.counters == Map("n_b" -> 1L) && computes == 4)
    val (_, r4c) = Materialize.snapshotStage(spark, "s", dir, nB)(_ => compute)
    assert(r4c.reused && r4c.counters == Map("n_b" -> 1L) && computes == 4)
    val (_, r4d) = Materialize.snapshotStage(spark, "s", dir, inputCounters = Seq("rows_in")) { in =>
      in.count(compute, "rows_in")
    }
    assert(!r4d.reused && r4d.counters == Map("rows_in" -> 3L) && computes == 5)
    // a data file the manifest lists is gone: recompute, not a short read
    Files.list(java.nio.file.Paths.get(dir, "data")).filter(_.getFileName.toString.startsWith("part-"))
      .findFirst().ifPresent(p => Files.delete(p))
    val (df5, r5) = Materialize.snapshotStage(spark, "s", dir)(_ => compute)
    assert(!r5.reused && computes == 6 && df5.count() == 3)
    assert(!Files.list(manifest.getParent).anyMatch(_.getFileName.toString.endsWith(".tmp")))
  }

  test("ntriples text sink: canonical line-per-triple output, parse round-trip") {
    import spark.implicits._
    val dir = Files.createTempDirectory("nt_sink").toString
    val parsed = ParseStage.parsedTranscripts(spark, "/root/testdata/sf0.001")
      .filter(col("turn_idx") === 0) // deterministic subset
    Materialize.ntriples(parsed.toDF(), dir)
    val lines = spark.read.text(dir).as[String].collect()
    assert(lines.nonEmpty && lines.forall(_.endsWith(" .")))
    // every line is exactly "<subj> <pred> <obj> ." over the canonical terms
    val expected = parsed.filter(col("error").isNull)
      .select(concat_ws(" ", col("subj"), col("pred"), col("obj"), lit(".")))
      .as[String].collect().sorted.toSeq
    assert(lines.sorted.toSeq == expected)
  }

  test("driver contract: SparkEntry.entry returns rows on sf0.001") {
    assert(graft.SparkEntry.entry(spark).count() > 0)
  }

  test("nquads text sink: graph term in fourth position, default graph as plain triple") {
    import spark.implicits._
    val turns = Seq(("c1", 0,
      """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" xmlns:ex="http://e.org/">
        |<rdf:Description rdf:about="http://e.org/s"><ex:p>v</ex:p></rdf:Description></rdf:RDF>""".stripMargin))
      .toDF("conv_id", "turn_idx", "text")
    // named graph: raw IRI option becomes a wrapped term
    val dirG = Files.createTempDirectory("nq_sink_g").toString
    Materialize.nquads(
      ParseStage.parseQuads(turns, graft.rdf.ParserOptions(defaultGraph = "http://e.org/g")), dirG)
    val gLines = spark.read.text(dirG).as[String].collect()
    assert(gLines.toSeq == Seq("""<http://e.org/s> <http://e.org/p> "v" <http://e.org/g> ."""))
    // default graph: plain triple line
    val dirD = Files.createTempDirectory("nq_sink_d").toString
    Materialize.nquads(ParseStage.parseQuads(turns), dirD)
    val dLines = spark.read.text(dirD).as[String].collect()
    assert(dLines.toSeq == Seq("""<http://e.org/s> <http://e.org/p> "v" ."""))
  }

  test("canonical-map broadcast is size-guarded: above the ceiling the join is not broadcast") {
    import spark.implicits._
    val mentions = Seq(("m1", "c-1", 1), ("m2", "c-1", 3), ("m3", "c-2", 1))
      .toDF("mention", "conv_id", "turn_idx")
    val canonical = Seq(("m1", "e1"), ("m2", "e1"), ("m3", "m3")).toDF("node", "component")
    // disable the size-based auto-broadcast so the plan shape reflects the
    // guard's hint alone (tiny test relations would otherwise always
    // broadcast, threshold or not)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val small = KgPipeline.joinCanonical(mentions, canonical, canonicalRows = 3, maxBroadcastRows = 1000000)
      val large = KgPipeline.joinCanonical(mentions, canonical, canonicalRows = 3, maxBroadcastRows = 0)
      assert(small.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
      val largePlan = large.queryExecution.executedPlan.toString
      assert(!largePlan.contains("BroadcastHashJoin"), largePlan) // sort-merge/shuffled-hash fallback
      // both strategies produce the identical join result
      val cols = Seq("mention", "component")
      assert(small.select(cols.map(col): _*).as[(String, String)].collect().toSet ==
        large.select(cols.map(col): _*).as[(String, String)].collect().toSet)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("AQE splits a skewed sort-merge join partition (skew=true in the adaptive plan)") {
    import spark.implicits._
    val confs = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    )
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // one pathological key carrying half the rows
      val big = spark.range(0, 200000)
        .select(when($"id" < 100000, lit("hot")).otherwise(concat(lit("k"), $"id")).as("key"),
          $"id".as("payload"))
      val small = spark.range(0, 500)
        .select(when($"id" === 0, lit("hot")).otherwise(concat(lit("k"), $"id" + 100000)).as("key"),
          $"id".as("dim"))
      val joined = big.join(small, "key")
      // collect() (not count()) so THIS dataset's adaptive plan executes and
      // finalizes — count() spawns a separate QueryExecution.
      assert(joined.collect().length == 100000 + 499)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("isFinalPlan=true"), plan.take(500))
      assert(plan.contains("skew=true"), plan.take(3000))
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("salted join equals plain join") {
    import spark.implicits._
    val big = (1 to 1000).map(i => (s"k${i % 3}", s"v$i")).toDF("key", "payload")
    val small = Seq(("k0", "x"), ("k1", "y"), ("k2", "z")).toDF("key", "dim")
    val plain = big.join(small, "key").select("key", "payload", "dim").collect().toSet
    val salted = Skew.saltedJoin(big, small, "key", "payload", 8).select("key", "payload", "dim").collect().toSet
    assert(plain == salted)
    val hot = Skew.hotKeys(big, "key", 2).collect().map(_.getString(0))
    assert(hot.length == 2)
  }

  test("dictionary encoding: collision-free ids, dict covers terms, decode is an identity") {
    val parsed = ParseStage.parsedTranscripts(spark, sfDir).toDF()
      .filter(col("error").isNull).select("subj", "pred", "obj")
      .localCheckpoint(true)
    val dict = Materialize.termDictionary(parsed).localCheckpoint(true)
    val nTerms = parsed.select(explode(array(col("subj"), col("pred"), col("obj"))).as("t"))
      .distinct().count()
    assert(dict.count() == nTerms)
    // content-hash ids: a collision would make decode fan out; pin directly
    assert(dict.select("term_id").distinct().count() == nTerms, "fnv1a64 id collision")
    val decoded = Materialize.decodeTriples(Materialize.encodeTriples(parsed), dict)
    assert(decoded.count() == parsed.count())
    assert(decoded.exceptAll(parsed).count() == 0 && parsed.exceptAll(decoded).count() == 0)
  }
}
