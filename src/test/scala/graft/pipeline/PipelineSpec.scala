package graft.pipeline

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
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
    assert(subjects == Set("_:c1_0_1", "_:c1_2_1", "_:c2_0_1"))
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
    val (df1, r1) = Materialize.snapshotStage(spark, "s", dir, "")(_ => compute)
    assert(!r1.reused && r1.rows == 2 && computes == 1)
    val (df2, r2) = Materialize.snapshotStage(spark, "s", dir, "")(_ => compute)
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

  /** Spark jobs of a fresh `KgPipeline.run` over sf0.001 in this session. */
  private val FreshJobs = 13

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
    val graph = Materialize.triples(spark.emptyDataFrame, s"$out/graph",
      Materialize.inputFingerprint(s"$sfDir/documents.parquet"))
    assert(graph.reused && graph.counters.size == Materialize.PredBuckets &&
      graph.counters.values.sum == graph.rows && graph.rows == stats.triples)
  }

  test("a fresh KgPipeline.run launches a pinned number of Spark jobs") {
    val out = Files.createTempDirectory("graft_kg_jobs").toString
    val (stats, jobs) = jobsOf(KgPipeline.run(spark, sfDir, out))
    assert(stats.reusedStages == 0)
    assert(jobs == FreshJobs, s"a fresh KgPipeline.run launched $jobs Spark job(s)")
  }

  test("a fresh KgPipeline.run starts no chmod process and writes the permission bits Hadoop's chmod gave") {
    val out = Files.createTempDirectory("graft_kg_chmod")
    val (stats, commands) = Processes.processesOf(KgPipeline.run(spark, sfDir, out.toString))
    assert(stats.reusedStages == 0)
    val chmods = Processes.running(commands, "chmod")
    assert(chmods.size == 0, s"a fresh KgPipeline.run started ${chmods.size} chmod process(es), first ${chmods.headOption}")
    // Hadoop's default umask 022: rw-r--r-- files, rwxr-xr-x directories,
    // each file beside its checksum
    for (stage <- Seq("parse", "mentions", "canonical", "triples_all", "graph", "adjacency")) {
      val data = out.resolve(stage).resolve("data")
      val paths = scala.util.Using.resource(Files.walk(data))(_.iterator.asScala.toList)
      paths.foreach { p =>
        val expected = if (Files.isDirectory(p)) "rwxr-xr-x" else "rw-r--r--"
        assert(java.nio.file.attribute.PosixFilePermissions.toString(Files.getPosixFilePermissions(p)) == expected, p)
      }
      val files = paths.filter(Files.isRegularFile(_)).map(_.getFileName.toString)
      assert(files.contains("_SUCCESS") && files.exists(_.endsWith(".parquet")), stage)
      // the driver-side components are one partition, so one file
      if (stage == "canonical") assert(files.count(_.endsWith(".parquet")) == 1)
      files.filterNot(_.endsWith(".crc")).foreach(f => assert(files.contains(s".$f.crc"), s"$stage/$f"))
    }
    assert(KgPipeline.run(spark, sfDir, out.toString).reusedStages == 6)
  }

  test("a second fresh KgPipeline.run compiles no generated class") {
    // Spark's codegen cache holds 100 classes (spark.sql.codegen.cache
    // .maxEntries, a static conf) in 4 LRU segments of 25, keyed by class
    // loader and code. A build whose classes overfill a segment evicts, on
    // every run, what its next run needs, so every warm build recompiles.
    // A build's 57 keys overfill one in about 0.2% of JVMs (the segment
    // follows the class loaders' identity hashes); 78 did in about 24%.
    import org.apache.spark.metrics.source.CodegenMetrics
    KgPipeline.run(spark, sfDir, Files.createTempDirectory("graft_kg_codegen").toString)
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val stats = KgPipeline.run(spark, sfDir, Files.createTempDirectory("graft_kg_codegen").toString)
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    assert(stats.reusedStages == 0)
    assert(compiled == 0, s"a second fresh KgPipeline.run compiled $compiled generated class(es)")
  }

  test("a changed input recomputes every stage; the same input again reuses all six") {
    val base = Files.createTempDirectory("graft_kg_inputs")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    def input(name: String, keep: org.apache.spark.sql.Column): String = {
      val dir = base.resolve(name).toString
      docs.filter(keep).write.parquet(s"$dir/documents.parquet")
      dir
    }
    val a = input("a", col("doc_id") < 300)
    val b = input("b", col("doc_id") < 200)
    val out = base.resolve("out").toString
    val onA = KgPipeline.run(spark, a, out)
    val onB = KgPipeline.run(spark, b, out)
    val freshB = KgPipeline.run(spark, b, base.resolve("fresh_b").toString)
    assert(onA.reusedStages == 0 && onA.turns == 600 && freshB.turns == 400)
    assert(onB == freshB, "the second input must not reuse the first input's snapshots")
    val (again, jobs) = jobsOf(KgPipeline.run(spark, b, out))
    assert(again == freshB.copy(reusedStages = 6) && jobs == 0)
  }

  test("a stage that fails in one branch: the other branch runs to the end and is reused next time") {
    val fresh = KgPipeline.run(spark, sfDir, Files.createTempDirectory("graft_kg_ref").toString)
    def manifest(out: String, stage: String) = java.nio.file.Paths.get(out, stage, "_meta", "manifest.json")
    // A directory where a stage's manifest temp file goes: the stage writes
    // its data, then its commit fails, as a crash before the rename would.
    def block(out: String, stage: String) =
      Files.createDirectories(java.nio.file.Paths.get(out, stage, "_meta", ".manifest.json.tmp", "blocker"))
    def unblock(out: String, stage: String) = {
      val tmp = java.nio.file.Paths.get(out, stage, "_meta", ".manifest.json.tmp")
      Files.delete(tmp.resolve("blocker")); Files.delete(tmp)
    }

    // parse, on the calling thread, fails; mentions → canonical still commit
    val one = Files.createTempDirectory("graft_kg_fail1").toString
    block(one, "parse")
    val e1 = intercept[java.io.IOException](KgPipeline.run(spark, sfDir, one))
    assert(e1.getMessage.contains("parse/_meta") && e1.getSuppressed.isEmpty, e1)
    assert(!Files.exists(manifest(one, "parse")))
    assert(Files.exists(manifest(one, "mentions")) && Files.exists(manifest(one, "canonical")))
    assert(!Files.exists(java.nio.file.Paths.get(one, "triples_all")))
    unblock(one, "parse")
    assert(KgPipeline.run(spark, sfDir, one) == fresh.copy(reusedStages = 2))

    // both branches fail: the first failure is thrown, the other suppressed
    val two = Files.createTempDirectory("graft_kg_fail2").toString
    block(two, "parse")
    block(two, "canonical")
    val e2 = intercept[java.io.IOException](KgPipeline.run(spark, sfDir, two))
    val failures = (e2 +: e2.getSuppressed.toSeq).map(_.getMessage)
    assert(failures.size == 2 && failures.exists(_.contains("parse/_meta")) &&
      failures.exists(_.contains("canonical/_meta")), failures)
    assert(!Files.exists(manifest(two, "parse")) && !Files.exists(manifest(two, "canonical")))
    assert(Files.exists(manifest(two, "mentions")))
    unblock(two, "parse")
    unblock(two, "canonical")
    assert(KgPipeline.run(spark, sfDir, two) == fresh.copy(reusedStages = 1))
  }

  /** The adjacency formulation the one-exchange plan replaced: a
    * `groupBy(subj)`, a window on `subj`, a join and a `repartition`. */
  private def referenceAdjacency(rows: DataFrame, maxFanout: Int, subjBuckets: Int = 64): DataFrame = {
    val triples = rows.filter(col("error").isNull)
    val degrees = triples.groupBy("subj")
      .agg(count(lit(1)).as("degree"), countDistinct(col("pred")).as("n_pred"))
    val w = Window.partitionBy("subj").orderBy("pred", "obj")
    val capped = triples.select(col("subj"), col("pred"), col("obj"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= maxFanout)
      .groupBy("subj")
      .agg(sort_array(collect_list(struct(col("pred"), col("obj")))).as("edges"))
    degrees.join(capped, "subj")
      .withColumn("subj_hash", pmod(xxhash64(col("subj")), lit(subjBuckets)).cast("int"))
      .repartition(col("subj_hash")).sortWithinPartitions("subj")
  }

  private def bag(df: DataFrame): Map[Row, Int] =
    df.select("subj", "degree", "n_pred", "edges", "subj_hash").collect().toSeq
      .groupBy(identity).map { case (r, rs) => r -> rs.size }

  test("adjacency: the one-exchange table equals the four-exchange formulation, also over maxFanout") {
    import spark.implicits._
    val parsed = ParseStage.parsedTranscripts(spark, sfDir).toDF()
    // duplicate (pred, obj) rows, an error row, and subjects over a small cap
    val small = Seq(
      ("<s1>", "<p1>", "<o1>", null: String), ("<s1>", "<p1>", "<o1>", null), ("<s1>", "<p2>", "<o0>", null),
      ("<s1>", "<p0>", "<o9>", null), ("<s1>", "<p2>", "<o3>", "bad"), ("<s2>", "<p1>", "<o1>", null),
      ("<s3>", "<p3>", "\"x\"", null), ("<s3>", "<p3>", "\"y\"", null), ("<s3>", "<p3>", "\"z\"", null),
    ).toDF("subj", "pred", "obj", "error")
    for ((rows, fanout) <- Seq(parsed -> 1024, parsed -> 3, small -> 2)) {
      val dir = Files.createTempDirectory("graft_adj").toString
      Materialize.adjacency(rows, dir, "", maxFanout = fanout)
      val got = spark.read.parquet(s"$dir/data")
      // a subject whose fan-out is over the cap (the hub: 1030 > 1024)
      assert(got.filter(col("degree") > fanout && size(col("edges")) === fanout).count() > 0)
      assert(bag(got) == bag(referenceAdjacency(rows, fanout)), s"maxFanout $fanout")
    }
  }

  test("the adjacency write plans exactly one shuffle exchange") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.util.QueryExecutionListener
    val dir = Files.createTempDirectory("graft_adj_plan").toString
    // the rows come from a parquet scan, as triples_all does in the pipeline,
    // so every exchange in the plan is the adjacency's own
    ParseStage.parsedTranscripts(spark, sfDir).write.parquet(s"$dir/in")
    val rows = spark.read.parquet(s"$dir/in")
    val writes = new java.util.concurrent.LinkedBlockingQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.executedPlan.toString.contains(s"$dir/data")) writes.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val write = try {
      Materialize.adjacency(rows, dir, "")
      writes.poll(30, java.util.concurrent.TimeUnit.SECONDS)
    } finally spark.listenerManager.unregister(listener)
    assert(write != null, "the adjacency write was not seen")
    val aqe = new AdaptiveSparkPlanHelper {}
    val shuffles = aqe.collectWithSubqueries(write.executedPlan) { case x: ShuffleExchangeLike => x }
    assert(shuffles.size == 1, write.executedPlan)
  }

  test("a truncated or missing manifest, a missing counter or a missing data file forces a recompute") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_snap_trunc").toString
    var computes = 0
    def compute = { computes += 1; Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v") }
    val manifest = java.nio.file.Paths.get(dir, "_meta", "manifest.json")
    val (_, r1) = Materialize.snapshotStage(spark, "s", dir, "")(_ => compute)
    assert(!r1.reused && r1.rows == 3 && computes == 1)
    val text = Files.readString(manifest)
    Files.writeString(manifest, text.take(text.length / 2))
    val (df2, r2) = Materialize.snapshotStage(spark, "s", dir, "")(_ => compute)
    assert(!r2.reused && r2.rows == 3 && computes == 2)
    assert(df2.count() == 3)
    Files.delete(manifest)
    val (_, r3) = Materialize.snapshotStage(spark, "s", dir, "")(_ => compute)
    assert(!r3.reused && computes == 3)
    val (df4, r4) = Materialize.snapshotStage(spark, "s", dir, "")(_ => compute)
    assert(r4.reused && r4.rows == 3 && computes == 3)
    // the resumed frame reads with the recorded schema, as inference would
    assert(df4.schema == spark.read.parquet(s"$dir/data").schema)
    // the stage gained a counter the manifest lacks: recompute, then reuse
    val nB = Seq("n_b" -> count(when(col("v") === "b", 1)))
    val (_, r4b) = Materialize.snapshotStage(spark, "s", dir, "", nB)(_ => compute)
    assert(!r4b.reused && r4b.counters == Map("n_b" -> 1L) && computes == 4)
    val (_, r4c) = Materialize.snapshotStage(spark, "s", dir, "", nB)(_ => compute)
    assert(r4c.reused && r4c.counters == Map("n_b" -> 1L) && computes == 4)
    val (_, r4d) = Materialize.snapshotStage(spark, "s", dir, "", inputCounters = Seq("rows_in")) { in =>
      in.count(compute, "rows_in")
    }
    assert(!r4d.reused && r4d.counters == Map("rows_in" -> 3L) && computes == 5)
    // a data file the manifest lists is gone: recompute, not a short read
    Files.list(java.nio.file.Paths.get(dir, "data")).filter(_.getFileName.toString.startsWith("part-"))
      .findFirst().ifPresent(p => Files.delete(p))
    val (df5, r5) = Materialize.snapshotStage(spark, "s", dir, "")(_ => compute)
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
