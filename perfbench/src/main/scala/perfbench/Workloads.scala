package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.pipeline._
import graft.rdf.RdfXmlParser

/** The four workloads. Each reports the end-to-end metrics `setup_s`,
  * `wall_s` (median wall of one measured pass) and `items_per_s` (the
  * workload's unit of work over `wall_s`); with tracing on, each adds its
  * per-layer figures from separate traced passes after the measured ones.
  */
object Workloads {

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Runs `f` with a fresh [[LayerListener]] attached. */
  private def traced[T](spark: SparkSession)(f: => T): (T, Double, Map[String, LayerTotals]) = {
    val l = new LayerListener
    spark.sparkContext.addSparkListener(l)
    try {
      val (r, t) = Run.timed(f)
      (r, t, l.totals(spark.sparkContext))
    } finally spark.sparkContext.removeSparkListener(l)
  }

  private def attributedWall(layers: Map[String, LayerTotals]): Double =
    layers.collect { case (l, t) if l != Attribution.Unattributed => t.wallS }.sum

  private def endToEnd(run: Run, walls: Seq[Double], items: Double): Double = {
    val wall = Run.median(walls)
    run.metric("wall_s", wall)
    run.metric("items_per_s", items / wall)
    wall
  }

  /** Writes the DuckDB oracle SQL of `names` for the output checks. */
  private def writeOracle(run: Run, names: Seq[String]): Unit = {
    val p = Paths.get(run.work, "oracle.json")
    Files.writeString(p, names.map(n => s"${Run.q(n)}: ${Run.q(SparkEntry.oracleSql(n))}").mkString("{", ", ", "}"))
    run.checkPath("oracle", p.toString)
  }

  // ------------------------------------------------------------ kg_build

  /** `KgPipeline.run` fresh into an empty directory, then resumed over the
    * finished one; items are the graph's triples. The warm-up cycle writes
    * the graph the output check reads. */
  def kgBuild(spark: SparkSession, run: Run): Unit = {
    val docs = run.inputs
    val kgDir = run.dir("kg")
    def cycle(name: String): (Long, Double, Double) = {
      val out = kgDir.resolve(name)
      Run.deleteTree(out)
      val (f, tf) = Run.timed(KgPipeline.run(spark, docs, out.toString))
      val (r, tr) = Run.timed(KgPipeline.run(spark, docs, out.toString))
      run.op(f.reusedStages == 0, s"fresh run into $name reused ${f.reusedStages} stages")
      run.op(r.reusedStages == 6 && r.copy(reusedStages = 0) == f,
        s"resumed stats $r differ from fresh stats $f")
      (f.triples, tf, tr)
    }
    var triples = 0L
    val (fresh, resumed) = (mutable.ArrayBuffer[Double](), mutable.ArrayBuffer[Double]())
    val walls = run.measure(minPasses = 2) {
      case 0 => cycle("out"); 0.0
      case _ =>
        val (n, tf, tr) = cycle("pass")
        triples = n
        fresh += tf
        resumed += tr
        tf + tr
    }
    val wall = endToEnd(run, walls, triples.toDouble)
    run.checkPath("kg_out", kgDir.resolve("out").toString)
    writeOracle(run, Seq("kg_triples", "kg_parse_errors", "kg_mentions"))
    if (!run.trace) return

    run.metric("kg_fresh_s", Run.median(fresh.toSeq))
    run.metric("kg_resume_s", Run.median(resumed.toSeq))
    run.metric("kg_triples_per_s", triples / Run.median(fresh.toSeq))
    val out = kgDir.resolve("traced").toString
    val (_, tf, freshLayers) = traced(spark)(KgPipeline.run(spark, docs, out))
    val (_, tr, resumeLayers) = traced(spark)(KgPipeline.run(spark, docs, out))
    Attribution.KgLayers.foreach(l => run.metrics(freshLayers.getOrElse(l, LayerTotals.Zero).metrics(l)))
    run.metrics(resumeLayers.getOrElse("KgPipeline.stats", LayerTotals.Zero).metrics("resume.KgPipeline.stats"))
    run.metric("trace.unattributed_s", tf + tr - attributedWall(freshLayers) - attributedWall(resumeLayers))
    run.metric("trace.overhead_pct", 100 * (tf + tr - wall) / wall)
    run.metric("Transcripts.payloadTurns_s",
      Run.median((1 to 3).map(_ => Run.timed(noop(Transcripts.payloadTurns(spark, docs)))._2)))
    linkSplit(spark, run, spark.read.parquet(s"$out/mentions/data").select("mention").distinct())
    val texts = Transcripts.payloadTurns(spark, docs).select("text").collect().map(_.getString(0))
    val one = kernelDocsPerSecond(texts, 1)
    val four = kernelDocsPerSecond(texts, Session.Cores)
    run.metric("kernel.docs_per_s_1t", one)
    run.metric("kernel.docs_per_s_4t", four)
    run.metric("kernel.scaling_eff", four / (Session.Cores * one))
  }

  /** `RdfXmlParser.parse` over `texts` on `threads` plain JVM threads for
    * about a second: documents parsed per second, all threads together. */
  private def kernelDocsPerSecond(texts: Array[String], threads: Int): Double = {
    texts.foreach(t => RdfXmlParser.parse(t))
    val done = new AtomicLong
    val t0 = System.nanoTime()
    val end = t0 + 1000000000L
    val ts = (0 until threads).map { k =>
      new Thread(() => {
        var i = k * texts.length / threads
        var n = 0L
        while (System.nanoTime() < end) { RdfXmlParser.parse(texts(i % texts.length)); i += 1; n += 1 }
        done.addAndGet(n)
      })
    }
    ts.foreach(_.start())
    ts.foreach(_.join())
    done.get / ((System.nanoTime() - t0) / 1e9)
  }

  /** Linking and connected components run as one Spark stage inside the
    * pipeline; direct calls on the same mention universe time them apart
    * and count the blocking yield of the linking layer. */
  private def linkSplit(spark: SparkSession, run: Run, universe: DataFrame): Unit = {
    val sc = spark.sparkContext
    val edgesDir = run.dir("trace_edges").resolve("edges").toString
    val (_, tl, ll) = traced(spark)(LayerListener.scoped(sc, "Linking")(
      Linking.jaccardEdges(universe, 0.5).write.parquet(edgesDir)))
    val edges = spark.read.parquet(edgesDir)
    val (_, tc, cl) = traced(spark)(LayerListener.scoped(sc, "ConnectedComponents")(
      noop(ConnectedComponents.run(edges))))
    val cc = cl.getOrElse("ConnectedComponents", LayerTotals.Zero)
    val n = edges.count()
    run.metrics(ll.getOrElse("Linking", LayerTotals.Zero).copy(wallS = tl).metrics("Linking"))
    run.metrics(cc.copy(wallS = tc).metrics("ConnectedComponents"))
    run.metric("ConnectedComponents.jobs", cc.jobs.toDouble)
    run.metric("ConnectedComponents.distributed", if (n > ConnectedComponents.DriverEdgeLimit) 1.0 else 0.0)
    LayerListener.scoped(spark.sparkContext, "Linking.counters") {
      val sh = Linking.mentionShingles(universe)
      val capped = Linking.capShingleDf(sh, Linking.DefaultMaxShingleDf)
      val shingleRows = sh.count()
      val candidates = capped.as("x").join(capped.as("y"), col("x.shingle") === col("y.shingle"))
        .filter(col("x.mention") < col("y.mention"))
        .select(col("x.mention"), col("y.mention")).distinct().count()
      run.metric("Linking.shingle_rows", shingleRows.toDouble)
      run.metric("Linking.df_capped_rows", (shingleRows - capped.count()).toDouble)
      run.metric("Linking.candidate_pairs", candidates.toDouble)
      run.metric("Linking.pair_yield", if (candidates == 0) 0.0 else n.toDouble / candidates)
    }
  }

  // ---------------------------------------------------------- link_heavy

  /** `Linking.jaccardEdges(_, 0.5)` then `ConnectedComponents.run` over a
    * generated mention universe into a `noop` sink; items are mentions. The
    * first warm-up pass writes edges and components for the output check. */
  def linkHeavy(spark: SparkSession, run: Run): Unit = {
    val universe = spark.read.parquet(s"${run.inputs}/universe.parquet").select("mention")
    val mentions = universe.count()
    val check = run.dir("link_check")
    val walls = run.measure(warmups = 2) {
      case 0 =>
        val edgesDir = check.resolve("edges").toString
        Linking.jaccardEdges(universe, 0.5).write.parquet(edgesDir)
        ConnectedComponents.run(spark.read.parquet(edgesDir)).write.parquet(check.resolve("components").toString)
        0.0
      case _ => Run.timed(noop(ConnectedComponents.run(Linking.jaccardEdges(universe, 0.5))))._2
    }
    val wall = endToEnd(run, walls, mentions.toDouble)
    run.checkPath("link_check", check.toString)
    if (!run.trace) return

    run.metric("link_s", wall)
    val (_, tt, fused) = traced(spark)(noop(ConnectedComponents.run(Linking.jaccardEdges(universe, 0.5))))
    run.metric("trace.unattributed_s", tt - attributedWall(fused))
    run.metric("trace.overhead_pct", 100 * (tt - wall) / wall)
    linkSplit(spark, run, universe)
  }

  // --------------------------------------------------------- rdfxml_file

  /** Largest heap left live while `f` runs, sampled by a full collection
    * every `periodMs`. */
  private def peakLiveHeapMb(periodMs: Long)(f: => Unit): Double = {
    val heap = ManagementFactory.getMemoryMXBean
    @volatile var running = true
    val peak = new AtomicLong
    val sampler = new Thread(() => while (running) {
      System.gc()
      peak.accumulateAndGet(heap.getHeapMemoryUsage.getUsed, math.max)
      Thread.sleep(periodMs)
    })
    sampler.start()
    try f finally { running = false; sampler.join() }
    peak.get / (1024.0 * 1024.0)
  }

  /** `spark.read.format("rdfxml")` over one generated file per core into a
    * `noop` sink; items are triples. The first warm-up pass counts triples
    * and error rows for the output check. */
  def rdfxmlFile(spark: SparkSession, run: Run): Unit = {
    val manifest = Files.readString(Paths.get(run.inputs, "manifest.json"))
    def field(k: String) = s""""$k":\\s*(\\d+)""".r.findFirstMatchIn(manifest).get.group(1).toLong
    val (expected, bytes) = (field("triples"), field("bytes"))
    val files = s"${run.inputs}/files"
    // one partition per file: every file is larger than the target
    def scan() = spark.read.format("rdfxml").option("targetPartitionBytes", (4L << 20).toString).load(files)
    var rows = 0L
    val walls = run.measure(warmups = 2) {
      case 0 =>
        val r = scan().agg(count(when(col("error").isNull, 1)), count(col("error"))).head()
        rows = r.getLong(0) + r.getLong(1)
        run.op(r.getLong(0) == expected && r.getLong(1) == 0L,
          s"rdfxml scan gave ${r.getLong(0)} triples and ${r.getLong(1)} error rows, expected $expected and 0")
        0.0
      case _ => Run.timed(noop(scan()))._2
    }
    val wall = endToEnd(run, walls, expected.toDouble)
    if (!run.trace) return

    val (_, tt, layers) = traced(spark)(LayerListener.scoped(spark.sparkContext, "sources")(noop(scan())))
    val src = layers.getOrElse("sources", LayerTotals.Zero)
    run.metric("trace.unattributed_s", tt - attributedWall(layers))
    run.metric("trace.overhead_pct", 100 * (tt - wall) / wall)
    run.metric("sources.task_s", src.taskS)
    run.metric("sources.task_skew", src.taskSkew)
    run.metric("sources.rows_out", rows.toDouble)
    run.metric("sources.gc_s", src.gcS)
    run.metric("file_mb_per_s", bytes / 1e6 / wall)
    run.metric("file_peak_live_heap_mb", peakLiveHeapMb(50)(noop(scan())))
    val first = Files.list(Paths.get(files)).sorted().findFirst().get()
    val text = Files.readString(first)
    val direct = (1 to 3).map(_ => Run.timed(RdfXmlParser.parse(text))._2)
    run.metric("kernel.file_mb_per_s_1t", Files.size(first) / 1e6 / Run.median(direct))
  }

  // --------------------------------------------------------------- suite

  /** The suite queries this workload runs, each with the module it
    * exercises. They read only the generated `documents`, `embeddings` and
    * `events` tables. */
  val SuiteQueries: Seq[(String, String)] = Seq(
    "kg_2hop" -> "GraphAnalytics",
    "dedup_simhash" -> "Dedup",
    "text_tfdf" -> "TextAnalysis",
    "sim_ivf_topk" -> "Similarity",
    "kg_stream_dedup" -> "streaming",
    "q_asof" -> "relational",
  )

  /** Suite queries timed only in traced runs (the second of two runs each). */
  val TracedOnly: Seq[String] = Seq("kg_lsh_candidates", "kg_pagerank", "kg_bfs")

  /** The suite queries, each forced into a `noop` sink; a pass is the
    * whole list, its items are queries. The warm-up pass writes each
    * query's rows for the oracle check instead. */
  def suite(spark: SparkSession, run: Run): Unit = {
    val dir = run.inputs
    val check = run.dir("suite_check")
    val perQuery = mutable.Map[String, mutable.ArrayBuffer[Double]]()
    def timeQuery(q: String): Double = Run.timed(noop(SparkEntry.queries(q)(spark, dir)))._2
    val walls = run.measure() {
      case 0 =>
        SuiteQueries.foreach { case (q, _) =>
          SparkEntry.queries(q)(spark, dir).coalesce(1).write.parquet(check.resolve(q).toString)
        }
        0.0
      case _ =>
        SuiteQueries.map { case (q, _) =>
          val t = timeQuery(q)
          perQuery.getOrElseUpdate(q, mutable.ArrayBuffer[Double]()) += t
          t
        }.sum
    }
    val wall = endToEnd(run, walls, SuiteQueries.size.toDouble)
    run.checkPath("suite_check", check.toString)
    writeOracle(run, SuiteQueries.map(_._1))
    if (!run.trace) return

    val sc = spark.sparkContext
    val (times, tt, layers) = traced(spark)(SuiteQueries.map { case (q, m) =>
      LayerListener.scoped(sc, m)(timeQuery(q))
    })
    run.metric("trace.unattributed_s", tt - attributedWall(layers))
    run.metric("trace.overhead_pct", 100 * (tt - wall) / wall)
    SuiteQueries.map(_._2).distinct.foreach(m =>
      run.metric(s"suite.${m}_s", SuiteQueries.zip(times).collect { case ((_, `m`), t) => t }.sum))
    run.metric("suite.sim_ivf_topk_s", Run.median(perQuery("sim_ivf_topk").toSeq))
    TracedOnly.foreach { q => timeQuery(q); run.metric(s"suite.${q}_s", timeQuery(q)) }
    val medians = perQuery.values.map(ts => Run.median(ts.toSeq))
    run.metric("suite.geomean_s", math.exp(medians.map(math.log).sum / medians.size))
    run.metric("suite_total_s", wall)
  }
}
