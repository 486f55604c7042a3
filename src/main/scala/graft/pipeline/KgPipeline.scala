package graft.pipeline

import java.util.concurrent.{ConcurrentLinkedQueue, Executors}
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic.ClassicConversions
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._

/** The end-to-end KG-construction job (north_star): transcripts → windowed
  * conversation reconstruction → per-turn RDF/XML parse + NER → entity
  * linking → canonicalization → materialized graph, with every stage a
  * resumable snapshot (P10). This is the unit `Bench` times and
  * `spark-submit` would run on a cluster.
  *
  * The stages form a DAG, and [[run]] runs the stages that do not read each
  * other side by side, two at a time:
  * {{{
  *   documents ─┬─ parse ────────────────────┬─ triples_all ─┬─ graph (triples)
  *              └─ mentions ── canonical ────┘               └─ adjacency
  * }}}
  * `parse` overlaps `mentions` → `canonical`; `triples_all` waits for both
  * and then the triple table overlaps the adjacency table. Each stage is
  * still one snapshot with its own manifest, so a branch that fails leaves
  * the other branch's committed stages for the next run to reuse.
  */
object KgPipeline {

  /** Broadcast ceiling (rows) for the canonical-mention map. Below it the
    * sameAs join is a map-side broadcast join; above it — corpus-scale
    * distinct mentions can exceed driver/executor broadcast limits — fall
    * back to an un-hinted join and let AQE pick sort-merge / shuffled-hash
    * (and re-broadcast at runtime if the map turns out small after all). */
  val CanonicalBroadcastMaxRows = 10000000L

  /** The mention → component join with the size guard applied.
    * `canonicalRows` is the row count of `canonical`, which its snapshot
    * stage recorded while writing it, so the guard launches no job. */
  private[pipeline] def joinCanonical(mentions: DataFrame, canonical: DataFrame,
                                      canonicalRows: Long, maxBroadcastRows: Long): DataFrame = {
    val dim = if (canonicalRows <= maxBroadcastRows) broadcast(canonical) else canonical
    mentions.join(dim, mentions("mention") === canonical("node"))
  }

  /** What one run built, read from the stage manifests: the same numbers
    * for a fresh and a resumed run. */
  final case class PipelineStats(
      turns: Long,
      triples: Long,
      parseErrors: Long,
      mentions: Long,
      entities: Long,
      // HLL sketch of distinct subjects — the affordable cardinality read at
      // 10¹²-row scale, where an exact countDistinct would be its own
      // full-shuffle job (SURVEY P10).
      subjectsApprox: Long,
      reusedStages: Int,
  )

  /** Run `a` on this thread and `b` on a second one, and return both
    * results once both are done. `b` is forked with the caller's active
    * session and local properties (job groups, scheduler and listener
    * keys), so its Spark jobs look as if this thread had run them. When a
    * branch fails, the other one still runs to the end; then the first
    * failure is thrown, with the other one, if any, attached as suppressed. */
  private def both[A, B](spark: SparkSession)(a: => A)(b: => B): (A, B) = {
    val failures = new ConcurrentLinkedQueue[Throwable]()
    def guarded[T](f: => T): Option[T] =
      try Some(f) catch { case NonFatal(e) => failures.add(e); None }
    val pool = Executors.newSingleThreadExecutor()
    try {
      val forked = SQLExecution.withThreadLocalCaptured(ClassicConversions.castToImpl(spark), pool)(guarded(b))
      val ra = guarded(a)
      (ra, forked.join()) match {
        case (Some(x), Some(y)) => (x, y)
        case _ =>
          val first = failures.poll()
          failures.forEach(first.addSuppressed(_))
          throw first
      }
    } finally pool.shutdown()
  }

  def run(spark: SparkSession, sfDir: String, outDir: String): PipelineStats = {
    // Every stage derives from the documents alone: one fingerprint of
    // their files marks every manifest, so a changed input recomputes all.
    val input = Materialize.inputFingerprint(s"$sfDir/documents.parquet")
    // One read, so one schema-inference job, feeds both transcript surfaces.
    // Lazy: a run that reuses both stages reads no documents at all.
    lazy val docs = Transcripts.documents(spark, sfDir)

    // The branches are defined here, inside `run`, on purpose: a stage's
    // Spark call site then holds a `KgPipeline` frame on either thread.
    val ((parsed, parse), ((mentions, ner), (canonical, canon))) = both(spark) {
      // P1-P3: scan + parse (shuffle-free; each turn self-contained).
      Materialize.snapshotStage(spark, "parse", s"$outDir/parse", input,
          Seq("parse_errors" -> count(col("error"))), inputCounters = Seq("turns_in")) { in =>
        ParseStage.parseTurns(in.count(Transcripts.payloadTurns(docs), "turns_in")).toDF()
      }
    } {
      // P5: mentions from the prose turns.
      val (mentions, ner) = Materialize.snapshotStage(spark, "mentions", s"$outDir/mentions", input,
          inputCounters = Seq("turns_in")) { in =>
        Ner.mentions(in.count(Transcripts.proseTurns(docs), "turns_in"))
      }
      // P6-P8: universe → Jaccard edges → components. Each component's
      // representative (its minimum) maps to itself, so the entity count is
      // the number of rows with node = component.
      val canonical = Materialize.snapshotStage(spark, "canonical", s"$outDir/canonical", input,
          Seq("entities" -> count(when(col("node") === col("component"), 1)))) { _ =>
        Linking.components(mentions, 0.5)
      }
      ((mentions, ner), canonical)
    }

    // Canonical entity triples: mention → its component representative,
    // emitted as sameAs triples joined into the graph. The canonical map is
    // usually small (distinct mentions) → broadcast join; size-guarded so a
    // corpus whose mention universe outgrows broadcast limits degrades to a
    // shuffle join instead of failing (see [[CanonicalBroadcastMaxRows]]).
    val (allTriples, all) = Materialize.snapshotStage(spark, "triples_all", s"$outDir/triples_all", input,
        Seq("subjects_approx" -> approx_count_distinct("subj", 0.02))) { _ =>
      val mentionTriples = joinCanonical(mentions, canonical, canon.rows, CanonicalBroadcastMaxRows)
        .select(
          concat(lit("<http://graft.dev/mention/"), col("mention"), lit(">")).as("subj"),
          lit("<http://graft.dev/voc#sameAs>").as("pred"),
          concat(lit("<http://graft.dev/entity/"), col("component"), lit(">")).as("obj"),
          col("conv_id"), col("turn_idx"))
      parsed.filter(col("error").isNull)
        .select("subj", "pred", "obj", "conv_id", "turn_idx")
        .unionAll(mentionTriples)
    }

    // P9: bucketed, pred-partitioned triple table + subject adjacency table.
    val triples = allTriples.withColumn("error", lit(null: String))
    val (graph, adjacency) = both(spark) {
      Materialize.triples(triples, s"$outDir/graph", input)
    } {
      Materialize.adjacency(triples, s"$outDir/adjacency", input)
    }

    PipelineStats(
      turns = parse.counters("turns_in") + ner.counters("turns_in"),
      triples = all.rows,
      parseErrors = parse.counters("parse_errors"),
      mentions = ner.rows,
      entities = canon.counters("entities"),
      subjectsApprox = all.counters("subjects_approx"),
      reusedStages = Seq(parse, ner, canon, all, graph, adjacency).count(_.reused),
    )
  }
}
