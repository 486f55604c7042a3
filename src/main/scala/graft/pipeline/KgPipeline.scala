package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The end-to-end KG-construction job (north_star): transcripts → windowed
  * conversation reconstruction → per-turn RDF/XML parse + NER → entity
  * linking → canonicalization → materialized graph, with every stage a
  * resumable snapshot (P10). This is the unit `Bench` times and
  * `spark-submit` would run on a cluster.
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

  def run(spark: SparkSession, sfDir: String, outDir: String,
          canonicalBroadcastMaxRows: Long = CanonicalBroadcastMaxRows): PipelineStats = {
    // P1-P3: scan + parse (shuffle-free; each turn self-contained).
    val (parsed, parse) = Materialize.snapshotStage(spark, "parse", s"$outDir/parse",
        Seq("parse_errors" -> count(col("error"))), inputCounters = Seq("turns_in")) { in =>
      ParseStage.parseTurns(in.count(Transcripts.payloadTurns(spark, sfDir), "turns_in")).toDF()
    }

    // P5: mentions from the prose turns.
    val (mentions, ner) = Materialize.snapshotStage(spark, "mentions", s"$outDir/mentions",
        inputCounters = Seq("turns_in")) { in =>
      Ner.mentions(in.count(Transcripts.proseTurns(spark, sfDir), "turns_in"))
    }

    // P6-P8: universe → LSH candidates → verified edges → components. Each
    // component's representative (its minimum) maps to itself, so the
    // entity count is the number of rows with node = component.
    val (canonical, canon) = Materialize.snapshotStage(spark, "canonical", s"$outDir/canonical",
        Seq("entities" -> count(when(col("node") === col("component"), 1)))) { _ =>
      val universe = mentions.select("mention").distinct()
      val edges = Linking.jaccardEdges(universe, 0.5)
      ConnectedComponents.run(edges)
    }

    // Canonical entity triples: mention → its component representative,
    // emitted as sameAs triples joined into the graph. The canonical map is
    // usually small (distinct mentions) → broadcast join; size-guarded so a
    // corpus whose mention universe outgrows broadcast limits degrades to a
    // shuffle join instead of failing (see [[CanonicalBroadcastMaxRows]]).
    val (allTriples, all) = Materialize.snapshotStage(spark, "triples_all", s"$outDir/triples_all",
        Seq("subjects_approx" -> approx_count_distinct("subj", 0.02))) { _ =>
      val mentionTriples = joinCanonical(mentions, canonical, canon.rows, canonicalBroadcastMaxRows)
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
    val graph = Materialize.triples(
      allTriples.withColumn("error", lit(null: String)), s"$outDir/graph")
    val adjacency = Materialize.adjacency(
      allTriples.withColumn("error", lit(null: String)), s"$outDir/adjacency")

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
