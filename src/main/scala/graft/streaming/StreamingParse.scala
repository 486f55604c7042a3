package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamReader, StreamingQuery, Trigger}
import graft.pipeline.ParseStage

/** Structured Streaming wrapper for the KG pipeline.
  *
  * The reference's "streaming" is incremental per-document emission (SURVEY
  * §3 E1), not event-time processing — each transcript turn is
  * self-contained, so the streaming job is stateless: `readStream` over a
  * transcript directory → the same shuffle-free mapPartitions parse →
  * append-mode sink. Per-conversation progress is the one stateful
  * operator we expose.
  */
final case class ConvProgress(conv_id: String, n_turns: Long, max_turn_idx: Int)

object StreamingParse {

  /** Stream reader with the transcript turn schema (a file stream does not
    * infer one). */
  private def transcriptReader(spark: SparkSession): DataStreamReader =
    spark.readStream
      .schema("conv_id STRING, turn_idx INT, role STRING, text STRING, tool STRING, ts TIMESTAMP")

  /** Parse a stream of transcript parquet files into a stream of triples. */
  def parseStream(spark: SparkSession, inputDir: String): DataFrame =
    ParseStage.parseTurns(transcriptReader(spark).parquet(inputDir)).toDF()

  /** Append-mode parquet sink for the parsed triple stream. */
  def run(spark: SparkSession, inputDir: String, outDir: String, checkpoint: String): StreamingQuery =
    parseStream(spark, inputDir).writeStream
      .format("parquet")
      .option("path", s"$outDir/data")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Per-conversation progress tracked across micro-batches with
    * `mapGroupsWithState` — the custom-state surface
    * (`KeyValueGroupedDataset`, GroupState): a conversation's turn count /
    * max turn index / density flag accumulate as its turns arrive in any
    * batch. State is per-key and checkpointed by the engine; at 10¹²-turn
    * scale the state store shards by conv_id exactly like the batch
    * repartition does. */
  def conversationProgress(spark: SparkSession, inputDir: String, maxFilesPerTrigger: Int = 1): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val turns = transcriptReader(spark)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(inputDir)
      .select("conv_id", "turn_idx")
      .as[(String, Int)]
    turns
      .groupByKey(_._1)
      .mapGroupsWithState[ConvProgress, ConvProgress](GroupStateTimeout.NoTimeout) {
        (conv, it, state) =>
          val prev = state.getOption.getOrElse(ConvProgress(conv, 0L, -1))
          var n = prev.n_turns
          var mx = prev.max_turn_idx
          it.foreach { case (_, idx) => n += 1; if (idx > mx) mx = idx }
          val next = ConvProgress(conv, n, mx)
          state.update(next)
          next
      }
      .toDF()
  }
}
