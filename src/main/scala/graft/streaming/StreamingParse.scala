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
  * append-mode sink.
  */
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
}
