package graft.streaming

import java.nio.file.Files
import graft.pipeline.{ParseStage, SparkSuite, Transcripts}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

class StreamingSpec extends SparkSuite {

  /** Parses a directory of transcript parquet files as a stream into an
    * append-mode parquet sink under `out/data`, draining what is there. */
  private def parseStream(input: String, out: String, ckpt: String): StreamingQuery =
    ParseStage.parseTurns(spark.readStream
      .schema("conv_id STRING, turn_idx INT, role STRING, text STRING, tool STRING, ts TIMESTAMP")
      .parquet(input)).toDF()
      .writeStream
      .format("parquet")
      .option("path", s"$out/data")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()

  test("streaming parse: file-source micro-batches produce the batch result") {
    val tmp = Files.createTempDirectory("graft_stream").toString
    val input = s"$tmp/input"
    val out = s"$tmp/out"
    val ckpt = s"$tmp/ckpt"

    // Stage the transcript corpus as the streamed input.
    Transcripts.transcripts(spark, sfDir)
      .filter(col("turn_idx") % 2 === 0)
      .write.parquet(input)

    val q = parseStream(input, out, ckpt)
    q.awaitTermination(120000)

    val streamed = spark.read.parquet(s"$out/data")
    // the corpus seeds doc_id % 65 == 63 as malformed: the error channel
    // must surface exactly those through the stream, same as in batch
    val expectedErrors = Transcripts.documents(spark, sfDir)
      .filter(col("doc_id") % Transcripts.MalformedMod === Transcripts.MalformedRem).count()
    assert(expectedErrors > 0)
    assert(streamed.filter(col("error").isNotNull).count() == expectedErrors)
    val batch = ParseStage.parsedTranscripts(spark, sfDir)
    assert(streamed.filter(col("error").isNull).count() == batch.filter(col("error").isNull).count())
    // exactness: same multiset of (subj, pred, obj)
    val a = streamed.select("subj", "pred", "obj")
    val b = batch.select("subj", "pred", "obj")
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }

  test("rdfxml is a batch source: readStream.format(\"rdfxml\") is refused") {
    val tmp = Files.createTempDirectory("graft_stream_rdfxml").toString
    val e = intercept[Exception] {
      spark.readStream.format("rdfxml").load(tmp)
        .writeStream.format("noop")
        .option("checkpointLocation", s"$tmp/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination(60000)
    }
    assert(e.getMessage.contains("does not support streamed reading"), e.getMessage)
  }

  test("streaming resume: restart from checkpoint does not duplicate output") {
    val tmp = Files.createTempDirectory("graft_stream2").toString
    val input = s"$tmp/input"
    val out = s"$tmp/out"
    val ckpt = s"$tmp/ckpt"
    Transcripts.transcripts(spark, sfDir)
      .filter(col("turn_idx") % 2 === 0).limit(50)
      .write.parquet(input)

    parseStream(input, out, ckpt).awaitTermination(120000)
    val n1 = spark.read.parquet(s"$out/data").count()
    // Restart with the same checkpoint: AvailableNow sees no new files.
    parseStream(input, out, ckpt).awaitTermination(120000)
    val n2 = spark.read.parquet(s"$out/data").count()
    assert(n1 == n2, "restart must be exactly-once, not re-emit")
  }

  private def tsAt(min: Int): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(java.time.LocalDateTime.of(2024, 1, 1, 0, 0).plusMinutes(min.toLong))

  test("stream-stream interval join: purchases attribute to clicks in the horizon, not beyond") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val clicks = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val purchases = MemoryStream[(Long, java.sql.Timestamp, Long, Double)]
    val joined = StreamingJoins.clickAttribution(
      clicks.toDF().toDF("user_id", "ts", "event_id"),
      purchases.toDF().toDF("user_id", "ts", "event_id", "value"),
      watermark = "10 minutes", horizonMinutes = 30)
    val q = joined.writeStream.format("memory").queryName("attr").outputMode("append").start()
    try {
      clicks.addData((1L, tsAt(0), 100L), (1L, tsAt(5), 101L), (2L, tsAt(0), 102L))
      // user 1: purchase 20 min after the clicks (inside the 30-min horizon);
      // user 2: purchase 40 min after its click (outside) — must NOT match
      purchases.addData((1L, tsAt(20), 200L, 9.5), (2L, tsAt(40), 201L, 1.0))
      q.processAllAvailable()
      val got = spark.table("attr").select("user_id", "click_id", "purchase_id")
        .as[(Long, Long, Long)].collect().toSet
      assert(got == Set((1L, 100L, 200L), (1L, 101L, 200L)))
    } finally q.stop()
  }

  test("event-time sessionization: runs seal only when the watermark passes end+gap") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ev = MemoryStream[(Long, java.sql.Timestamp)]
    val sess = StreamingJoins.sessionize(spark, ev.toDF().toDF("user_id", "ts"),
      gapMinutes = 10, watermark = "0 seconds")
    val q = sess.writeStream.format("memory").queryName("sess").outputMode("append").start()
    try {
      def emitted = spark.table("sess")
        .as[SessionOut].collect().map(s =>
          (s.user_id, s.session_start.getTime, s.session_end.getTime, s.n_events)).toSet
      def at(min: Int) = tsAt(min).getTime

      ev.addData((1L, tsAt(0)), (1L, tsAt(5)))
      q.processAllAvailable()
      assert(emitted.isEmpty, "open session must not emit")

      // the 55-min overshoot splits the runs; the event advances the
      // watermark to 60 min and the engine's trailing no-data batch fires
      // the timeout, sealing [0,5] (end+gap=15 <= 60). [60,60] (sealable
      // at 70) stays open — a late event could still extend it.
      ev.addData((1L, tsAt(60)))
      q.processAllAvailable()
      assert(emitted == Set((1L, at(0), at(5), 2L)))

      // other-key traffic pushes the watermark to 120 min: the timeout
      // seals [60,60] with no further user-1 data
      ev.addData((2L, tsAt(120)))
      q.processAllAvailable()
      assert(emitted == Set((1L, at(0), at(5), 2L), (1L, at(60), at(60), 1L)))

      // and the still-open user-2 run emits nothing
      ev.addData((2L, tsAt(130)))
      q.processAllAvailable()
      assert(emitted == Set((1L, at(0), at(5), 2L), (1L, at(60), at(60), 1L)))
    } finally q.stop()
  }

  test("event-time sessionization: an admissible late event merges backward into the open run") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ev = MemoryStream[(Long, java.sql.Timestamp)]
    val sess = StreamingJoins.sessionize(spark, ev.toDF().toDF("user_id", "ts"),
      gapMinutes = 10, watermark = "10 minutes")
    val q = sess.writeStream.format("memory").queryName("sess_late").outputMode("append").start()
    try {
      def emitted = spark.table("sess_late")
        .as[SessionOut].collect().map(s =>
          (s.user_id, s.session_start.getTime, s.session_end.getTime, s.n_events)).toSet
      def at(min: Int) = tsAt(min).getTime

      ev.addData((3L, tsAt(30)))
      q.processAllAvailable()
      // watermark is now 20 min; an event at 25 min is LATE but admissible
      // (inside the 10-min delay) and 5 min BEFORE the run's start — it
      // must pull session_start back, not corrupt the run or be dropped
      ev.addData((3L, tsAt(25)))
      q.processAllAvailable()
      ev.addData((4L, tsAt(120)))
      q.processAllAvailable()
      ev.addData((4L, tsAt(125)))
      q.processAllAvailable()
      assert(emitted == Set((3L, at(25), at(30), 2L)))
    } finally q.stop()
  }

  test("streaming dedup within watermark: duplicates in-horizon drop, evicted keys re-emit") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val deduped = StreamingJoins.dedupWithinWatermark(
      docs.toDF().toDF("fingerprint", "ts", "doc_id"),
      keyCols = Seq("fingerprint"), watermark = "10 minutes")
    val q = deduped.writeStream.format("memory").queryName("sdedup").outputMode("append").start()
    try {
      def emitted = spark.table("sdedup")
        .select("fingerprint", "doc_id").as[(Long, Long)].collect().toSeq

      // duplicates within one batch and across adjacent batches (all well
      // inside the 10-min horizon) collapse to the first occurrence
      docs.addData((1L, tsAt(0), 10L), (1L, tsAt(1), 11L), (2L, tsAt(0), 12L))
      q.processAllAvailable()
      docs.addData((1L, tsAt(5), 13L))
      q.processAllAvailable()
      assert(emitted.map(_._1).sorted == Seq(1L, 2L))
      assert(emitted.toSet == Set((1L, 10L), (2L, 12L)))

      // advance the watermark far past fingerprint 1's expiry (event time
      // + delay), evicting its state ...
      docs.addData((3L, tsAt(100), 14L))
      q.processAllAvailable()
      // ... so a re-occurrence after eviction re-emits: the horizon
      // contract, not unbounded global history
      docs.addData((1L, tsAt(95), 15L))
      q.processAllAvailable()
      assert(emitted.toSet == Set((1L, 10L), (2L, 12L), (3L, 14L), (1L, 15L)))
    } finally q.stop()
  }
}
