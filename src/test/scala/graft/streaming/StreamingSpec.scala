package graft.streaming

import java.nio.file.Files
import graft.pipeline.{SparkSuite, Transcripts}
import org.apache.spark.sql.functions._

class StreamingSpec extends SparkSuite {

  test("streaming parse: file-source micro-batches produce the batch result") {
    val tmp = Files.createTempDirectory("graft_stream").toString
    val input = s"$tmp/input"
    val out = s"$tmp/out"
    val ckpt = s"$tmp/ckpt"

    // Stage the transcript corpus as the streamed input.
    Transcripts.transcripts(spark, sfDir)
      .filter(col("turn_idx") % 2 === 0)
      .write.parquet(input)

    val q = StreamingParse.run(spark, input, out, ckpt)
    q.awaitTermination(120000)

    val streamed = spark.read.parquet(s"$out/data")
    // the corpus seeds doc_id % 65 == 63 as malformed: the error channel
    // must surface exactly those through the stream, same as in batch
    val expectedErrors = Transcripts.documents(spark, sfDir)
      .filter(col("doc_id") % Transcripts.MalformedMod === Transcripts.MalformedRem).count()
    assert(expectedErrors > 0)
    assert(streamed.filter(col("error").isNotNull).count() == expectedErrors)
    val batch = graft.pipeline.ParseStage.parsedTranscripts(spark, sfDir)
    assert(streamed.filter(col("error").isNull).count() == batch.filter(col("error").isNull).count())
    // exactness: same multiset of (subj, pred, obj)
    val a = streamed.select("subj", "pred", "obj")
    val b = batch.select("subj", "pred", "obj")
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }

  test("rdfxml DSv2 streaming read: two micro-batches equal the batch read; resume is exactly-once") {
    val tmp = Files.createTempDirectory("graft_stream_dsv2").toString
    val input = s"$tmp/input"
    val ckpt = s"$tmp/ckpt"
    new java.io.File(input).mkdirs()
    def writeDoc(name: String, about: String): Unit = {
      val xml = s"""<?xml version="1.0"?>
        |<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" xmlns:ex="http://example.org/">
        |  <rdf:Description rdf:about="http://example.org/$about">
        |    <ex:name>$about</ex:name>
        |    <ex:knows rdf:nodeID="x"/>
        |  </rdf:Description>
        |</rdf:RDF>""".stripMargin
      Files.write(java.nio.file.Paths.get(input, name), xml.getBytes("UTF-8"))
    }
    val out = s"$tmp/out"
    def runOnce(): Unit = {
      // parquet sink: the one sink kind that supports checkpoint RESUME
      // (memory sinks refuse recovery), which is exactly what this pins
      val q = spark.readStream.format("rdfxml").load(input)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
    }

    writeDoc("d1.rdf", "alice")
    runOnce()
    assert(spark.read.parquet(out).count() == 2, "first micro-batch parses the first document")

    // second file arrives; restart from the same checkpoint
    writeDoc("d2.rdf", "bob")
    runOnce()
    val streamed = spark.read.parquet(out)
    // resume replays only the NEW file — d1 was committed in the first run
    assert(streamed.filter(col("path").endsWith("d1.rdf")).count() == 2,
      "resume must not re-emit committed files")
    assert(streamed.count() == 4)

    // the streamed total equals the batch read (same source, same schema)
    val batch = spark.read.format("rdfxml").load(input)
    assert(streamed.exceptAll(batch).count() == 0 && batch.exceptAll(streamed).count() == 0)
  }

  test("rdfxml DSv2 streaming read: maxFilesPerTrigger drains a backlog in bounded batches") {
    val tmp = Files.createTempDirectory("graft_stream_rate").toString
    val input = s"$tmp/input"
    new java.io.File(input).mkdirs()
    for (i <- 1 to 5) {
      val xml = s"""<?xml version="1.0"?>
        |<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" xmlns:ex="http://example.org/">
        |  <rdf:Description rdf:about="http://example.org/d$i"><ex:n>$i</ex:n></rdf:Description>
        |</rdf:RDF>""".stripMargin
      Files.write(java.nio.file.Paths.get(input, f"d$i%02d.rdf"), xml.getBytes("UTF-8"))
    }
    val q = spark.readStream.format("rdfxml").option("maxFilesPerTrigger", 2).load(input)
      .writeStream.format("memory").queryName("graft_rate")
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    // the whole backlog drains (AvailableNow keeps triggering until the
    // offset stops advancing), but in ≥ 3 bounded log batches, not one
    assert(spark.sql("select * from graft_rate").count() == 5)
    // the source checkpoint is nested (ckpt/sources/<i>); find the file-log
    val logDir = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$tmp/ckpt"))
      .filter(p => p.getFileName.toString == "rdfxml-file-log").findFirst().get().toFile
    val logEntries = logDir.listFiles().filter(f => f.getName.forall(_.isDigit))
    assert(logEntries.length >= 3, logEntries.map(_.getName).mkString(","))
  }

  test("rdfxml DSv2 streaming read: gzip documents decompress through the shared reader") {
    val tmp = Files.createTempDirectory("graft_stream_gz").toString
    val input = s"$tmp/input"
    new java.io.File(input).mkdirs()
    val xml = """<?xml version="1.0"?>
      |<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" xmlns:ex="http://example.org/">
      |  <rdf:Description rdf:about="http://example.org/z"><ex:name>z</ex:name></rdf:Description>
      |</rdf:RDF>""".stripMargin
    val out = new java.util.zip.GZIPOutputStream(
      java.nio.file.Files.newOutputStream(java.nio.file.Paths.get(input, "z.rdf.gz")))
    out.write(xml.getBytes("UTF-8")); out.close()
    val q = spark.readStream.format("rdfxml").load(input)
      .writeStream.format("memory").queryName("graft_gz")
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val rows = spark.sql("select subj, pred, obj from graft_gz").collect()
    assert(rows.length == 1 && rows.head.getString(2) == "\"z\"")
  }

  test("rdfxml DSv2 streaming read: an input dir that does not exist yet is 'no files', not an error") {
    val tmp = Files.createTempDirectory("graft_stream_nodir").toString
    val input = s"$tmp/not_created_yet"
    val q = spark.readStream.format("rdfxml").load(input)
      .writeStream.format("memory").queryName("graft_nodir")
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    assert(spark.sql("select * from graft_nodir").count() == 0)
  }

  test("rdfxml DSv2 streaming: a logged file deleted before replay fails at PLAN time naming log entry + path") {
    val tmp = Files.createTempDirectory("graft_stream_gone").toString
    val input = s"$tmp/input"
    new java.io.File(input).mkdirs()
    val doc = """<?xml version="1.0"?>
      |<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" xmlns:ex="http://example.org/">
      |  <rdf:Description rdf:about="http://example.org/a"><ex:n>1</ex:n></rdf:Description>
      |</rdf:RDF>""".stripMargin
    Files.write(java.nio.file.Paths.get(input, "d1.rdf"), doc.getBytes("UTF-8"))
    val conf = new org.apache.spark.util.SerializableConfiguration(
      org.apache.spark.sql.GraftSqlBridge.hadoopConfWithOptions(spark, Map.empty))
    val stream = new graft.sources.RdfXmlMicroBatchStream(
      input, 32L * 1024 * 1024, Array.empty, conf, s"$tmp/ckpt", () => null)
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val start = stream.initialOffset()
    val end = stream.latestOffset(start, ReadLimit.allAvailable())
    assert(new java.io.File(input, "d1.rdf").delete())
    // Replay of the logged-but-vanished file must fail AT PLAN TIME with a
    // message naming the file-log and the missing path — not as an opaque
    // task-level FileNotFoundException (r3 ADVICE).
    val e = intercept[java.io.FileNotFoundException](stream.planInputPartitions(start, end))
    assert(e.getMessage.contains("d1.rdf"), e.getMessage)
    assert(e.getMessage.contains("rdfxml-file-log"), e.getMessage)
    assert(e.getMessage.contains("entry 0"), e.getMessage)
  }

  test("streaming resume: restart from checkpoint does not duplicate output") {
    val tmp = Files.createTempDirectory("graft_stream2").toString
    val input = s"$tmp/input"
    val out = s"$tmp/out"
    val ckpt = s"$tmp/ckpt"
    Transcripts.transcripts(spark, sfDir)
      .filter(col("turn_idx") % 2 === 0).limit(50)
      .write.parquet(input)

    StreamingParse.run(spark, input, out, ckpt).awaitTermination(120000)
    val n1 = spark.read.parquet(s"$out/data").count()
    // Restart with the same checkpoint: AvailableNow sees no new files.
    StreamingParse.run(spark, input, out, ckpt).awaitTermination(120000)
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
