package graft.streaming

import java.nio.file.{Files, Path => NioPath}
import scala.jdk.CollectionConverters._
import graft.SparkEntry
import graft.pipeline.{InProcessChmod, Processes, SparkSuite}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

class StreamingCheckpointSpec extends SparkSuite {

  test("the streaming gates start no chmod or readlink process") {
    // the rows graft.Verify gets on sf0.001
    val expected = Seq("kg_stream_dedup" -> 1000, "kg_stream_sessions" -> 979,
      "kg_stream_attrib" -> 2, "kg_stream_ingest" -> 3489)
    for ((gate, rows) <- expected) {
      val (n, commands) = Processes.processesOf(SparkEntry.queries(gate)(spark, sfDir).collect().length)
      assert(n == rows, gate)
      for (program <- Seq("chmod", "readlink")) {
        val started = Processes.running(commands, program)
        assert(started.isEmpty, s"$gate started ${started.size} $program process(es), first ${started.headOption}")
      }
    }
  }

  /** Relative path -> mode bits of every entry under `root`, with each UUID
    * (temp files, sink part files, state schema files) replaced. */
  private def tree(root: NioPath): Map[String, Int] =
    scala.util.Using.resource(Files.walk(root))(_.iterator.asScala.toList).map { p =>
      root.relativize(p).toString.replaceAll("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "<uuid>") ->
        (Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff)
    }.toMap

  /** A two-file `AvailableNow` watermark dedup into a parquet sink under a
    * new directory, which it returns with its checkpoint under `ckpt`. */
  private def dedupQuery(s: SparkSession, input: String): NioPath = {
    val root = Files.createTempDirectory("graft_ckpt_tree")
    val src = s.readStream.schema("user_id BIGINT, event_id BIGINT, ts TIMESTAMP")
      .option("maxFilesPerTrigger", "1").parquet(input)
    val q = StreamingJoins.dedupWithinWatermark(src, Seq("user_id", "event_id"))
      .writeStream.format("parquet")
      .option("path", root.resolve("out").toString)
      .option("checkpointLocation", root.resolve("ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    root
  }

  test("a stateful query's checkpoint on the in-process filesystem has the stock files, .crc files and permission bits") {
    val input = Files.createTempDirectory("graft_ckpt_in").resolve("in").toString
    for (batch <- 0 until 2)
      spark.range(6).select(col("id").mod(3).as("user_id"), (col("id") + batch).as("event_id"),
          timestamp_seconds(col("id") * 60 + batch * 600).as("ts"))
        .coalesce(1).write.mode("append").parquet(input)
    val stock = tree(dedupQuery(spark, input))
    val inProcess = spark.newSession()
    InProcessChmod.options.foreach { case (k, v) => inProcess.conf.set(k, v) }
    val (root, commands) = Processes.processesOf(dedupQuery(inProcess, input))
    assert(Processes.running(commands, "chmod").isEmpty && Processes.running(commands, "readlink").isEmpty, commands)
    val got = tree(root)
    assert(got == stock)
    // the tree holds what the comparison is about
    val state = got.keys.filter(_.startsWith("ckpt/state/0/"))
    assert(state.exists(_.endsWith(".delta")) && state.exists(_.endsWith(".delta.crc")), got.keys)
    Seq("ckpt/offsets/1", "ckpt/commits/1", "ckpt/sources/0/1", "out/_spark_metadata/1")
      .foreach(f => assert(got.contains(f) && got.contains(f.replaceAll("([^/]+)$", ".$1.crc")), f))
    assert(got("ckpt/offsets/1") == Integer.parseInt("644", 8) && got("ckpt/state") == Integer.parseInt("755", 8))
  }
}
