package graft

import org.apache.spark.sql.SparkSession

/** Auxiliary measurement entry points for the optimization rounds — the
  * frozen `graft.Bench` contract stays untouched; this main exists so plan
  * capture and noop-sink isolation (optimization guide §1.4) can be cited in
  * OPTIMIZATION_r*.md without touching the driver-hashed harness.
  *
  * Usage (env mirrors Bench):
  *   SPARK_GRAFT_SF_DIR=... sbt "runMain graft.BenchExtra plans <outDir> [suffix]"
  *     → writes <outDir>/<query><suffix>.txt with .explain("formatted") for
  *       every registry query (streaming gates excluded: their envelope runs
  *       side-effecting staging writes; the interesting plans there are the
  *       micro-batch plans, not a batch explain).
  *   SPARK_GRAFT_SF_DIR=... sbt "runMain graft.BenchExtra noop [q1,q2,...]"
  *     → times each query with the noop sink (computes every column, no
  *       count-path pruning), 2 runs, min reported, one JSON line.
  */
object BenchExtra {

  /** Streaming gates run checkpointed streaming queries inside the query
    * function; a batch explain would still execute the staging writes and
    * the stream. Skip them in plan capture. */
  private val streamingGates = Set(
    "kg_stream_ingest", "kg_stream_sessions", "kg_stream_attrib", "kg_stream_dedup",
    "kg_nt_roundtrip", "kg_nq_roundtrip")

  private def session(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench-extra")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", (4 * 1024 * 1024).toString)
      .config("spark.sql.files.openCostInBytes", (64 * 1024).toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString).toInt
    val spark = session(cpus)
    args.headOption match {
      case Some("plans") =>
        val outDir = args(1)
        val suffix = if (args.length > 2) args(2) else ""
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
        val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
        for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)
             if !streamingGates(name) && only.forall(_.contains(name))) {
          try {
            val plan = fn(spark, sfDir).queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            java.nio.file.Files.writeString(
              java.nio.file.Paths.get(outDir, s"$name$suffix.txt"), plan)
            println(s"[plans] wrote $name")
          } catch {
            case e: Exception => System.err.println(s"[plans] $name failed: ${e.getMessage}")
          }
        }
      case Some("noop") =>
        val only = args.lift(1).map(_.split(",").toSet)
        val runs = sys.env.get("SPARK_GRAFT_QUERY_RUNS").flatMap(_.toIntOption).getOrElse(2)
        val results = for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)
                           if only.forall(_.contains(name))) yield {
          spark.sparkContext.setJobDescription(s"noop:$name")
          val times = (1 to runs).map { _ =>
            val t0 = System.nanoTime()
            try {
              fn(spark, sfDir).write.format("noop").mode("overwrite").save()
              (System.nanoTime() - t0) / 1e9
            } catch {
              case e: Exception =>
                System.err.println(s"[noop] $name failed: ${e.getMessage}"); -1.0
            }
          }
          val ok = times.filter(_ >= 0)
          name -> (if (ok.nonEmpty) ok.min else -1.0)
        }
        val qs = results.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
        println(f"""{"metric":"noop_total","value":${results.map(_._2).sum}%.2f,"unit":"sec","queries":$qs,"sf":"$sfDir"}""")
      case other =>
        System.err.println(s"usage: BenchExtra plans <outDir> [suffix] | noop [q1,q2,...]; got $other")
        sys.exit(2)
    }
    spark.stop()
  }
}
