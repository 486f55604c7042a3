package graft

import org.apache.spark.sql.SparkSession
import graft.pipeline.KgPipeline

/** spark-submit entry point for the full KG-construction job (north_rule:
  * "run via spark-submit on a multi-executor cluster"):
  *
  * {{{
  * spark-submit --class graft.KgMain \
  *   --conf spark.sql.adaptive.enabled=true \
  *   --conf spark.sql.adaptive.skewJoin.enabled=true \
  *   --conf spark.sql.extensions=graft.functions.GraftExtensions \
  *   app.jar <transcriptsSfDir> <outDir>
  * }}}
  *
  * In the sandbox the same main runs under `local[*]`; the session builder
  * only fills in a master when spark-submit did not provide one. Every
  * stage is a resumable snapshot — re-running with the same outDir skips
  * completed stages (Materialize manifests). The printed numbers are the
  * counters each stage recorded in its manifest while writing, so a resume
  * of a finished outDir reads only manifests and launches no Spark job.
  */
object KgMain {
  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: KgMain <sfDir> <outDir>")
    val Array(sfDir, outDir) = args
    val builder = SparkSession.builder()
      .appName("graft-kg")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
    val spark =
      (if (sys.props.contains("spark.master") || sys.env.contains("SPARK_MASTER"))
         builder
       else
         builder.master(s"local[${Runtime.getRuntime.availableProcessors()}]")
           .config("spark.sql.shuffle.partitions", Runtime.getRuntime.availableProcessors()))
        .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(spark)
    val stats = KgPipeline.run(spark, sfDir, outDir)
    // one JSON line, same contract style as Bench
    println(
      s"""{"turns":${stats.turns},"triples":${stats.triples},"parse_errors":${stats.parseErrors},""" +
      s""""mentions":${stats.mentions},"entities":${stats.entities},""" +
      s""""subjects_approx":${stats.subjectsApprox},"reused_stages":${stats.reusedStages}}""")
    spark.stop()
  }
}
