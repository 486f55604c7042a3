package perfbench

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.KgPipeline

class AttributionSpec extends AnyFunSuite {

  private def stack(frames: String*): String = frames.mkString("\n")

  test("the innermost graft frame names the layer") {
    val cc = stack("org.apache.spark.sql.Dataset.count(Dataset.scala:1500)",
      "graft.pipeline.ConnectedComponents$.run(ConnectedComponents.scala:80)",
      "perfbench.Workloads$.linkHeavy(Workloads.scala:120)")
    assert(Attribution.layerOf(cc, "") == "ConnectedComponents")
    assert(Attribution.layerOf(stack("graft.sources.RdfXmlScan.planInputPartitions(RdfXmlDataSource.scala:1)"), "") == "sources")
    assert(Attribution.layerOf(stack("graft.ops.Dedup$.simhash(Dedup.scala:9)"), "") == "Dedup")
    assert(Attribution.layerOf(stack("perfbench.Workloads$.suite(Workloads.scala:1)"), "") == Attribution.Unattributed)
  }

  test("a snapshot stage inside KgPipeline.run maps by the directory it writes") {
    val write = stack("org.apache.spark.sql.DataFrameWriter.parquet(DataFrameWriter.scala:1)",
      "graft.pipeline.Materialize$.snapshotStage(Materialize.scala:41)",
      "graft.pipeline.KgPipeline$.run(KgPipeline.scala:50)")
    for ((dir, layer) <- Attribution.SnapshotLayers) {
      val plan = s"Execute InsertIntoHadoopFsRelationCommand file:/w/out/$dir/data, false, Parquet\n" +
        "+- Scan parquet [Location: InMemoryFileIndex(1 paths)[file:/w/out/parse/data]]"
      assert(Attribution.layerOf(write, plan) == layer)
    }
    val stats = stack("org.apache.spark.sql.Dataset.count(Dataset.scala:1)",
      "graft.pipeline.KgPipeline$.run(KgPipeline.scala:95)")
    assert(Attribution.layerOf(stats, "") == "KgPipeline.stats")
  }

  test("every snapshot stage of KgPipeline.run maps to its named layer") {
    val spark = SparkSession.builder().master("local[2]").appName("AttributionSpec")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2").getOrCreate()
    val dir = Files.createTempDirectory("perfbench-spec")
    try {
      graft.functions.GraftFunctions.register(spark)
      spark.range(130).select(col("id").as("doc_id"), lit("spark join query").as("text"),
          when(col("id") % 2 === 0, "en").otherwise("fr").as("lang"),
          concat(lit("src"), (col("id") % 20).cast("string")).as("source"), lit(16L).as("n_chars"))
        .write.parquet(s"$dir/documents.parquet")
      val listener = new LayerListener
      spark.sparkContext.addSparkListener(listener)
      KgPipeline.run(spark, dir.toString, s"$dir/out")
      val layers = listener.totals(spark.sparkContext)
      Attribution.KgLayers.foreach(l =>
        assert(layers.get(l).exists(_.wallS > 0), s"no execution attributed to $l; got ${layers.keySet}"))
      assert(layers.get(Attribution.Unattributed).forall(_.wallS == 0),
        "every SQL execution of the pipeline maps to a named layer")
    } finally {
      spark.stop()
      Run.deleteTree(dir)
    }
  }
}
