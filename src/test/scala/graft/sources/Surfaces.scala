package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.Assertions._

import graft.pipeline.{ParseStage, TripleRow}

/** One document read through the Spark parse surfaces, for the specs that
  * feed adversarial documents to every surface. */
object Surfaces {

  /** The `cols` of the rows `format("rdfxml")` reads from a file holding
    * `doc`. */
  def fromFile(spark: SparkSession, doc: String, cols: String*): Array[Row] = {
    val dir = Files.createTempDirectory("graft_surface")
    val file = dir.resolve("doc.rdf")
    try {
      Files.writeString(file, doc)
      spark.read.format("rdfxml").load(dir.toString).select(cols.head, cols.tail: _*).collect()
    } finally {
      Files.deleteIfExists(file)
      Files.deleteIfExists(dir)
    }
  }

  /** The rows `ParseStage.parseTurns` gives for one turn holding `doc`. */
  def fromTurns(spark: SparkSession, doc: String): Array[TripleRow] = {
    import spark.implicits._
    ParseStage.parseTurns(Seq(("doc", 0, doc)).toDF("conv_id", "turn_idx", "text")).collect()
  }

  /** `f`'s result and its wall time in seconds. */
  def seconds[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** The session still runs a query after the read. */
  def nextQueryRuns(spark: SparkSession): Unit =
    assert(spark.range(10).selectExpr("sum(id)").head().getLong(0) == 45)
}
