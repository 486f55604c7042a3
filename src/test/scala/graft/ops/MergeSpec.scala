package graft.ops

import graft.pipeline.SparkSuite
import org.apache.spark.sql.functions._

class MergeSpec extends SparkSuite {

  test("upsertMerge: latest version wins, tombstones drop keys, later upserts resurrect them") {
    import spark.implicits._
    val snapshot = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"))
      .toDF("k", "v")
    val delta = Seq(
      (1L, "a1", 1L, "U"), // plain update
      (2L, null: String, 1L, "D"), // delete, stays dead
      (3L, null: String, 1L, "D"), // delete...
      (3L, "c2", 2L, "U"), //  ...resurrected at v2
      (5L, "e", 1L, "U"), // brand-new key
      (5L, "e2", 2L, "U"), // updated twice in the same batch
    ).toDF("k", "v", "ver", "op")
    val out = Merge.upsertMerge(snapshot, delta, Seq("k"))
      .select("k", "v", "ver").as[(Long, String, Long)].collect().toSet
    assert(out == Set(
      (1L, "a1", 1L),
      (3L, "c2", 2L),
      (4L, "d", 0L), // untouched snapshot row survives at implicit version 0
      (5L, "e2", 2L),
    ))
  }

  test("upsertMerge: empty delta is the identity on values; composite keys partition independently") {
    import spark.implicits._
    val snapshot = Seq((1L, "x", "a"), (1L, "y", "b")).toDF("k1", "k2", "v")
    val delta = Seq((1L, "y", "b2", 1L, "U"))
      .toDF("k1", "k2", "v", "ver", "op")
    val out = Merge.upsertMerge(snapshot, delta, Seq("k1", "k2"))
      .select("k1", "k2", "v").as[(Long, String, String)].collect().toSet
    // (1,x) untouched even though it shares k1 with the updated (1,y)
    assert(out == Set((1L, "x", "a"), (1L, "y", "b2")))

    val empty = delta.filter(lit(false))
    val id = Merge.upsertMerge(snapshot, empty, Seq("k1", "k2"))
      .select("k1", "k2", "v").as[(Long, String, String)].collect().toSet
    assert(id == Set((1L, "x", "a"), (1L, "y", "b")))
  }

  test("upsertMerge plans one exchange: union + window + filter share the key shuffle") {
    val snapshot = spark.range(100).select(col("id").as("k"), lit("v").as("v"))
    val delta = spark.range(10)
      .select(col("id").as("k"), lit("v1").as("v"), lit(1L).as("ver"), lit("U").as("op"))
    val plan = Merge.upsertMerge(snapshot, delta, Seq("k"))
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected exactly one key exchange, plan:\n$plan")
    // row_number()=1 is recognized as a group-top-1: Spark plans a PARTIAL
    // WindowGroupLimit below the exchange, so per key only the best row per
    // map partition is shuffled — the property that keeps the merge cheap
    // when the delta replays many versions of a hot key
    assert(plan.contains("WindowGroupLimit"), s"expected WindowGroupLimit, plan:\n$plan")
    assert("WindowGroupLimit.*Partial".r.findFirstIn(plan).isDefined,
      s"expected a map-side partial WindowGroupLimit, plan:\n$plan")
  }
}
