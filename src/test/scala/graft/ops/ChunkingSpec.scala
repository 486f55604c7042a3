package graft.ops

import graft.pipeline.SparkSuite

class ChunkingSpec extends SparkSuite {

  test("chunkDocs: window geometry, overlap, short tail, single-chunk doc, null text skipped") {
    import spark.implicits._
    // doc 1: 10 tokens, size 4 / overlap 1 (stride 3) → starts 0,3,6 — a
    // 4th window (start 9, just "t10") would be contained in chunk 2 and
    // is suppressed (no-duplicate-tail rule)
    val docs = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")),
      (2L, "only three tokens"),
      (3L, null: String),
      (4L, (1 to 11).map(i => s"u$i").mkString(" ")), // one fresh token past chunk 2 → tail kept
    ).toDF("doc_id", "text")
    val out = Chunking.chunkDocs(docs, size = 4, overlap = 1)
      .as[(Long, Long, Long, String)].collect().toSet
    assert(out == Set(
      (1L, 0L, 4L, "t1 t2 t3 t4"),
      (1L, 1L, 4L, "t4 t5 t6 t7"),
      (1L, 2L, 4L, "t7 t8 t9 t10"),
      (2L, 0L, 3L, "only three tokens"), // doc shorter than one window
      (4L, 0L, 4L, "u1 u2 u3 u4"),
      (4L, 1L, 4L, "u4 u5 u6 u7"),
      (4L, 2L, 4L, "u7 u8 u9 u10"),
      (4L, 3L, 2L, "u10 u11"), // short tail with fresh content survives
    ))
    // overlap invariant: consecutive chunks share exactly `overlap` tokens
    val c = out.filter(_._1 == 1L).toSeq.sortBy(_._2).map(_._4.split(" ").toSeq)
    c.sliding(2).foreach { case Seq(a, b) => assert(a.takeRight(1) == b.take(1)) }
    // no chunk's text is a contiguous sub-span of another chunk of the same doc
    out.groupBy(_._1).values.foreach { chunks =>
      for (a <- chunks; b <- chunks if a._2 != b._2)
        assert(!(" " + b._4 + " ").contains(" " + a._4 + " "), s"chunk ${a._2} ⊆ ${b._2}")
    }
  }

  test("chunkDocs: every token of every document is covered; chunk_text reassembles the doc at zero overlap") {
    import spark.implicits._
    val docs = Seq((7L, (1 to 23).map("w" + _).mkString(" "))).toDF("doc_id", "text")
    val chunks = Chunking.chunkDocs(docs, size = 5, overlap = 0)
      .orderBy("chunk_idx").as[(Long, Long, Long, String)].collect()
    assert(chunks.map(_._4).mkString(" ") == (1 to 23).map("w" + _).mkString(" "))
    assert(chunks.map(_._3).sum == 23L)
  }

  test("packSequences: token offsets tile each bucket exactly; long docs span sequences; buckets independent") {
    import spark.implicits._
    // bucketDocs=4: docs 0-3 in bucket 0, docs 4-5 in bucket 1
    val docs = Seq(
      (0L, (1 to 5).map(_ => "w").mkString(" ")),  // 5 tokens → seqs: [0,5) in seqLen 8 → seq 0
      (1L, (1 to 6).map(_ => "w").mkString(" ")),  // [5,11) → first 0, last 1 (spans the cut at 8)
      (2L, "w"),                                    // [11,12) → seq 1
      (3L, (1 to 20).map(_ => "w").mkString(" ")), // [12,32) → first 1, last 3
      (4L, (1 to 3).map(_ => "w").mkString(" ")),  // new bucket: [0,3) → seq 0
      (5L, null: String),                           // skipped
    ).toDF("doc_id", "text")
    val out = Chunking.packSequences(docs, seqLen = 8, bucketDocs = 4)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(out == Set(
      (0L, 0L, 5L, 0L, 0L),
      (1L, 0L, 6L, 0L, 1L),
      (2L, 0L, 1L, 1L, 1L),
      (3L, 0L, 20L, 1L, 3L),
      (4L, 1L, 3L, 0L, 0L),
    ))
  }

  test("chunkDocs plans no shuffle; packSequences plans exactly one bucket-key exchange") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val chunkPlan = Chunking.chunkDocs(docs).queryExecution.executedPlan.toString
    assert(!chunkPlan.contains("Exchange"), s"chunking must be map-only:\n$chunkPlan")
    val packPlan = Chunking.packSequences(docs).queryExecution.executedPlan.toString
    val n = "Exchange hashpartitioning".r.findAllIn(packPlan).length
    assert(n == 1, s"packing must be one bucket exchange:\n$packPlan")
    assert(!packPlan.contains("SinglePartition"), "no global window allowed")
  }
}
