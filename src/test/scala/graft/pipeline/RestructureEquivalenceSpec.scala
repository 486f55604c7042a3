package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pins for the r7 optimization restructures: every rewritten operator must
  * produce EXACTLY the rows of its defining (pre-optimization) formulation,
  * which is re-stated inline here so the equivalence stays testable after
  * the hot path moved on. */
class RestructureEquivalenceSpec extends SparkSuite {

  private def rows(df: DataFrame): Map[String, Int] =
    df.collect().map(_.toString).groupBy(identity).map { case (k, v) => k -> v.length }

  test("transcripts = payloadTurns ∪ proseTurns; parity filters equal the direct surfaces") {
    val t = Transcripts.transcripts(spark, sfDir)
    val even = t.filter(col("turn_idx") % 2 === 0)
    val odd = t.filter(col("turn_idx") % 2 === 1)
    val payload = Transcripts.payloadTurns(spark, sfDir)
    val prose = Transcripts.proseTurns(spark, sfDir)
    assert(rows(payload) == rows(even))
    assert(rows(prose) == rows(odd))
    assert(rows(t) == rows(payload.unionAll(prose)))
  }

  test("lshCandidates member-list form equals the defining bucket self-join") {
    val univ = Ner.mentionUniverse(Transcripts.transcripts(spark, sfDir))
    val b = Linking.capBucket(Linking.lshBuckets(univ),
      Seq("band", "bandKey"), "mention", Linking.DefaultMaxBucketSize)
    val defining = b.as("x").join(b.as("y"), Seq("band", "bandKey"))
      .filter(col("x.mention") < col("y.mention"))
      .select(col("x.mention").as("a"), col("y.mention").as("b"))
      .distinct()
    assert(rows(Linking.lshCandidates(univ)) == rows(defining))
  }

  test("minhash_sig over word_gram_hashes is bit-identical to the string-shingle path") {
    import graft.functions.{GraftFunctions => F}
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").cast("string").as("doc_id"), col("text"))
      .filter(graft.ops.Dedup.hasMinTokens(col("text"), 5))
    val viaStrings = docs.select(col("doc_id"),
      F.minhash_sig(F.word_shingles(col("text"), 5)).as("sig"))
    val viaHashes = docs.select(col("doc_id"),
      F.minhash_sig(F.word_gram_hashes(col("text"), 5)).as("sig"))
    assert(rows(viaHashes) == rows(viaStrings))
  }

  test("map-side coarseAssign equals the defining groupBy(vec_id) argmax — untrained and trained") {
    import graft.ops.Similarity
    val e = Similarity.withNorms(spark.read.parquet(s"$sfDir/embeddings.parquet"))
    val cb0 = Similarity.coarseCodebook(e, 16)
    assert(rows(Similarity.coarseAssign(e, cb0)) == rows(Similarity.coarseAssignByAgg(e, cb0)))
    val cbT = Similarity.lloydRefine(e, cb0, 2)
    assert(rows(Similarity.coarseAssign(e, cbT)) == rows(Similarity.coarseAssignByAgg(e, cbT)))
  }

  test("map-side pqCodes equals the defining groupBy argmin — untrained and trained") {
    import graft.ops.Similarity
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    assert(rows(Similarity.pqCodes(emb, dim = 64)) == rows(Similarity.pqCodesByAgg(emb, dim = 64)))
    assert(rows(Similarity.pqCodes(emb, dim = 64, trainIters = 2)) ==
      rows(Similarity.pqCodesByAgg(emb, dim = 64, trainIters = 2)))
  }

  test("hashed ngramJaccardPairs equals the defining string-shingle formulation") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val sh = Linking.capShingleDf(
      graft.ops.Dedup.wordShingleArrays(docs, "doc_id", "text")
        .select(col("doc_id"), explode(col("shingles")).as("shingle")), Linking.DefaultMaxShingleDf)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val inter = sh.as("x").join(sh.as("y"), col("x.shingle") === col("y.shingle"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(count(lit(1)).as("cnt"))
    val defining = inter
      .join(sizes.withColumnRenamed("doc_id", "a").withColumnRenamed("sz", "sza"), "a")
      .join(sizes.withColumnRenamed("doc_id", "b").withColumnRenamed("sz", "szb"), "b")
      .filter(col("cnt") * lit(1.0) / (col("sza") + col("szb") - col("cnt")) >= 0.6)
      .select("a", "b")
    assert(rows(graft.ops.Dedup.ngramJaccardPairs(docs, 0.6)) == rows(defining))
  }
}
