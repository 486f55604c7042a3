package graft.pipeline

import org.apache.spark.sql.functions._
class LinkingSpec extends SparkSuite {

  private def exactJaccard(a: String, b: String): Double = {
    def sh(s: String) = s.toLowerCase.sliding(Linking.ShingleLen).toSet
    val (x, y) = (sh(a), sh(b))
    if (x.isEmpty && y.isEmpty) 0.0 else x.intersect(y).size.toDouble / x.union(y).size
  }

  test("jaccardEdges matches pairwise exact jaccard on the mention universe") {
    import spark.implicits._
    val mentions = Seq("Supplier#000000003", "Supplier#3", "Customer#000000017",
      "Customer#000000018", "Supplier#7", "Supplier#000000007").toDF("mention")
    val got = Linking.jaccardEdges(mentions, 0.5).as[(String, String)].collect().toSet
    val univ = mentions.as[String].collect()
    val want = (for {
      a <- univ; b <- univ if a < b && exactJaccard(a, b) >= 0.5
    } yield (a, b)).toSet
    assert(got == want)
    assert(want.contains(("Supplier#000000003", "Supplier#3")))
  }

  test("MinHash-LSH candidates contain every high-jaccard pair (recall) on real mentions") {
    import spark.implicits._
    val univ = Ner.mentionUniverse(Transcripts.transcripts(spark, sfDir)).cache()
    val lsh = Linking.lshCandidates(univ).as[(String, String)].collect().toSet
    val exact = Linking.jaccardEdges(univ, 0.5).as[(String, String)].collect().toSet
    val missed = exact -- lsh
    // With 8 bands × 4 rows, P(candidate) at j=0.5 is ~1-(1-0.5^4)^8 ≈ 0.40;
    // but our linked variants sit well above 0.5 — require >=90% recall at
    // j>=0.7 and full recall at j>=0.85.
    val strong = exact.filter { case (a, b) => exactJaccard(a, b) >= 0.85 }
    assert((strong -- lsh).isEmpty, s"missed strong pairs: ${strong -- lsh}")
    assert(missed.size < exact.size, "LSH should find at least one exact pair")
  }

  test("MinHash signature is deterministic and order-insensitive") {
    val hs = Seq("abc", "bcd", "cde").map(Linking.fnv1a)
    val s1 = Linking.signatureOf(hs)
    val s2 = Linking.signatureOf(hs.reverse)
    assert(s1.toSeq == s2.toSeq)
    assert(s1.length == Linking.NumHashes)
  }

  test("property: signature similarity approximates jaccard (seeded)") {
    val rnd = new scala.util.Random(7)
    def words(n: Int) = List.fill(n)(rnd.alphanumeric.filter(_.isLower).take(3 + rnd.nextInt(6)).mkString)
    (1 to 30).foreach { trial =>
      val shared = words(rnd.nextInt(20))
      val a = (shared ++ words(5 + rnd.nextInt(15))).flatMap(_.sliding(3)).map(Linking.fnv1a).toSet
      val b = (shared ++ words(5 + rnd.nextInt(15))).flatMap(_.sliding(3)).map(Linking.fnv1a).toSet
      if (a.nonEmpty && b.nonEmpty) {
        val j = a.intersect(b).size.toDouble / a.union(b).size
        val sa = Linking.signatureOf(a)
        val sb = Linking.signatureOf(b)
        val est = sa.zip(sb).count { case (x, y) => x == y }.toDouble / Linking.NumHashes
        assert(math.abs(est - j) < 0.45, s"trial $trial: est=$est j=$j")
      }
    }
  }

  test("Catalyst minhashSignatures == signatureOf == minhashSignaturesFrom") {
    import spark.implicits._
    val univ = Seq("Supplier#000000003", "Supplier#3", "Customer#000000017", "abc").toDF("mention")
    val catalyst = Linking.minhashSignatures(univ)
      .as[(String, Seq[Long])].collect().toMap

    def shingles(m: String): Seq[String] =
      m.toLowerCase.sliding(Linking.ShingleLen).filter(_.length == Linking.ShingleLen).toSeq.distinct
    val pure = catalyst.keys.map(m => m -> Linking.signatureOf(shingles(m).map(Linking.fnv1a)).toSeq).toMap
    assert(catalyst == pure)

    val viaExploded = Linking.minhashSignaturesFrom(Linking.mentionShingles(univ), "mention")
      .as[(String, Seq[Long])].collect().toMap
    assert(catalyst == viaExploded)
  }

  test("shinglesExpr yields no shingles for strings shorter than the shingle length") {
    import spark.implicits._
    val got = Seq("x", "ab", "abc").toDF("mention")
      .select(col("mention"), Linking.shinglesExpr("mention").as("sh"))
      .as[(String, Seq[String])].collect().toMap
    assert(got("x").isEmpty && got("ab").isEmpty && got("abc") == Seq("abc"))
  }

  test("native char_shingles equals the defining shinglesExpr chain (case, repeats, non-ASCII)") {
    import spark.implicits._
    val univ = (Seq("Supplier#000000003", "Customer#17", "ABCabcABC", "aaaa", "x", "ab",
      "Ünïcødé Mention", "naïve café") ++
      spark.read.parquet(s"$sfDir/customer.parquet").select("c_name").as[String].collect().toSeq)
      .toDF("mention")
    val pairs = univ.select(col("mention"),
      Linking.shinglesCol("mention").as("native"),
      Linking.shinglesExpr("mention").as("fold"))
      .as[(String, Seq[String], Seq[String])].collect()
    pairs.foreach { case (m, n, f) => assert(n == f, s"mismatch for '$m'") }
  }

  test("capShingleDf drops shingles above the document-frequency cap") {
    import spark.implicits._
    val sh = Seq(("a", "hot"), ("b", "hot"), ("c", "hot"), ("a", "rare"), ("b", "other"))
      .toDF("mention", "shingle")
    val kept = Linking.capShingleDf(sh, 2)
      .select("mention", "shingle").as[(String, String)].collect().toSet
    assert(kept == Set(("a", "rare"), ("b", "other")))
  }

  test("lshCandidates bucket cap limits pair fan-out for identical-signature mentions") {
    import spark.implicits._
    // Rotations of a period-3 string share the identical shingle SET, hence
    // identical MinHash signatures and identical band buckets.
    val rots = Seq("abcabcabc", "bcabcabca", "cabcabcab").toDF("mention")
    assert(Linking.lshCandidates(rots).count() == 3)
    assert(Linking.lshCandidates(rots, maxBucketSize = 2).count() == 1)
  }

  test("broadcast dictionary linking resolves short and padded forms to the same entity") {
    import spark.implicits._
    val mentions = Seq("Supplier#3", "Supplier#000000003", "Customer#000000017").toDF("mention")
    val customers = Seq(("Customer#000000017")).toDF("c_name")
    val suppliers = Seq(("Supplier#000000003")).toDF("s_name")
    val linked = Linking.linkToDictionary(mentions, customers, suppliers)
      .as[(String, String)].collect().toSet
    assert(linked == Set(
      ("Supplier#3", "Supplier#000000003"),
      ("Supplier#000000003", "Supplier#000000003"),
      ("Customer#000000017", "Customer#000000017")))
  }
}
