package graft.pipeline

import org.apache.spark.sql.DataFrame

/** `Linking.components` against its reference formulation,
  * `ConnectedComponents.run(Linking.jaccardEdges(...))`, compared as sets
  * of (node, component); the driver path's pairs are also compared with
  * `jaccardEdges` itself. */
class LinkingComponentsSpec extends SparkSuite {

  private def frame(ms: Seq[String]): DataFrame = {
    import spark.implicits._
    ms.distinct.toDF("mention")
  }

  private def reference(m: DataFrame, threshold: Double, cap: Long): Set[(String, String)] = {
    import spark.implicits._
    ConnectedComponents.run(Linking.jaccardEdges(m, threshold, cap)).as[(String, String)].collect().toSet
  }

  private def components(m: DataFrame, threshold: Double, cap: Long,
                         limit: Long = ConnectedComponents.DriverEdgeLimit): Set[(String, String)] = {
    import spark.implicits._
    Linking.components(m, threshold, cap, limit).as[(String, String)].collect().toSet
  }

  private def shingleRows(m: DataFrame): Array[(String, String)] = {
    import spark.implicits._
    Linking.mentionShingles(m).as[(String, String)].collect()
  }

  /** The driver path's pairs, asserting that it is the path taken. */
  private def driverPairs(m: DataFrame, threshold: Double, cap: Long): Set[(String, String)] = {
    val pairs = Linking.driverJaccardPairs(shingleRows(m), threshold, cap, ConnectedComponents.DriverEdgeLimit)
    assert(pairs.isDefined, "expected the driver path")
    pairs.get.toSet
  }

  private def edges(m: DataFrame, threshold: Double, cap: Long): Set[(String, String)] = {
    import spark.implicits._
    Linking.jaccardEdges(m, threshold, cap).as[(String, String)].collect().toSet
  }

  test("the sf0.001 mention universe: same components as the reference, on the driver path") {
    val univ = Ner.mentionUniverse(Transcripts.transcripts(spark, sfDir)).localCheckpoint()
    val cap = Linking.DefaultMaxShingleDf
    val want = reference(univ, 0.5, cap)
    assert(want.nonEmpty && want.exists { case (n, c) => n != c })
    assert(components(univ, 0.5, cap) == want)
    assert(driverPairs(univ, 0.5, cap) == edges(univ, 0.5, cap))
    // the mentions as the pipeline passes them: one row per occurrence
    val occurrences = Ner.mentions(Transcripts.proseTurns(spark, sfDir)).select("mention")
    assert(occurrences.count() > univ.count())
    assert(driverPairs(occurrences, 0.5, cap) == edges(univ, 0.5, cap))
    assert(components(occurrences, 0.5, cap) == want)
    assert(components(occurrences, 0.5, cap, limit = 0) == want)
  }

  test("property: mentions mixing U+E000–U+FFFF and supplementary-plane characters (seeded)") {
    // UTF-16 order puts a surrogate pair below U+E000; UTF-8 order (Spark's)
    // puts it above U+FFFF, so both the pair orientation and the component
    // minimum depend on which order the driver path uses.
    val emoji = Seq(0x1F600, 0x1F680, 0x10400).map(cp => new String(Character.toChars(cp)))
    val alphabet = Seq("\ue000", "\uff21", "\uffee") ++ emoji
    val rnd = new scala.util.Random(20261019)
    var contested = 0 // components whose UTF-16 minimum is not their label
    (1 to 4).foreach { trial =>
      def symbol() = alphabet(rnd.nextInt(alphabet.length))
      // ten base strings with four one-symbol variants each, so there are
      // edges, and components whose members start with different symbols
      val ms = Seq.fill(10)(Seq.fill(6 + rnd.nextInt(3))(symbol())).flatMap { base =>
        base.mkString +: Seq.fill(4)(base.updated(rnd.nextInt(base.length), symbol()).mkString)
      }
      val m = frame(ms)
      for (threshold <- Seq(0.3, 0.5)) {
        val want = reference(m, threshold, 8)
        assert(components(m, threshold, 8) == want, s"trial $trial, threshold $threshold")
        assert(driverPairs(m, threshold, 8) == edges(m, threshold, 8), s"trial $trial, threshold $threshold")
        contested += want.groupMap(_._2)(_._1).count { case (c, ns) => ns.min != c }
      }
    }
    assert(contested > 0, "no component where the UTF-16 and UTF-8 orders pick different minima")
  }

  test("a shingle held by exactly cap mentions is kept; one held by cap + 1 is dropped") {
    // "xyz" is held by 3 mentions, "qrs" by 4; each mention's other shingle
    // is its own, so every edge comes from the shared one (Jaccard 1/3)
    val m = frame(Seq("xyz1", "xyz2", "xyz3", "qrs1", "qrs2", "qrs3", "qrs4"))
    val want = Set("xyz1", "xyz2", "xyz3").map(_ -> "xyz1")
    assert(reference(m, 0.3, 3) == want)
    assert(components(m, 0.3, 3) == want)
    assert(driverPairs(m, 0.3, 3) == Set(("xyz1", "xyz2"), ("xyz1", "xyz3"), ("xyz2", "xyz3")))
  }

  test("a pair whose Jaccard is exactly the threshold is kept") {
    // {abc, bcd, cde} ∩ {abc, bcd, cdf}: 2 of 4 shingles, so exactly 0.5
    val m = frame(Seq("abcde", "abcdf", "zzzzz"))
    val want = Set("abcde" -> "abcde", "abcdf" -> "abcde")
    assert(reference(m, 0.5, 10) == want)
    assert(components(m, 0.5, 10) == want)
    assert(driverPairs(m, 0.5, 10) == Set(("abcde", "abcdf")))
  }

  test("both fallbacks: rows over the limit, and pair work over the limit with the rows under it") {
    val rnd = new scala.util.Random(7)
    val m = frame(Seq.fill(30)("ent" + Seq.fill(3)("abc".charAt(rnd.nextInt(3))).mkString))
    val cap = 100L
    val want = reference(m, 0.3, cap)
    assert(want.exists { case (n, c) => n != c })
    val rows = shingleRows(m)
    val work = rows.groupMap(_._2)(_._1).values.filter(_.length <= cap)
      .map(h => h.length.toLong * (h.length - 1) / 2).sum
    assert(rows.nonEmpty && rows.length < work - 1, s"rows ${rows.length}, pair work $work")

    assert(Linking.driverJaccardPairs(rows, 0.3, cap, 0).isEmpty)
    assert(components(m, 0.3, cap, limit = 0) == want)

    assert(Linking.driverJaccardPairs(rows, 0.3, cap, work - 1).isEmpty)
    assert(Linking.driverJaccardPairs(rows, 0.3, cap, work).isDefined)
    assert(components(m, 0.3, cap, limit = work - 1) == want)
    assert(components(m, 0.3, cap, limit = work) == want)
  }
}
