package graft.pipeline

/** The shared-key pair join ([[Linking.sharedKeyPairs]]) and the Jaccard
  * check on top of it ([[Linking.jaccardPairs]]) against a brute-force
  * Scala model, on seeded random (id, key) sets. Every set holds one key
  * with exactly `cap` ids (kept) and one with `cap + 1` ids (dropped). */
class SharedKeyPairsSpec extends SparkSuite {

  /** Keys held by more than `cap` ids. */
  private def hot(rows: Set[(String, Long)], cap: Int): Set[Long] =
    rows.groupBy(_._2).collect { case (k, rs) if rs.size > cap => k }.toSet

  /** (a, b) → number of kept keys both hold, for a < b sharing at least one. */
  private def model(rows: Set[(String, Long)], cap: Int): Map[(String, String), Long] = {
    val drop = hot(rows, cap)
    rows.filterNot(r => drop(r._2)).groupBy(_._2).values.toSeq
      .flatMap { rs =>
        val ids = rs.toSeq.map(_._1).sorted
        for (i <- ids.indices; j <- i + 1 until ids.size) yield (ids(i), ids(j))
      }
      .groupBy(identity).map { case (p, ps) => p -> ps.size.toLong }
  }

  private def randomRows(seed: Long, cap: Int): Set[(String, Long)] = {
    val rnd = new scala.util.Random(seed)
    val ids = (0 until 12 + rnd.nextInt(12)).map(i => f"m$i%02d")
    val random = ids.flatMap(id => Seq.fill(rnd.nextInt(6))(id -> rnd.nextInt(15).toLong))
    // boundary keys: 100 is held by exactly `cap` ids, 101 by `cap + 1`
    val atCap = rnd.shuffle(ids).take(cap).map(_ -> 100L)
    val overCap = rnd.shuffle(ids).take(cap + 1).map(_ -> 101L)
    (random ++ atCap ++ overCap).toSet
  }

  test("property: sharedKeyPairs == brute-force capped shared-key counts, cap boundary included") {
    import spark.implicits._
    (1 to 6).foreach { seed =>
      val cap = 2 + seed % 4
      val rows = randomRows(seed.toLong, cap)
      val df = rows.toSeq.toDF("id", "key")
      val want = model(rows, cap)
      val got = Linking.sharedKeyPairs(df, "id", "key", cap)
        .as[(String, String, Long)].collect()
      assert(got.length == want.size, s"seed $seed: a pair came back twice")
      assert(got.map { case (a, b, n) => (a, b) -> n }.toMap == want, s"seed $seed")
      assert(Linking.hotKeys(df, "key", cap).as[Long].collect().toSet == hot(rows, cap), s"seed $seed")
      assert(!hot(rows, cap).contains(100L) && hot(rows, cap).contains(101L))
      // the at-cap key still links its holders
      val atCap = rows.collect { case (id, 100L) => id }.toSeq.sorted
      assert(want((atCap(0), atCap(1))) >= 1)
    }
  }

  test("property: jaccardPairs == brute-force Jaccard over the capped key sets") {
    import spark.implicits._
    val linked = (1 to 4).map { seed =>
      val cap = 3
      val threshold = 0.2 * seed
      val rows = randomRows(100L + seed, cap)
      val drop = hot(rows, cap)
      val sets = rows.filterNot(r => drop(r._2)).groupBy(_._1).toSeq.map { case (id, rs) => id -> rs.map(_._2) }
      val want = (for {
        (a, x) <- sets; (b, y) <- sets
        if a < b && (x & y).nonEmpty && (x & y).size.toDouble / (x | y).size >= threshold
      } yield (a, b)).toSet
      val got = Linking.jaccardPairs(rows.toSeq.toDF("id", "key"), "id", "key", threshold, cap)
        .as[(String, String)].collect().toSet
      assert(got == want, s"seed $seed")
      want.size
    }
    assert(linked.sum > 0, "no seed linked any pair")
  }
}
