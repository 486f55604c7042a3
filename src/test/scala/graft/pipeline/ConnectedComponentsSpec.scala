package graft.pipeline

class ConnectedComponentsSpec extends SparkSuite {

  /** Single-JVM oracle: union-find. */
  private def oracle(edges: Seq[(String, String)]): Map[String, String] = {
    val parent = scala.collection.mutable.HashMap.empty[String, String]
    def find(x: String): String = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    // normalize: component = min member
    val members = parent.keys.toSeq
    val byRoot = members.groupBy(find)
    byRoot.flatMap { case (_, ms) => val mn = ms.min; ms.map(_ -> mn) }
  }

  test("chain + separate component (both the driver and the distributed path)") {
    import spark.implicits._
    val edges = Seq(("x", "y"), ("y", "z"), ("p", "q")).toDF("a", "b")
    val expect = Map("x" -> "x", "y" -> "x", "z" -> "x", "p" -> "p", "q" -> "p")
    val driver = ConnectedComponents.run(edges).as[(String, String)].collect().toMap
    val dist = ConnectedComponents.run(edges, driverEdgeLimit = 0)
      .as[(String, String)].collect().toMap
    assert(driver == expect && dist == expect)
  }

  test("property: both paths match the union-find oracle on random graphs (seeded)") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    (1 to 5).foreach { trial =>
      val es = List.fill(60)((f"n${rnd.nextInt(40)}%02d", f"n${rnd.nextInt(40)}%02d"))
      val real = es.filter { case (a, b) => a != b }
      val driver = ConnectedComponents.run(real.toDF("a", "b")).as[(String, String)].collect().toMap
      val dist = ConnectedComponents.run(real.toDF("a", "b"), driverEdgeLimit = 0)
        .as[(String, String)].collect().toMap
      assert(driver == oracle(real), s"trial $trial (driver fast path)")
      assert(dist == oracle(real), s"trial $trial (distributed path)")
    }
  }

  test("entities rule: count(node = component) = count(distinct component) on both paths") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // KgPipeline counts entities as the rows whose node is its own component
    // while it writes the canonical snapshot; that is the number of
    // components only if every representative maps to itself. Input: six
    // groups of ten nodes, linked only within a group, so several components
    val rnd = new scala.util.Random(7)
    val es = List.fill(60) { val g = rnd.nextInt(6); (s"g$g-${rnd.nextInt(10)}", s"g$g-${rnd.nextInt(10)}") }
      .filter { case (a, b) => a != b }
    for (limit <- Seq(ConnectedComponents.DriverEdgeLimit, 0L)) {
      val cc = ConnectedComponents.run(es.toDF("a", "b"), driverEdgeLimit = limit)
      val r = cc.agg(count(when(col("node") === col("component"), 1)), countDistinct(col("component"))).head()
      assert(r.getLong(0) == r.getLong(1) && r.getLong(1) > 1, s"driverEdgeLimit=$limit: $r")
    }
  }

  test("supplementary-plane ids: driver and distributed paths pick the same component label") {
    import spark.implicits._
    // "" (private-use BMP char) vs "😀" (U+1F600 emoji):
    // UTF-16 code-unit order says emoji < U+E000 (surrogates sort below
    // U+E000), UTF-8 byte / code-point order says U+E000 < U+1F600. Spark's
    // UTF8String min and the DuckDB oracles use the latter; the driver
    // union-find must agree or the canonical label flips with corpus size.
    val e000 = "\ue000"
    val emoji = new String(Character.toChars(0x1F600))
    assert(emoji < e000, "precondition: JVM UTF-16 order disagrees with code-point order")
    // third node U+FFFD sorts above U+E000 in BOTH orders, so the component
    // minimum is decided purely by the contested e000-vs-emoji comparison
    // (an ASCII third node would be the min under both orders and mask the bug)
    val edges = Seq((e000, emoji), (emoji, "\ufffd")).toDF("a", "b")
    val driver = ConnectedComponents.run(edges).as[(String, String)].collect().toMap
    val dist = ConnectedComponents.run(edges, driverEdgeLimit = 0)
      .as[(String, String)].collect().toMap
    assert(driver == dist)
    // the representative is the code-point minimum: U+E000
    assert(driver.values.toSet == Set(e000))
  }

  test("utf8Less matches Spark's UTF8String byte order, including lone surrogates ('?' substitution)") {
    import org.apache.spark.unsafe.types.UTF8String
    val lone = "\ud800" // unpaired high surrogate: UTF8String encodes as '?' (0x3F)
    val emoji = new String(Character.toChars(0x1F600))
    val cases = Seq(
      lone, "A", "!", emoji, "", "�", "", "zz", "\ud800A", "A\ud800",
      emoji + "a", "\udc00" /* lone low surrogate */, "?" /* collides with lone-surrogate encoding */)
    for (a <- cases; b <- cases) {
      val expected = UTF8String.fromString(a).compareTo(UTF8String.fromString(b)) < 0
      assert(ConnectedComponents.utf8Less(a, b) == expected, s"utf8Less(${a.codePoints().toArray.toSeq}, ${b.codePoints().toArray.toSeq})")
    }
  }

  test("long path converges within iteration budget (log-round behavior, distributed path)") {
    import spark.implicits._
    val n = 64
    val edges = (0 until n - 1).map(i => (f"v$i%03d", f"v${i + 1}%03d")).toDF("a", "b")
    val got = ConnectedComponents.run(edges, driverEdgeLimit = 0).as[(String, String)].collect()
    assert(got.length == n)
    assert(got.forall(_._2 == "v000"))
  }
}
