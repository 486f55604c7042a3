package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** P8: connected components over an undirected edge list — the
  * canonicalization step that collapses coreferent subjects.
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC 2014). Each round is
  * two aggregate+join rounds over the edge list; converges in O(log² n)
  * rounds worst-case, ~log n in practice, making it the right shape for a
  * 100 TB corpus (vs. O(diameter) for naive label propagation). Edges are
  * kept in canonical big→small direction, so the fixpoint is a star graph
  * whose centers are component minima.
  *
  * Per-iteration `localCheckpoint` truncates the logical plan: Catalyst does
  * not handle iterative lineage blowup (SURVEY §4.2), and without it every
  * iteration re-plans the whole history. A round has converged when the
  * edge set's [[fingerprint]] (row count and XOR of row hashes) is the same
  * before and after it.
  *
  * Node ids are strings; ordering is lexicographic, so the component
  * representative is the lexicographic minimum — deterministic and
  * SQL-oracle-friendly.
  */
object ConnectedComponents {

  /** Set fingerprint of the (distinct) edge frame: one map-side-combinable
    * aggregate — (count, bit_xor of row hashes). The previous convergence
    * check was two `exceptAll` set-differences = two extra full shuffles of
    * the edge list per iteration; at 100 TB that dominates the round. XOR of
    * 64-bit row hashes over a distinct set collides with probability ~2⁻⁶⁴ —
    * acceptable for a convergence (not correctness) signal, and the star
    * fixpoint is idempotent anyway: one spurious extra round is harmless. */
  private def fingerprint(g: DataFrame): (Long, Long) = {
    val r = g.agg(count(lit(1)), expr("bit_xor(xxhash64(u, v))")).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Default ceiling for the driver fast path: above it, the distributed
    * large-star/small-star rounds run. 10⁶ two-string edges is ~100 MB of
    * driver heap — comfortably bounded, and far below where the distributed
    * path's per-round scheduling overhead stops dominating. */
  val DriverEdgeLimit = 1000000L

  /** Star rounds the distributed path runs before it gives up. */
  private val MaxIter = 25

  /** @param edges DataFrame with string columns (a, b); direction ignored.
    * @param driverEdgeLimit when the deduplicated edge count is at or below
    *        this, components are computed with a driver-side union-find —
    *        O(E α(E)) in one collect instead of O(log n) rounds of Spark
    *        jobs (per-round fixed overhead dominates on small graphs). The
    *        distributed path is the default above it and at cluster scale;
    *        both produce identical labels (ConnectedComponentsSpec pins it).
    * @return (node, component) for every node incident to an edge;
    *         component = lexicographic min node id of the component.
    * @throws IllegalStateException if the fixpoint is not reached within
    *         [[MaxIter]] rounds — silently wrong canonical labels are worse
    *         than a failed job at any scale.
    */
  def run(edges: DataFrame, driverEdgeLimit: Long = DriverEdgeLimit): DataFrame = {
    val input = edges.select(col("a").cast("string").as("u"), col("b").cast("string").as("v"))
      .filter(col("u") =!= col("v"))

    // Canonical direction: big → small. Lazy checkpoint: the bounded
    // collect below materializes it in the same job (the eager variant ran
    // its own count first, doubling the up-front pass — r7).
    var g = input
      .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      .distinct()
      .localCheckpoint(false)

    // Node universe from the CHECKPOINTED canonical edges (same node set as
    // `input`: dedup and reorientation drop no endpoints) — deriving it from
    // `input` would re-run the whole upstream edge derivation once more at
    // the final action.
    val allNodes = g.select(col("u").as("node"))
      .unionAll(g.select(col("v").as("node"))).distinct()

    // One bounded collect decides the path and, on the driver path, is its
    // input: at most driverEdgeLimit + 1 rows reach the driver, and more
    // than driverEdgeLimit of them means the graph is too large for it.
    val spark = g.sparkSession
    import spark.implicits._
    val firstEdges = g.as[(String, String)]
      .limit(math.min(driverEdgeLimit, Int.MaxValue - 1L).toInt + 1).collect()
    if (firstEdges.length <= driverEdgeLimit) return driverUnionFind(spark, firstEdges)

    var iter = 0
    var converged = false
    var prevFp = fingerprint(g)
    while (iter < MaxIter && !converged) {
      // Large-star over the symmetric view: every neighbor v > u links to
      // m(u) = min(N(u) ∪ {u}).
      val sym = g.unionAll(g.select(col("v").as("u"), col("u").as("v")))
      val lMins = sym.groupBy("u").agg(least(min(col("v")), col("u")).as("m"))
      // No distinct here: small-star's groupBy and the final distinct absorb
      // duplicate edges, and dropping it removes one full shuffle per round.
      val large = sym.join(lMins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))

      // Small-star over the (already big→small) edges: every smaller
      // neighbor and u itself link to m(u) = min of the smaller neighbors.
      val sMins = large.groupBy("u").agg(min(col("v")).as("m"))
      val joined = large.join(sMins, "u")
      // Lazy: the fingerprint aggregate just below materializes it — the
      // eager variant paid a separate count job per round (r7).
      val next = joined.filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .unionAll(sMins.select(col("u"), col("m").as("v")))
        .distinct()
        .localCheckpoint(false)

      val fp = fingerprint(next)
      g = next
      converged = fp == prevFp
      prevFp = fp
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(s"connected components did not converge in $MaxIter iterations")

    val labels = g.groupBy("u").agg(min(col("v")).as("component"))
      .select(col("u").as("node"), col("component"))
    allNodes.join(labels, Seq("node"), "left")
      .select(col("node"), coalesce(col("component"), col("node")).as("component"))
  }

  /** "Less than" in UTF-8 byte order (unsigned lexicographic) — the order
    * Spark's UTF8String comparisons (`least`/`greatest`/`min`) and DuckDB's
    * string comparison both use, which equals code-POINT order. The JVM's
    * `String.compareTo` is UTF-16 code-UNIT order, which disagrees whenever
    * a BMP char in U+E000–U+FFFF meets a supplementary-plane char (e.g. an
    * emoji in a mention id): the surrogate code units sort below U+E000 even
    * though the code point is larger. Both CC paths must pick the same
    * component representative regardless of which one runs — the choice
    * flips silently on edge count via `driverEdgeLimit`. */
  private[pipeline] def utf8Less(a: String, b: String): Boolean = {
    // Fast path, allocation-free (this runs inside every union/find of the
    // driver union-find): below the surrogate range, UTF-16 code-unit order
    // IS UTF-8 byte order, so plain char compares suffice. The moment a
    // differing position involves any unit ≥ 0xD800 we fall back to real
    // byte comparison: Spark's UTF8String.fromString encodes UNPAIRED
    // surrogates as '?' (0x3F), and no unit-level fix-up reproduces that —
    // a lone \uD800 must sort below 'A', while a paired one sorts above
    // U+FFFF. Mention/node ids are overwhelmingly ASCII, so the slow path
    // is cold; correctness (same representative as the distributed path,
    // regardless of which path runs) wins over speed there.
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val x = a.charAt(i).toInt
      val y = b.charAt(i).toInt
      if (x != y) {
        // Non-surrogate units order exactly like their UTF-8 bytes; only a
        // surrogate (paired or lone) needs the byte-exact cold path.
        def nonSurrogate(c: Int) = c < 0xD800 || c >= 0xE000
        if (nonSurrogate(x) && nonSurrogate(y)) return x < y
        return utf8LessBytes(a, b)
      }
      i += 1
    }
    a.length < b.length
  }

  /** Exact UTF-8 byte order via encoding — matches Spark's UTF8String
    * semantics bit-for-bit, including '?' substitution for unpaired
    * surrogates. Cold path of [[utf8Less]]. */
  private def utf8LessBytes(a: String, b: String): Boolean = {
    val ab = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val bb = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(ab.length, bb.length)
    var i = 0
    while (i < n) {
      val x = ab(i) & 0xff
      val y = bb(i) & 0xff
      if (x != y) return x < y
      i += 1
    }
    ab.length < bb.length
  }

  /** Driver-side union-find over the already-deduplicated, bounded edges
    * `es` (see [[run]]'s `driverEdgeLimit` guard). Path compression +
    * union by attaching the UTF-8-byte-order larger root under the
    * smaller, so the root IS the component's min label (same order as the
    * distributed path and the SQL oracles — see [[utf8Less]]). Also the
    * clustering step of `Linking.components`' driver path. The rows are
    * one partition, so a snapshot of them is one file: a local relation is
    * otherwise sliced into `defaultParallelism` partitions. */
  private[pipeline] def driverUnionFind(spark: SparkSession, es: Array[(String, String)]): DataFrame = {
    val parent = new java.util.HashMap[String, String]()
    def find(x0: String): String = {
      var x = x0
      while (parent.get(x) != x) {
        parent.put(x, parent.get(parent.get(x))) // path halving
        x = parent.get(x)
      }
      x
    }
    es.foreach { case (u, v) =>
      if (!parent.containsKey(u)) parent.put(u, u)
      if (!parent.containsKey(v)) parent.put(v, v)
      val (ru, rv) = (find(u), find(v))
      if (ru != rv) { if (utf8Less(ru, rv)) parent.put(rv, ru) else parent.put(ru, rv) }
    }
    val rows = parent.keySet().toArray(Array.empty[String]).toSeq
      .map(n => (n, find(n)))
    spark.createDataFrame(rows).toDF("node", "component").coalesce(1)
  }
}
