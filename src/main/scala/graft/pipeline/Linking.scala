package graft.pipeline

import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** P6/P7: entity-linking blocking and scoring.
  *
  * The blocking step is [[sharedKeyPairs]], SparkER's token blocking in one
  * join: block purging (every key held by more than a cap of ids is
  * dropped, [[capShingleDf]]) plus the shared-block count of each candidate
  * pair, `(a, b, n)`. Exact n-gram Jaccard here and in
  * `Dedup.ngramJaccardPairs` ([[jaccardPairs]]), `Dedup.substringDupPairs`
  * and `GraphAnalytics.cooccurrence` all block through it.
  *
  * Two blocking paths over mention character shingles:
  *   - exact n-gram Jaccard (DuckDB-oracle-able, the correctness gate);
  *   - MinHash-LSH (the scale path: per-row native signature, band-bucket
  *     blocking with per-bucket member-set pair emission; verified against
  *     exact Jaccard in ScalaTest).
  * plus a broadcast-dictionary scoring stage (P7): mention → canonical
  * entity via a small dictionary dim that is explicitly `broadcast()`.
  *
  * All expressions are Catalyst built-ins (transform/sequence/substring/
  * explode) — no UDFs in the hot path; MinHash uses a deterministic integer
  * mix expressed in SQL arithmetic so the same signature is computable
  * anywhere.
  */
object Linking {

  val ShingleLen = 3

  /** Default document-frequency cap for inverted-index blocking: a shingle
    * present in k documents contributes k² rows to the shared-shingle
    * self-join, so one boilerplate shingle shared by 10⁸ docs is a
    * job-killing skew key at 100 TB. Shingles above the cap carry no
    * discriminating signal (they are near-stopwords of the corpus) and are
    * dropped from BOTH the intersection and the set sizes, so the Jaccard
    * stays a true Jaccard over the discriminating-shingle sets. */
  val DefaultMaxShingleDf = 1000L

  /** Default LSH bucket-membership cap: m identical documents land in one
    * (band, key) bucket and would emit m² candidate pairs — quadratic at
    * training-corpus duplication rates (m ~ 10⁶ for boilerplate). Buckets
    * above the cap keep their first `cap` members by id; the recall trade is
    * only among documents so similar they collide in a full band, which an
    * exact-hash dedup pass upstream removes anyway. */
  val DefaultMaxBucketSize = 1024

  /** The hot set of a distinct (id, key) frame: every key held by more
    * than `cap` ids. The caps-fire evidence query (`kg_cap_fired`) counts
    * exactly this frame, so the evidence cannot drift from the cap. */
  def hotKeys(rows: DataFrame, key: String, cap: Long): DataFrame =
    rows.groupBy(key).agg(count(lit(1)).as("df")).filter(col("df") > cap).select(key)

  /** Keep only keys whose document frequency is <= cap (see
    * [[DefaultMaxShingleDf]]). Shaped as an ANTI-join against the HOT set
    * (keys above the cap): hot keys are by construction a tiny fraction of
    * the distinct-key universe, so AQE broadcasts the anti side at runtime
    * and the big (id, key) frame is never re-shuffled — a semi-join against
    * the keep set would shuffle everything twice. */
  def capShingleDf(sh: DataFrame, cap: Long, key: String = "shingle"): DataFrame =
    sh.join(hotKeys(sh, key, cap), Seq(key), "left_anti")

  /** Shared-key pair join over distinct (id, key) rows: keys held by more
    * than `cap` ids are dropped ([[capShingleDf]]), the rest self-join on
    * the key, and each pair (a, b), a < b, that shares at least one kept
    * key comes back once with `n`, the number of kept keys it shares. The
    * self-join IS the blocking (an inverted index, never an O(n²) pair
    * enumeration); the cap bounds its output by |keys| × cap². Callers
    * cut the input's lineage themselves when they consume it again. */
  def sharedKeyPairs(rows: DataFrame, id: String, key: String, cap: Long): DataFrame =
    pairCounts(capShingleDf(rows, cap, key), id, key)

  private def pairCounts(capped: DataFrame, id: String, key: String): DataFrame =
    capped.as("x").join(capped.as("y"), col(s"x.$key") === col(s"y.$key"))
      .filter(col(s"x.$id") < col(s"y.$id"))
      .groupBy(col(s"x.$id").as("a"), col(s"y.$id").as("b"))
      .agg(count(lit(1)).as("n"))

  /** Pairs (a, b), a < b, of exact key-set Jaccard >= threshold over
    * distinct (id, key) rows: the shared-key pair join plus set sizes, both
    * taken from the capped rows — a hot key leaves the intersection AND
    * the sizes, so the score stays a true Jaccard over the discriminating
    * keys.
    *
    * The capped frame is consumed THREE times (set sizes + both sides of
    * the self-join); without a cut, each consumer re-derives the whole
    * upstream (transcript window + regex extract + distinct — r2 bench
    * showed kg_canonical paying that 3×). One localCheckpoint materializes
    * it once; it is O(distinct ids × keys/id) — orders of magnitude below
    * the corpus, and localCheckpoint spills block-wise to executor-local
    * disk, so the cut holds at cluster scale too. LAZY (r7, A/B-measured):
    * same cut, no separate up-front count job; the self-join's two sides
    * share one exchange, so the first touch materializes the cache for
    * everyone. */
  def jaccardPairs(rows: DataFrame, id: String, key: String,
                   threshold: Double, cap: Long): DataFrame = {
    val sh = capShingleDf(rows, cap, key).localCheckpoint(false)
    val sizes = sh.groupBy(id).agg(count(lit(1)).as("sz"))
    pairCounts(sh, id, key)
      .join(sizes.withColumnRenamed(id, "a").withColumnRenamed("sz", "sza"), "a")
      .join(sizes.withColumnRenamed(id, "b").withColumnRenamed("sz", "szb"), "b")
      .filter(col("n") * lit(1.0) / (col("sza") + col("szb") - col("n")) >= threshold)
      .select("a", "b")
  }

  /** Character n-gram shingle set of the lowercased mention, as a column of
    * distinct strings — the DEFINING Catalyst formulation (pure built-ins:
    * sequence → transform → substring; what the DuckDB oracles mirror).
    * Guarded for strings shorter than the shingle length: Spark's
    * `sequence(1, 0)` counts DOWN ([1, 0]), so an unguarded greatest(…, 0)
    * bound would fabricate a shingle for 1-2 char strings where the DuckDB
    * oracle's `generate_series(1, 0)` yields none. The hot paths use the
    * value-identical native [[shinglesCol]] (LinkingSpec pins equality);
    * this chain stays as the cross-check. */
  def shinglesExpr(colName: String): Column =
    expr(s"""CASE WHEN length($colName) >= $ShingleLen
      THEN array_distinct(transform(sequence(1, length($colName) - ${ShingleLen - 1}), i -> substring(lower($colName), i, $ShingleLen)))
      ELSE cast(array() AS array<string>) END""")

  /** Native fused-loop form of [[shinglesExpr]] (graft.functions
    * .CharShingles: UTF8String lowercase + code-point substrings — the same
    * operations Spark's `lower`/`substring` perform, so parity holds beyond
    * ASCII). One codegen call per row instead of an interpreted lambda that
    * allocates a substring per shingle. */
  def shinglesCol(colName: String): Column =
    graft.functions.GraftFunctions.char_shingles(col(colName), ShingleLen)

  /** Exploded (mention, shingle) pairs for a mention universe. */
  def mentionShingles(mentions: DataFrame): DataFrame =
    mentions.select(col("mention"), explode(shinglesCol("mention")).as("shingle"))

  /** Exact pairwise char-n-gram Jaccard of the mentions ([[jaccardPairs]]
    * over [[mentionShingles]]). Returns pairs (a, b), a < b, with
    * jaccard >= threshold. */
  def jaccardEdges(mentions: DataFrame, threshold: Double,
                   maxShingleDf: Long = DefaultMaxShingleDf): DataFrame =
    jaccardPairs(mentionShingles(mentions), "mention", "shingle", threshold, maxShingleDf)

  /** Canonicalization of the mentions in a `mention` column, which may
    * repeat: `(node, component)` for every mention with a [[jaccardEdges]]
    * edge in the distinct mention universe, labelled as
    * [[ConnectedComponents.run]] labels it (component = the UTF-8-order
    * minimum). SparkER's blocking → matching → clustering chain, run on the
    * driver when the universe is small: one bounded collect of
    * [[mentionShingles]] (at most `driverLimit + 1` rows) decides the path,
    * and when both the rows and the pair work are at most `driverLimit`
    * ([[driverJaccardPairs]]), the capped Jaccard rule and the union-find
    * run in driver memory, repeats dropped there too. That is one Spark
    * job without a shuffle instead of about ten, and it leaves the KG build
    * few enough generated classes to stay inside Spark's codegen cache.
    * Otherwise, and at cluster scale, it is exactly
    * `ConnectedComponents.run(jaccardEdges(universe, threshold,
    * maxShingleDf))` over the distinct mentions. The shingles always come
    * from Spark's `char_shingles`.
    * @param driverLimit test hook, like `ConnectedComponents.run`'s
    *        `driverEdgeLimit`. */
  def components(mentions: DataFrame, threshold: Double,
                 maxShingleDf: Long = DefaultMaxShingleDf,
                 driverLimit: Long = ConnectedComponents.DriverEdgeLimit): DataFrame = {
    val spark = mentions.sparkSession
    import spark.implicits._
    val rows = mentionShingles(mentions).as[(String, String)]
      .limit(math.min(driverLimit, Int.MaxValue - 1L).toInt + 1).collect()
    driverJaccardPairs(rows, threshold, maxShingleDf, driverLimit) match {
      case Some(pairs) => ConnectedComponents.driverUnionFind(spark, pairs)
      case None =>
        ConnectedComponents.run(jaccardEdges(mentions.select("mention").distinct(), threshold, maxShingleDf))
    }
  }

  /** [[jaccardPairs]] in driver memory over the distinct (mention,
    * shingle) rows: every shingle held by more than `cap` mentions is
    * dropped (the [[hotKeys]] rule), each pair `a < b` (UTF-8 byte order, as Spark
    * compares) counts the kept shingles it shares, and a pair is kept when
    * its Jaccard over the kept shingles, the same double expression, is at
    * least `threshold`. None when the rows or the pair work — Σ C(df, 2)
    * over the kept shingles, counted before any pair is made — exceed
    * `limit`: the caller then takes the distributed path. `rows` may
    * repeat, as the shingles of a repeated mention do. */
  private[pipeline] def driverJaccardPairs(rows: Array[(String, String)], threshold: Double,
                                           cap: Long, limit: Long): Option[Array[(String, String)]] = {
    if (rows.length > limit) return None
    val holders = rows.distinct.groupMap(_._2)(_._1).values.filter(_.length <= cap).toSeq
    if (holders.map(h => h.length.toLong * (h.length - 1) / 2).sum > limit) return None
    val sizes = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    val shared = mutable.HashMap.empty[(String, String), Long].withDefaultValue(0L)
    holders.foreach { h =>
      h.foreach(m => sizes(m) += 1)
      for (i <- h.indices; j <- i + 1 until h.length)
        shared(if (ConnectedComponents.utf8Less(h(i), h(j))) (h(i), h(j)) else (h(j), h(i))) += 1
    }
    Some(shared.iterator.collect {
      case (pair @ (a, b), n) if n * 1.0 / (sizes(a) + sizes(b) - n) >= threshold => pair
    }.toArray)
  }

  // ---------------------------------------------------------------- MinHash

  val NumHashes = 32
  val Bands = 8
  val RowsPerBand: Int = NumHashes / Bands

  /** Deterministic 64-bit string hash (FNV-1a), expressed once in Scala for
    * tests and as a column for the pipeline. */
  def fnv1a(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) { h ^= s.charAt(i).toLong; h *= 0x100000001b3L; i += 1 }
    h
  }

  /** murmur3 fmix64 finalizer — a proper independent hash family when
    * composed with per-function seeds (a plain `(a·x+b) mod p` family with
    * small multipliers is degenerate: tiny residues win every function). */
  def fmix64(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 33)) * 0xff51afd7ed558ccdL
    z = (z ^ (z >>> 33)) * 0xc4ceb9fe1a85ec53L
    z ^ (z >>> 33)
  }

  val HashSeeds: Array[Long] = Array.tabulate(NumHashes)(i => fmix64(0x9E3779B97F4A7C15L * (i + 1)))

  /** MinHash signature of a shingle set (pure Scala reference used by tests
    * and by single-JVM consumers; the pipeline computes the identical
    * signature via Catalyst columns in [[lshBuckets]]). */
  def signatureOf(shingleHashes: Iterable[Long]): Array[Long] = {
    val sig = Array.fill(NumHashes)(Long.MaxValue)
    shingleHashes.foreach { x =>
      var i = 0
      while (i < NumHashes) {
        val v = fmix64(x ^ HashSeeds(i))
        if (v < sig(i)) sig(i) = v
        i += 1
      }
    }
    sig
  }

  /** MinHash signatures as a SHUFFLE-FREE narrow projection: the native
    * `minhash_sig` expression (graft.functions.MinHashSig — real codegen,
    * wrapping JVM long arithmetic, no ANSI escape hatches) computes the full
    * 32-long signature per row from the shingle array, so the signature
    * stage is a map-only scan→project with no exchange at any corpus scale.
    * Rows whose shingle set is empty are dropped — identical to the exploded
    * path, where such rows simply contribute no (id, shingle) rows.
    * [[minhashSignaturesFrom]] (explode + 32 partial min-aggregates) and
    * [[signatureOf]] (pure Scala) compute the identical signature;
    * LinkingSpec pins three-way equality. */
  def minhashSignatures(mentions: DataFrame): DataFrame =
    minhashSignaturesOf(
      // Exact cheap pre-filter: the shingle set is empty iff length <
      // ShingleLen. Filtering on the raw column (not size(__sh) > 0) matters:
      // a predicate on the derived array gets pushed through the projection
      // and DUPLICATES the shingle computation into the filter.
      mentions.filter(length(col("mention")) >= ShingleLen)
        .select(col("mention"), shinglesCol("mention").as("__sh")),
      "mention", "__sh")

  /** Per-row signatures from any (id, shingle-array) frame (see
    * [[minhashSignatures]]). Caller contract: (1) rows with EMPTY shingle
    * arrays must already be excluded (cheap equivalents: `length >=
    * ShingleLen` for char shingles, space-count >= n-1 for word shingles) —
    * an empty array would otherwise yield the identity signature instead of
    * no row; (2) ids must be UNIQUE — this is a per-row projection, so a
    * duplicated id yields duplicated signature rows (the exploded
    * [[minhashSignaturesFrom]] path collapsed them via its groupBy), which
    * downstream bucket caps would count against [[DefaultMaxBucketSize]].
    * In-repo callers satisfy both (distinct mention universe; unique
    * doc_ids). */
  def minhashSignaturesOf(df: DataFrame, idCol: String, shinglesCol: String): DataFrame = {
    import graft.functions.{GraftFunctions => F}
    df.select(col(idCol), F.minhash_sig(col(shinglesCol)).as("sig"))
  }

  /** Same, over any pre-exploded (id, shingle) frame. */
  def minhashSignaturesFrom(exploded: DataFrame, idCol: String): DataFrame = {
    import graft.functions.{GraftFunctions => F}
    val hashed = exploded.select(col(idCol), F.fnv1a64(col("shingle")).as("x"))
    val sigCols = HashSeeds.toSeq.zipWithIndex.map { case (seed, i) =>
      min(F.fmix64(col("x").bitwiseXOR(lit(seed)))).as(s"s$i")
    }
    hashed.groupBy(idCol).agg(sigCols.head, sigCols.tail: _*)
      .select(col(idCol), array((0 until NumHashes).map(i => col(s"s$i")): _*).as("sig"))
  }

  /** Banded LSH bucket columns over a `sig` array column. */
  def bandCols: Seq[Column] = (0 until Bands).map { b =>
    val parts = (0 until RowsPerBand).map(r => element_at(col("sig"), b * RowsPerBand + r + 1).cast("string"))
    struct(lit(b).as("band"), md5(concat_ws(":", parts: _*)).as("bandKey"))
  }

  /** (mention, band, bandKey) LSH bucket assignment: signature → band keys. */
  def lshBuckets(mentions: DataFrame): DataFrame =
    minhashSignatures(mentions)
      .select(col("mention"), explode(array(bandCols: _*)).as("bk"))
      .select(col("mention"), col("bk.band"), col("bk.bandKey"))

  /** Candidate pairs from LSH band buckets (a < b, distinct). Bucket
    * membership is capped (see [[DefaultMaxBucketSize]]) so a hot bucket of
    * m near-identical members costs min(m, cap)² pairs, not m².
    *
    * Pair generation is per-bucket from DISTINCT member sets, not a bucket
    * self-join (r7 optimization; guide §2.3/§2.4): `b ⋈ b` on the bucket
    * key planned the entire signature derivation TWICE (the broadcast build
    * side re-derives scan → mentions → distinct → signatures → cap), and a
    * cluster of identical signatures emits its full pair set once PER BAND
    * — 8× duplicate pre-distinct pairs for the seeded celebrity cluster —
    * where buckets with the same member set yield the same pairs by
    * definition. Collecting each bucket's members (bounded by the cap, so
    * the list row is bounded at any corpus scale), deduplicating the member
    * LISTS, and exploding a < b pairs from the sorted list emits each
    * cluster's pairs once; the groupBy shares the cap window's (band,
    * bandKey) exchange, so this also removes the self-join's probe-side
    * exchange. Result set is identical: a pair is a candidate iff both
    * members share some capped bucket iff they appear in some distinct
    * member set; `sort_array` + tail-slice reproduces the `x.mention <
    * y.mention` canonical order (same UTF8 binary comparison). */
  def lshCandidates(mentions: DataFrame,
                    maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val b = capBucket(lshBuckets(mentions), Seq("band", "bandKey"), "mention", maxBucketSize)
    b.groupBy("band", "bandKey").agg(sort_array(collect_list(col("mention"))).as("ms"))
      .select("ms").filter(size(col("ms")) >= 2).distinct()
      .select(posexplode(col("ms")).as(Seq("i", "a")), col("ms"))
      .select(col("a"), explode(slice(col("ms"), col("i") + lit(2), size(col("ms")))).as("b"))
      .distinct()
  }

  /** Keep the first `cap` members of each bucket, deterministically by id
    * (row_number over the bucket key — one window shuffle on the same key
    * as the candidate self-join, so the exchange is reused). */
  def capBucket(buckets: DataFrame, keyCols: Seq[String], idCol: String, cap: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*).orderBy(col(idCol))
    buckets.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= cap)
      .drop("__rn")
  }

  // ------------------------------------------------------- dictionary stage

  /** Numeric-id parse via try_cast: a surface form whose id part does not
    * fit a BIGINT gets a NULL id and simply never joins, instead of killing
    * the job under ANSI mode (Spark 4 default) — the seeded celebrity
    * mentions carry ~70-digit ids precisely to pin this. try_cast admits
    * the full BIGINT range (the previous ≤18-digit guard silently dropped
    * valid 19-digit ids — r5 ADVICE) and mirrors the oracle's TRY_CAST. */
  private def eidOf(name: Column): Column =
    split(name, "#").getItem(1).try_cast("long")

  /** P7: broadcast-dictionary link scoring. The dictionary (customer +
    * supplier names) is small by construction → explicit `broadcast()`
    * keeps this a map-side join at any corpus scale. Match key: entity type
    * + numeric id with leading zeros stripped, so short and padded surface
    * forms resolve to the same canonical entity. */
  def linkToDictionary(mentions: DataFrame, customers: DataFrame, suppliers: DataFrame): DataFrame = {
    val dict = customers.select(col("c_name").as("entity_name"))
      .unionAll(suppliers.select(col("s_name").as("entity_name")))
      .withColumn("etype", split(col("entity_name"), "#").getItem(0))
      .withColumn("eid", eidOf(col("entity_name")))
    mentions
      .withColumn("etype", split(col("mention"), "#").getItem(0))
      .withColumn("eid", eidOf(col("mention")))
      .join(broadcast(dict), Seq("etype", "eid"))
      .select(col("mention"), col("entity_name"))
  }
}
