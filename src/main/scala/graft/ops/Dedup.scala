package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.pipeline.{ConnectedComponents, Linking}

/** Document deduplication operators for a training-data pipeline, over the
  * `documents` table (doc_id, text, …). Exact and n-gram paths are pure
  * Catalyst (DuckDB-oracle-able); MinHash and SimHash are the scale paths
  * verified against the exact paths in ScalaTest.
  */
object Dedup {

  /** Exact dedup: hash-groupBy on the full text. (hash, n, rep) per
    * equivalence class — `rep` = min doc_id is the canonical survivor. */
  def exactClusters(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("text_md5"))
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("rep"))

  /** EXACT cheap pre-filter on the raw text for "at least `n` whitespace
    * tokens" (token count = space count + 1 — `split` keeps empty tokens).
    * ONE definition on purpose: the DuckDB oracles mirror this predicate
    * verbatim, and it must run on the RAW column — a filter on a derived
    * gram/shingle column would get predicate-pushed through the projection
    * and duplicate the defining expression into the filter. */
  def hasMinTokens(textCol: Column, n: Int): Column =
    length(textCol) - length(translate(textCol, " ", "")) >= n - 1

  /** (doc_id, pos, h): FNV-1a hash of the k-token gram at each 0-based
    * token offset — the native `word_gram_hashes` expression, one codegen
    * loop per document, no gram strings materialized; sub-k-token docs
    * dropped up front by [[hasMinTokens]]. The shared narrow base of the
    * sampled anchor index ([[substringAnchorRows]]) and the unsampled
    * decontamination gram index ([[contaminationCounts]]). */
  def wordGramRows(docs: DataFrame, k: Int): DataFrame =
    docs.filter(hasMinTokens(col("text"), k))
      .select(col("doc_id"),
        posexplode(graft.functions.GraftFunctions.word_gram_hashes(col("text"), k)).as(Seq("pos", "h")))

  /** (id, shingles: array<string>) — the un-exploded form, one row per doc.
    * Feeds the per-row `minhash_sig` path, which needs the whole set in one
    * value. Sub-n-gram docs are dropped up front by an EXACT cheap predicate
    * on the raw text (token count = space count + 1, since `split` keeps
    * empty tokens): filtering on the derived array instead would get
    * predicate-pushed through the projection and duplicate the shingle
    * computation into the filter. The shingles themselves are the native
    * `word_shingles` expression — one fused codegen loop, value-identical to
    * the Catalyst CASE/transform chain in [[wordShingleArraysFold]], which
    * stays as the authoritative semantic (it is what the DuckDB oracles
    * mirror; DedupSpec pins equality). */
  def wordShingleArrays(docs: DataFrame, idCol: String, textCol: String, n: Int = 5): DataFrame =
    docs.filter(hasMinTokens(col(textCol), n))
      .select(col(idCol), graft.functions.GraftFunctions.word_shingles(col(textCol), n).as("shingles"))

  /** The defining Catalyst formulation of [[wordShingleArrays]]'s shingle
    * column (interpreted higher-order chain — the cross-check, not the hot
    * path). */
  def wordShingleArraysFold(docs: DataFrame, idCol: String, textCol: String, n: Int = 5): DataFrame =
    docs.select(col(idCol), split(col(textCol), " ").as("__w"))
      .select(col(idCol), expr(
        s"""CASE WHEN size(__w) >= $n
            THEN array_distinct(transform(sequence(1, size(__w) - ${n - 1}), i -> concat_ws(' ', slice(__w, i, $n))))
            ELSE cast(array() AS array<string>) END""").as("shingles"))

  /** Near-dup candidate pairs by exact word-shingle Jaccard >= threshold
    * ([[Linking.jaccardPairs]]: the capped shared-shingle join, no O(n²)
    * enumeration).
    *
    * Shingle identity is the 64-bit fnv1a64 gram hash, not the gram string
    * (r7 optimization; guide §2.3 "narrower types"): the inverted index —
    * the checkpointed frame, the set sizes, and BOTH self-join sides —
    * carries 8-byte longs where 5-word gram strings averaged an order of
    * magnitude more, and the native `word_gram_hashes` loop never
    * materializes a gram string at all. Same hash-identity contract as the
    * substring/decontamination family and the dictionary encoder: a 64-bit
    * collision between distinct grams would perturb the Jaccard and fail
    * the driver's oracle gate (birthday bound ~n²/2⁶⁵ over the distinct
    * gram universe; a 100 TB deployment widens the hash, not the plan). */
  def ngramJaccardPairs(docs: DataFrame, threshold: Double,
                        maxShingleDf: Long = Linking.DefaultMaxShingleDf): DataFrame = {
    val hashedShingles = docs.filter(hasMinTokens(col("text"), 5))
      .select(col("doc_id"),
        explode(array_distinct(
          graft.functions.GraftFunctions.word_gram_hashes(col("text"), 5))).as("shingle"))
    Linking.jaccardPairs(hashedShingles, "doc_id", "shingle", threshold, maxShingleDf)
  }

  /** MinHash-LSH near-dup clusters (scale path): shingle → signature
    * (codegen'd min-aggregates) → banded buckets → star edges → connected
    * components. Returns (doc_id, cluster) where cluster = min doc_id of
    * the near-dup class.
    *
    * Candidate edges are a STAR per bucket (each member → the bucket's min
    * id), not the all-pairs self-join: for connected components the bucket
    * clique and the bucket star have identical components, and the star is
    * O(m) per bucket where the clique is O(m²) — a bucket of 10⁶ identical
    * boilerplate documents costs 10⁶ edges instead of 10¹² pairs. The
    * hub aggregate and the member join share the (band, bandKey) shuffle
    * key, so the exchange is reused. */
  def minhashClusters(docs: DataFrame): DataFrame = {
    // Signature from PRE-HASHED grams (word_gram_hashes → minhash_sig over
    // array<long>): bit-identical to the string-shingle form — the native
    // expression hashes each shingle with the same fnv1a64, and the
    // per-seed MIN is invariant under the duplicates the per-position gram
    // stream carries — but no gram string (or per-doc LinkedHashSet) is
    // ever built. DedupSpec pins equality with the defining string path.
    val sigs = docs
      .select(col("doc_id").cast("string").as("doc_id"), col("text"))
      .filter(hasMinTokens(col("text"), 5))
      .select(col("doc_id"),
        graft.functions.GraftFunctions.minhash_sig(
          graft.functions.GraftFunctions.word_gram_hashes(col("text"), 5)).as("sig"))
    val buckets = sigs.select(col("doc_id"), explode(array(Linking.bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band"), col("bk.bandKey"))
    val hubs = buckets.groupBy("band", "bandKey").agg(min(col("doc_id")).as("a"))
    val starEdges = buckets.join(hubs, Seq("band", "bandKey"))
      .filter(col("doc_id") =!= col("a"))
      .select(col("a"), col("doc_id").as("b"))
      .distinct()
    ConnectedComponents.run(starEdges)
      .select(col("node").as("doc_id"), col("component").as("cluster"))
  }

  /** The deduplicated corpus — what a training pipeline actually ships:
    * every document that is NOT a non-representative member of a MinHash
    * near-dup cluster. Per cluster exactly the representative (the min
    * doc_id, which IS the cluster label) survives; documents in no
    * cluster survive untouched.
    *
    * Scale shape: the drop set is the clustered minority (near-dups are a
    * small fraction of a real corpus), so the anti-join's build side is
    * tiny relative to the table — AQE turns it into a broadcast anti-join
    * and the full corpus is never shuffled. The expensive part is
    * [[minhashClusters]], whose per-stage bounds are documented there. */
  def survivors(docs: DataFrame): DataFrame = {
    val dropped = minhashClusters(docs)
      .filter(col("doc_id") =!= col("cluster"))
      .select("doc_id")
    // Return the surviving ROWS with every input column (this is the corpus
    // a pipeline ships, not an id list); only doc_id is re-typed to string
    // because the cluster labels the anti-join matches against are strings.
    docs.withColumn("doc_id", col("doc_id").cast("string"))
      .join(dropped, Seq("doc_id"), "left_anti")
  }

  /** Default anchor sampling mask for [[substringDupPairs]]: keep gram
    * positions whose hash has the low `bits` clear — a 1-in-2^bits
    * content-defined sample (winnowing-style: both documents sample the
    * SAME positions of a shared substring, unlike random sampling). */
  val DefaultAnchorMask = 3L // 1 in 4

  /** Per-position sampled substring anchors: (doc_id, pos, h) where `h` is
    * the FNV-1a hash of the k-token gram starting at token `pos` and the
    * sample keeps positions with `(h & mask) == 0`. The gram hashes are the
    * native `word_gram_hashes` expression — one codegen loop per document,
    * no gram strings materialized — so the anchor index is a narrow
    * map-side projection of ~tokens/2^bits rows per document. */
  def substringAnchorRows(docs: DataFrame, k: Int, mask: Long): DataFrame =
    wordGramRows(docs, k).filter(col("h").bitwiseAND(lit(mask)) === 0)

  /** Exact substring-duplication candidates (the "Deduplicating Training
    * Data" primitive): documents sharing >= `minShared` sampled k-token-gram
    * anchors. Scale shape: content-defined sampling divides the exploded
    * index by 2^bits; anchors above the document-frequency cap (corpus
    * boilerplate) are dropped and the candidates counted by the shared-key
    * pair join ([[Linking.sharedKeyPairs]]) — an equi-join on the anchor
    * hash, never O(n²). Returns (a, b, shared), a < b. */
  def substringDupPairs(docs: DataFrame, k: Int = 8,
                        mask: Long = DefaultAnchorMask,
                        maxAnchorDf: Long = Linking.DefaultMaxShingleDf,
                        minShared: Long = 2L): DataFrame = {
    // One cut: the anchor explode + distinct is consumed three times (the
    // hot-set derivation and both self-join sides); the cap's anti-join is
    // cheap against the checkpointed frame (AQE broadcasts the hot side).
    // Lazy checkpoint: same cut, no separate up-front job (r7).
    val perDoc = substringAnchorRows(docs.select(col("doc_id"), col("text")), k, mask)
      .select("doc_id", "h").distinct().localCheckpoint(false)
    Linking.sharedKeyPairs(perDoc, "doc_id", "h", maxAnchorDf)
      .select(col("a"), col("b"), col("n").as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** Span-level duplication marks — the masking use case: every sampled
    * anchor position whose k-token gram also appears in at least one OTHER
    * document (and is under the boilerplate DF cap). Returns
    * (doc_id, pos, h): `pos` is the 0-based token offset of a duplicated
    * k-token span. Same scale shape as [[substringDupPairs]], but the
    * back-join to positions replaces the pair self-join — output is linear
    * in anchor rows. */
  def substringDupSpans(docs: DataFrame, k: Int = 8,
                        mask: Long = DefaultAnchorMask,
                        maxAnchorDf: Long = Linking.DefaultMaxShingleDf): DataFrame = {
    val anchors = substringAnchorRows(docs.select(col("doc_id"), col("text")), k, mask)
      .localCheckpoint(false) // consumed by the DF filter AND the back-join (lazy: one job, r7)
    val shared = anchors.select("doc_id", "h").distinct()
      .groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= maxAnchorDf)
      .select("h")
    anchors.join(shared, Seq("h"))
      .select(col("doc_id"), col("pos"), col("h"))
  }

  /** Span-cut corpus emission — the masking counterpart of [[survivors]]:
    * re-emit every document with its duplicated k-token spans REMOVED
    * (every token covered by a [[substringDupSpans]] anchor at offset
    * `pos..pos+k-1` is cut; survivors are re-joined on single spaces, which
    * is lossless under the literal-space tokenization both engines use).
    * Returns the full corpus schema plus `n_cut`, the number of tokens
    * removed — documents with no duplicated spans pass through with
    * `n_cut = 0`.
    *
    * Scale shape: beyond [[substringDupSpans]]' own bounded stages, the cut
    * adds ONE aggregation of the (small) span set into per-doc offset lists
    * and ONE join of that minority frame back to the corpus — marked docs
    * are a small fraction of a real corpus, so AQE broadcasts the cut side
    * and the corpus is never shuffled; the cut itself is a narrow
    * projection (HOF filter/exists over the token array, no UDF). */
  def substringCleanCorpus(docs: DataFrame, k: Int = 8,
                           mask: Long = DefaultAnchorMask,
                           maxAnchorDf: Long = Linking.DefaultMaxShingleDf): DataFrame = {
    val cuts = substringDupSpans(docs, k, mask, maxAnchorDf)
      .groupBy("doc_id").agg(collect_set(col("pos")).as("starts"))
    cutSpans(docs, cuts, k)
  }

  /** The cut projection of [[substringCleanCorpus]], split out so the plan
    * can be pinned against a literal `cuts` frame: given per-doc start
    * offsets, drop covered tokens and re-emit. Null text passes through
    * null with null `n_cut` (mirrors the oracle's CASE). */
  private[graft] def cutSpans(docs: DataFrame, cuts: DataFrame, k: Int): DataFrame = {
    val out = docs.columns.toSeq.map {
      case "text" => array_join(col("kept"), " ").as("text")
      case c => col(c)
    } :+ (size(col("toks")) - size(col("kept"))).cast("long").as("n_cut")
    docs.join(cuts, Seq("doc_id"), "left")
      .withColumn("toks", split(col("text"), " "))
      .withColumn("kept", when(col("starts").isNull, col("toks"))
        .otherwise(filter(col("toks"), (_, i) =>
          !exists(col("starts"), s => i >= s && i < s + lit(k)))))
      .select(out: _*)
  }

  /** Decontamination — the eval-set overlap check a training-data pipeline
    * runs before shipping a corpus ("did benchmark text leak into the
    * training set?"): corpus documents sharing k-token grams with a small
    * eval/benchmark table. Returns (doc_id, n_shared_grams) for every
    * corpus document with at least one shared gram.
    *
    * Scale shape: the EVAL side is tiny by definition (benchmarks are
    * thousands of documents; the corpus is billions) — its distinct
    * gram-hash set is explicitly `broadcast()`, so the pass is a map-side
    * hash semi-join over the corpus scan plus one per-doc count aggregate;
    * the corpus side never shuffles its gram index. Grams are UNSAMPLED
    * (unlike [[substringDupPairs]]' winnowing mask): decontamination is
    * recall-critical — a 1-in-2^b anchor sample would miss most short
    * leaks. Boilerplate is handled AFTER the semi-join: grams matching the
    * eval set but present in more than `maxGramDf` corpus documents are
    * dropped (a ubiquitous phrase is not evidence of leakage), and because
    * the DF count runs on the matched subset only, the cap costs a shuffle
    * of eval-matching rows — not of the whole corpus gram index. */
  def contaminationCounts(corpus: DataFrame, evalDocs: DataFrame, k: Int = 4,
                          maxGramDf: Long = Linking.DefaultMaxShingleDf): DataFrame = {
    def grams(docs: DataFrame) = wordGramRows(docs, k).select("doc_id", "h")
    val evalGrams = grams(evalDocs.select(col("doc_id"), col("text"))).select("h").distinct()
    val matched = grams(corpus.select(col("doc_id"), col("text")))
      .join(broadcast(evalGrams), Seq("h"))
      .select("doc_id", "h").distinct()
    // Boilerplate cap as a COUNT WINDOW over the matched subset (r7): the
    // previous hot-set anti-join consumed `matched` twice, and each copy
    // re-planned the full corpus gram scan + broadcast semi-join (8 scans
    // of the corpus in the gated query's plan). One window exchange on the
    // gram hash over the (small, eval-matching) subset computes the same
    // per-gram document frequency; rows above the cap are filtered —
    // identical result, and the corpus gram index is still derived (and
    // scanned) exactly once, map-side against the broadcast eval set.
    val w = org.apache.spark.sql.expressions.Window.partitionBy("h")
    matched.withColumn("__df", count(lit(1)).over(w))
      .filter(col("__df") <= maxGramDf)
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared_grams"))
  }

  /** 64-bit SimHash over whitespace tokens — the native `simhash64`
    * expression (graft.functions.SimHash64), so the signature is a narrow
    * codegen projection with no typed-object barrier. Near-dup when hamming
    * distance is small. */
  def simhash(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.GraftFunctions.simhash64(col("text")).as("simhash"))

  /** SimHash near-dup pairs: 4×16-bit band blocking, then exact hamming
    * verification (`bit_count` is codegen'd). Bucket membership is capped
    * (see [[Linking.DefaultMaxBucketSize]]): m documents sharing a 16-bit
    * band — e.g. m near-identical boilerplate pages — would emit m²
    * candidates; the cap bounds it at cap², trading recall only among
    * documents an exact-hash pass upstream already collapses. */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3,
                   maxBucketSize: Int = Linking.DefaultMaxBucketSize): DataFrame = {
    val sh = simhash(docs)
    // One cut for the twice-consumed capped frame: the pair self-join's
    // build side otherwise re-plans the signature scan + band explode +
    // cap window a second time (r7; the lshCandidates lesson — here the
    // per-pair hamming verify still needs both sides' signatures, so the
    // self-join stays and only the derivation is deduplicated).
    val bands = Linking.capBucket(
      sh.select(col("doc_id"), col("simhash"),
        explode(array((0 until 4).map(b =>
          struct(lit(b).as("band"), shiftrightunsigned(col("simhash"), b * 16).bitwiseAND(lit(0xFFFFL)).as("key"))): _*)).as("bk"))
        .select(col("doc_id"), col("simhash"), col("bk.band"), col("bk.key")),
      Seq("band", "key"), "doc_id", maxBucketSize)
      .localCheckpoint(false)
    bands.as("x").join(bands.as("y"), Seq("band", "key"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hamming"))
      // hamming filter BEFORE the dedup shuffle: at corpus scale most band
      // collisions fail the exact test, so the distinct only shuffles
      // survivors (same result set — dedup and filter commute here)
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }
}
