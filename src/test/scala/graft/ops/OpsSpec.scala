package graft.ops

import graft.pipeline.SparkSuite
import org.apache.spark.sql.functions._

class OpsSpec extends SparkSuite {

  private def docs = spark.read.parquet(s"$sfDir/documents.parquet")
  private def embeddings = spark.read.parquet(s"$sfDir/embeddings.parquet")

  test("minhash near-dup clusters agree with exact ngram pairs on strong duplicates") {
    import spark.implicits._
    // Construct controlled near-duplicates: base corpus + a few mutated copies.
    val base = docs.limit(20).select(col("doc_id"), col("text"))
    val dups = base.select(col("doc_id") + 10000, concat(col("text"), lit(" tail")).as("text"))
      .toDF("doc_id", "text")
    val corpus = base.unionAll(dups)
    val exact = Dedup.ngramJaccardPairs(corpus, 0.8).as[(Long, Long)].collect().toSet
    val clusters = Dedup.minhashClusters(corpus).as[(String, String)].collect()
      .groupBy(_._2).values.map(_.map(_._1.toLong).toSet).toSet
    // every exact high-jaccard pair must co-cluster
    exact.foreach { case (a, b) =>
      assert(clusters.exists(c => c.contains(a) && c.contains(b)), s"pair ($a,$b) not co-clustered")
    }
    assert(exact.nonEmpty, "controlled duplicates should produce exact pairs")
  }

  test("survivors: exactly one representative per cluster plus all singletons; count reconciles") {
    import spark.implicits._
    val base = docs.limit(20).select(col("doc_id"), col("text"))
    val dups = base.select(col("doc_id") + 10000, concat(col("text"), lit(" tail")).as("text"))
      .toDF("doc_id", "text")
    val corpus = base.unionAll(dups)
    val survived = Dedup.survivors(corpus)
    // the survivors frame carries the input's full row, not an id list
    assert(survived.columns.toSeq == corpus.columns.toSeq)
    val kept = survived.select("doc_id").as[String].collect().toSet
    val clusters = Dedup.minhashClusters(corpus).as[(String, String)].collect()
    // per cluster exactly the representative (= the cluster label) survives
    clusters.groupBy(_._2).foreach { case (rep, members) =>
      assert(kept.contains(rep), s"representative $rep dropped")
      members.map(_._1).filterNot(_ == rep).foreach { m =>
        assert(!kept.contains(m), s"non-representative $m survived")
      }
    }
    // singletons (docs in no cluster) all survive; totals reconcile
    val clustered = clusters.map(_._1).toSet
    val all = corpus.select(col("doc_id").cast("string")).as[String].collect().toSet
    assert((all -- clustered).subsetOf(kept))
    assert(kept.size == all.size - clusters.count { case (d, rep) => d != rep })
  }

  test("simhash: identical docs collide, mutated docs stay within small hamming") {
    import spark.implicits._
    val base = docs.limit(10).select(col("doc_id"), col("text"))
    val dups = base.select((col("doc_id") + 10000).as("doc_id"), col("text"))
    val corpus = base.unionAll(dups)
    val pairs = Dedup.simhashPairs(corpus, maxHamming = 0).as[(Long, Long, Int)].collect()
    val expected = base.select("doc_id").as[Long].collect().toSet
    expected.foreach { id =>
      assert(pairs.exists(p => p._1 == id && p._2 == id + 10000), s"exact dup of $id not found")
    }
  }

  test("substring dup pairs: shared long span pairs, disjoint docs don't, hot anchors capped") {
    import spark.implicits._
    val span = (1 to 40).map(i => s"tok$i").mkString(" ")
    val corpus = Seq(
      (1L, s"alpha beta $span gamma"),
      (2L, s"$span delta epsilon"),       // shares the 40-token span with doc 1
      (3L, "one two three four five six seven eight nine ten"), // disjoint
    ).toDF("doc_id", "text")
    val pairs = Dedup.substringDupPairs(corpus, k = 8, mask = 0L, minShared = 2)
      .as[(Long, Long, Long)].collect()
    assert(pairs.map(p => (p._1, p._2)).toSet == Set((1L, 2L)))
    // 33 grams of the span are common; with mask=0 every position anchors
    assert(pairs.head._3 >= 30)

    // a boilerplate anchor present in every doc is dropped by the DF cap
    val boiler = (1 to 8).map(i => s"b$i").mkString(" ")
    val many = (0 until 30).map(i => (100L + i, s"$boiler unique$i")).toDF("doc_id", "text")
    val capped = Dedup.substringDupPairs(many, k = 8, mask = 0L, maxAnchorDf = 10, minShared = 1)
    assert(capped.count() == 0)
  }

  test("substring dup spans: marks the shared positions in both docs, unique text unmarked") {
    import spark.implicits._
    val span = (1 to 12).map(i => s"tok$i").mkString(" ")
    val corpus = Seq(
      (1L, s"alpha beta $span"),   // span starts at token 2
      (2L, s"$span gamma delta"),  // span starts at token 0
      (3L, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10"),
    ).toDF("doc_id", "text")
    val spans = Dedup.substringDupSpans(corpus, k = 8, mask = 0L)
      .as[(Long, Int, Long)].collect()
    // 12-token span → 5 shared 8-gram anchors per doc, offset by 2 between docs
    val byDoc = spans.groupBy(_._1).map { case (d, xs) => d -> xs.map(_._2).sorted.toSeq }
    assert(byDoc(1L) == Seq(2, 3, 4, 5, 6) && byDoc(2L) == Seq(0, 1, 2, 3, 4))
    assert(!byDoc.contains(3L))
    // the same anchor hash appears in both docs at the offset positions
    val h1 = spans.filter(s => s._1 == 1L && s._2 == 2).head._3
    val h2 = spans.filter(s => s._1 == 2L && s._2 == 0).head._3
    assert(h1 == h2)
  }

  test("native word_shingles equals the defining Catalyst transform chain (incl. empty-token edges)") {
    import spark.implicits._
    val edge = Seq((9001L, "a  b c d e  f"), (9002L, "x y"), (9003L, " lead"),
      (9004L, "trail "), (9005L, "a a a a a a a a")).toDF("doc_id", "text")
    val corpus = docs.select(col("doc_id"), col("text")).unionAll(edge)
    val native = Dedup.wordShingleArrays(corpus, "doc_id", "text")
      .as[(Long, Seq[String])].collect().toMap
    val fold = Dedup.wordShingleArraysFold(corpus, "doc_id", "text")
      .as[(Long, Seq[String])].collect().toMap
    // the fold keeps sub-n docs as empty arrays; the native path drops them
    assert(native == fold.filter(_._2.nonEmpty))
    assert(native.contains(9001L) && !native.contains(9002L) && native(9005L).size == 1)
  }

  test("native dot_f64 is bit-identical to the Catalyst aggregate(zip_with) fold") {
    import spark.implicits._
    // real float embeddings × a double-literal plane: both operand kinds
    val plane = Similarity.planes(1, embeddings.selectExpr("size(first(embedding))").first().getInt(0))(0)
    val planeCol = array(plane.toIndexedSeq.map(v => lit(v)): _*)
    val both = embeddings.limit(500).select(
      Similarity.dot(col("embedding"), col("embedding")).as("native"),
      Similarity.dotFold(col("embedding"), col("embedding")).as("fold"),
      Similarity.dot(col("embedding"), planeCol).as("native_p"),
      Similarity.dotFold(col("embedding"), planeCol).as("fold_p"))
      .as[(Double, Double, Double, Double)].collect()
    both.foreach { case (n, f, np, fp) =>
      assert(java.lang.Double.doubleToRawLongBits(n) == java.lang.Double.doubleToRawLongBits(f))
      assert(java.lang.Double.doubleToRawLongBits(np) == java.lang.Double.doubleToRawLongBits(fp))
    }
    // null semantics: zip_with pads a length mismatch with null → null sum
    val mism = spark.range(1).select(
      graft.functions.GraftFunctions.dot_f64(
        array(lit(1.0)), array(lit(1.0), lit(2.0))).as("d"))
    assert(mism.first().isNullAt(0))
    // integer arrays widen to double like the defining cast(double) fold
    val ints = spark.range(1).select(
      graft.functions.GraftFunctions.dot_f64(
        array(lit(1), lit(2)), array(lit(3L), lit(4L))).as("d"))
    assert(ints.first().getDouble(0) == 11.0)
    // non-numeric arrays fail at analysis, not mid-query
    val bad = intercept[Exception](
      spark.range(1).select(graft.functions.GraftFunctions.dot_f64(
        array(lit("x")), array(lit(1.0))).as("d")).collect())
    assert(bad.getMessage.toLowerCase.contains("numeric array"))
  }

  test("contaminationCounts: eval-gram overlap flags exactly the leaking docs; boilerplate cap applies") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely unrelated text with no overlap here at all"),
      (3L, "quick brown fox jumps again and again"),
    ).toDF("doc_id", "text")
    val evalSet = Seq((100L, "a quick brown fox jumps somewhere")).toDF("doc_id", "text")
    val got = graft.ops.Dedup.contaminationCounts(corpus, evalSet, k = 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // "quick brown fox jumps" is the one shared 4-gram, present in docs 1, 3
    assert(got == Map(1L -> 1L, 3L -> 1L), got.toString)
    // DF cap on eval-MATCHING grams: with maxGramDf=1 the gram (matched by
    // two corpus docs) counts as boilerplate and nothing is flagged
    assert(graft.ops.Dedup.contaminationCounts(corpus, evalSet, k = 4, maxGramDf = 1).count() == 0)
    // a doc shorter than k tokens can never be flagged (and never crashes)
    val short = Seq((9L, "too short")).toDF("doc_id", "text")
    assert(graft.ops.Dedup.contaminationCounts(short, evalSet, k = 4).count() == 0)
  }

  test("recallAtK: identity gives k hits per query; zero-hit queries survive; LSH recall bounded") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val exact = graft.ops.Similarity.bruteTopK(e, 8, 5)
    // identity: an approximation equal to the truth scores k for every q
    val ident = graft.ops.Similarity.recallAtK(exact, exact).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ident.size == 8 && ident.values.forall(_ == 5L), ident.toString)
    // disjoint approximation: every query survives with 0 hits (left join)
    import org.apache.spark.sql.functions.{col, lit}
    val none = graft.ops.Similarity.recallAtK(exact,
      exact.select(col("q"), (col("neighbor") + lit(1000000)).as("neighbor"), col("rank")))
    assert(none.collect().map(_.getLong(1)).toSeq == Seq.fill(8)(0L))
    // real LSH approximation: 0 <= n_hits <= k for each of the 8 queries
    val real = graft.ops.Similarity.recallAtK(exact,
      graft.ops.Similarity.lshTopK(e, 8, 5, dim = 64)).collect()
    assert(real.length == 8 && real.forall(r => r.getLong(1) >= 0 && r.getLong(1) <= 5))
  }

  test("corpusFilter: every rule reachable, first-failing-rule order, Gopher defaults keep real prose") {
    import spark.implicits._
    val stop = "the a of and " // 4 stopwords
    val prose = stop + (1 to 60).map(i => s"word$i").mkString(" ") // 64 tokens, mean len ~5
    val docs = Seq(
      (1L, prose),                                        // kept
      (2L, "too short"),                                  // too_few_words
      (3L, stop + (1 to 60).map(i => s"a$i").mkString(" ")), // borderline-short tokens (unasserted)
      (4L, stop + (1 to 60).map(_ => "x y").mkString(" ")), // short tokens -> mean_word_len_low
      (5L, stop + (1 to 60).map(i => "w" * 20 + i).mkString(" ")), // mean_word_len_high
      (6L, (1 to 60).map(i => s"word$i").mkString(" ")),  // no stopwords -> too_few_stopwords
      (7L, stop + (1 to 60).map(_ => "spam").mkString(" ")), // top word 60/64 -> repetitive
      (9L, null: String),                                 // null_text (oracle LEFT-JOIN parity)
    ).toDF("doc_id", "text")
    val got = graft.ops.TextAnalysis.corpusFilter(docs).collect()
      .map(r => r.getLong(0) -> (r.getBoolean(1), Option(r.getString(2)).orNull)).toMap
    assert(got(1L) == (true, null), got(1L).toString)
    assert(got(2L) == (false, "too_few_words"))
    assert(got(4L) == (false, "mean_word_len_low"))
    assert(got(5L) == (false, "mean_word_len_high"))
    assert(got(6L) == (false, "too_few_stopwords"))
    assert(got(7L) == (false, "repetitive"))
    assert(got(9L) == (false, "null_text"))
    // rule ORDER: a doc failing both word-count and stopword rules reports
    // the earlier rule
    val both = Seq((8L, "zz yy xx")).toDF("doc_id", "text")
    assert(graft.ops.TextAnalysis.corpusFilter(both).collect()(0).getString(2) == "too_few_words")
    // too_many_words reachable with a tightened bound
    val many = graft.ops.TextAnalysis.corpusFilter(docs.filter($"doc_id" === 1L), maxWords = 10)
    assert(many.collect()(0).getString(2) == "too_many_words")
    // the real corpus splits non-trivially under pure defaults: both kept
    // and dropped documents exist
    val real = graft.ops.TextAnalysis.corpusFilter(
      spark.read.parquet(s"$sfDir/documents.parquet"))
    val keeps = real.groupBy("keep").count().collect().map(r => r.getBoolean(0) -> r.getLong(1)).toMap
    assert(keeps.getOrElse(true, 0L) > 0 && keeps.getOrElse(false, 0L) > 0, keeps.toString)
  }

  test("embeddingDim: explicit param > valid metadata > probe; bad metadata falls back, never crashes") {
    import org.apache.spark.sql.types.MetadataBuilder
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    // a counter scoped to THIS test: exact-delta assertions on the
    // process-global dimProbeCount would be flaky under parallel suites
    val probes = new java.util.concurrent.atomic.AtomicLong(0)
    assert(graft.ops.Similarity.embeddingDim(e, 7, probes) == 7) // explicit wins
    val withMeta = e.withColumn("embedding",
      col("embedding").as("embedding", new MetadataBuilder().putLong("dim", 64).build()))
    assert(graft.ops.Similarity.embeddingDim(withMeta, 0, probes) == 64)
    // neither the explicit-param nor the metadata path may touch the
    // warned probe fallback (the counter backs the logWarning)
    assert(probes.get() == 0)
    // non-long / non-positive metadata must fall through to the probe (the
    // real dim), not throw or route a populated table into the empty path
    val strMeta = e.withColumn("embedding",
      col("embedding").as("embedding", new MetadataBuilder().putString("dim", "64").build()))
    assert(graft.ops.Similarity.embeddingDim(strMeta, 0, probes) == 64)
    val zeroMeta = e.withColumn("embedding",
      col("embedding").as("embedding", new MetadataBuilder().putLong("dim", 0L).build()))
    assert(graft.ops.Similarity.embeddingDim(zeroMeta, 0, probes) == 64)
    assert(graft.ops.Similarity.embeddingDim(e.filter(lit(false)), 0, probes) == 0) // empty table
    // each of the three fall-through calls above fired (and warned about)
    // exactly one probe job
    assert(probes.get() == 3)
  }

  test("LSH top-k recall vs brute force") {
    import spark.implicits._
    val brute = Similarity.bruteTopK(embeddings, 16, 5).as[(Long, Long, Int)].collect()
      .map(r => (r._1, r._2)).toSet
    val lsh = Similarity.lshTopK(embeddings, 16, 5).as[(Long, Long, Int)].collect()
      .map(r => (r._1, r._2)).toSet
    // LSH is approximate: require it found a reasonable share of true
    // neighbors (random-hyperplane w/ 8 planes on near-orthogonal vectors is
    // a coarse filter; the point is the bucketed-join shape).
    val recall = (brute intersect lsh).size.toDouble / brute.size
    assert(recall > 0.1, f"LSH recall $recall%.2f unreasonably low")
    assert(lsh.nonEmpty)
  }

  test("IVF-PQ ADC top-k: recall vs brute force; integer-only output; self excluded") {
    import spark.implicits._
    val brute = Similarity.bruteTopK(embeddings, 16, 5).as[(Long, Long, Int)].collect()
      .map(r => (r._1, r._2)).toSet
    val ivfpq = Similarity.ivfPqTopK(embeddings, 16, 5, dim = 64).as[(Long, Long, Int)].collect()
    val pairs = ivfpq.map(r => (r._1, r._2)).toSet
    // doubly approximate (coarse probe recall x PQ distance distortion);
    // the point is the composition's shape — but it must still beat noise
    val recall = (brute intersect pairs).size.toDouble / brute.size
    assert(recall > 0.1, f"IVF-PQ recall $recall%.2f unreasonably low")
    assert(ivfpq.forall(r => r._1 != r._2), "a query ranked itself")
    // every query that probed a non-empty cell set gets at most k rows,
    // ranked 1..n densely
    ivfpq.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1 to rows.length), s"ranks not dense for q=$q")
      assert(rows.length <= 5)
    }
    // probing ALL cells makes the coarse stage exhaustive: candidates =
    // every other vector, so every query fills its full k=5. (Recall is NOT
    // monotone in nProbe — measured here: more candidates under the
    // distorted PQ metric can displace true neighbors from the top-k — so
    // only the coverage contract is asserted.)
    val full = Similarity.ivfPqTopK(embeddings, 16, 5, nProbe = 16, dim = 64)
      .as[(Long, Long, Int)].collect()
    assert(full.length == 16 * 5, s"exhaustive probe returned ${full.length} rows, not 80")
    val fullRecall = (brute intersect full.map(r => (r._1, r._2)).toSet).size.toDouble / brute.size
    assert(fullRecall > 0.1, f"exhaustive-probe ADC recall $fullRecall%.2f unreasonably low")
  }

  test("Lloyd-trained IVF codebook: recall >= untrained on a clustered corpus; PQ training converges") {
    import spark.implicits._
    // Controlled fixture where the untrained first-k init is DEGENERATE:
    // the corpus has 4 well-separated clusters (unit axes + small noise),
    // but vec_ids 0..3 — the untrained codebook — all sit in cluster 0.
    // Untrained IVF with nProbe=1 then routes most queries through
    // near-identical centroids; Lloyd iterations migrate the centroids
    // onto the true clusters and recall must not get worse.
    val rnd = new scala.util.Random(42)
    val dim = 8
    val rows = (0 until 80).map { i =>
      val cluster = if (i < 4) 0 else i % 4
      val v = Array.tabulate(dim)(d => (if (d == cluster) 1.0f else 0.0f) + rnd.nextFloat() * 0.1f)
      (i.toLong, v)
    }
    val e = rows.toDF("vec_id", "embedding")
    val brute = Similarity.bruteTopK(e, 8, 5).as[(Long, Long, Int)].collect()
      .map(r => (r._1, r._2)).toSet
    def recallOf(iters: Int): Double = {
      val approx = Similarity.ivfTopK(e, 8, 5, nCells = 4, nProbe = 1, trainIters = iters)
        .as[(Long, Long, Int)].collect().map(r => (r._1, r._2)).toSet
      (brute intersect approx).size.toDouble / brute.size
    }
    val untrained = recallOf(0)
    val trained = recallOf(3)
    assert(trained >= untrained,
      f"training hurt recall: trained $trained%.2f < untrained $untrained%.2f")
    assert(trained > 0.5, f"trained recall $trained%.2f too low for separable clusters")
    // PQ training on the same fixture: codes still dense integers in
    // [0, kCodes), one per (vec, subspace) — the trained codebook changed
    // nothing about the output contract.
    val codes = Similarity.pqCodes(e, m = 4, k = 8, dim = dim, trainIters = 2)
      .as[(Long, Int, Int)].collect()
    assert(codes.length == 80 * 4)
    assert(codes.forall(c => c._3 >= 0 && c._3 < 8))
    // training moved at least one assignment vs the untrained codebook on
    // a degenerate-init fixture (all 8 init centroids from cluster 0)
    val untrainedCodes = Similarity.pqCodes(e, m = 4, k = 8, dim = dim)
      .as[(Long, Int, Int)].collect().toSet
    assert(codes.toSet != untrainedCodes, "PQ training was a no-op on a degenerate init")
  }

  test("LSH near-dup pairs: subset of exact pairs, reasonable recall, cap bounds fan-out") {
    import spark.implicits._
    val exact = Similarity.cosineNearDupPairs(embeddings, 0.35, Long.MaxValue)
      .as[(Long, Long)].collect().toSet
    val lsh = Similarity.lshNearDupPairs(embeddings, 0.35).as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact), s"LSH emitted non-pairs: ${(lsh -- exact).take(3)}")
    assert(exact.isEmpty || (lsh.size.toDouble / exact.size) > 0.3,
      s"recall ${lsh.size}/${exact.size} unreasonably low")
    // identical vectors always collide (same sign pattern in every table);
    // a tiny cap bounds the candidate fan-out
    val dup = embeddings.limit(5).select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
    val corpus = embeddings.limit(5).select("vec_id", "embedding").unionAll(dup)
    val full = Similarity.lshNearDupPairs(corpus, 0.999999)
    assert(full.count() == 5)
    val capped = Similarity.lshNearDupPairs(corpus, 0.999999, maxBucketSize = 1)
    assert(capped.count() == 0)
    // empty input → zero pairs, not a driver crash deriving the plane dim
    assert(Similarity.lshNearDupPairs(embeddings.filter(col("vec_id") < 0), 0.35).count() == 0)
  }

  test("IVF top-k: recall vs brute force; full recall when probing all cells") {
    import spark.implicits._
    val brute = Similarity.bruteTopK(embeddings, 16, 5).as[(Long, Long, Int)].collect()
      .map(r => (r._1, r._2)).toSet
    val ivf = Similarity.ivfTopK(embeddings, 16, 5).as[(Long, Long, Int)].collect()
      .map(r => (r._1, r._2)).toSet
    val recall = (brute intersect ivf).size.toDouble / brute.size
    assert(recall > 0.1, f"IVF recall $recall%.2f unreasonably low")
    // probing every cell makes IVF exhaustive → identical to brute force
    val full = Similarity.ivfTopK(embeddings, 16, 5, nCells = 8, nProbe = 8)
      .as[(Long, Long, Int)].collect().map(r => (r._1, r._2)).toSet
    assert(full == brute, s"missing: ${brute -- full}, extra: ${full -- brute}")
  }

  test("IVF codebook is a broadcast table: 256 cells run without a 256-branch literal plan") {
    import spark.implicits._
    // a literal-expression codebook at this size would blow up plan/codegen;
    // the table formulation keeps the plan O(1) in nCells
    val df = Similarity.ivfTopK(embeddings, 8, 3, nCells = 256, nProbe = 256)
    val phys = df.queryExecution.executedPlan.toString
    assert(phys.contains("BroadcastNestedLoopJoin"), "codebook must join as a broadcast table")
    // probe-all at 256 cells still matches brute force exactly
    val brute = Similarity.bruteTopK(embeddings, 8, 3).as[(Long, Long, Int)].collect().toSet
    val full = df.as[(Long, Long, Int)].collect().toSet
    assert(full == brute)
  }

  test("rolling fingerprint equals the pure-Scala fnv1a over normalized text") {
    import spark.implicits._
    val got = TextAnalysis.rollingFingerprints(docs.limit(20)).as[(Long, Long)].collect().toMap
    val texts = docs.limit(20).select("doc_id", "text").as[(Long, String)].collect().toMap
    got.foreach { case (id, fp) =>
      val norm = texts(id).toLowerCase.replaceAll("\\s+", " ")
      assert(fp == graft.pipeline.Linking.fnv1a(norm), s"doc $id")
    }
    assert(got.size == 20)
  }

  test("multimodal feature extraction: schema, determinism, stub geometry") {
    val feats = Multimodal.extractFeatures(Multimodal.syntheticMedia(docs)).collect()
    assert(feats.length == docs.count())
    val f0 = feats.find(_.doc_id == 0).get
    assert(f0.kind == "image")
    assert(f0.thumb_w == 64 && f0.thumb_h > 0 && f0.thumb_h <= 64)
    // determinism
    val again = Multimodal.extractFeatures(Multimodal.syntheticMedia(docs)).collect()
    assert(feats.map(f => (f.doc_id, f.checksum)).toSet == again.map(f => (f.doc_id, f.checksum)).toSet)
  }

  test("deterministic per-stratum sampling: stable, k per stratum, hash-ordered") {
    import spark.implicits._
    val s1 = Sampling.deterministicTopKPerStratum(docs, "lang", 3)
      .as[(Long, String, Int)].collect().toSet
    val s2 = Sampling.deterministicTopKPerStratum(docs, "lang", 3)
      .as[(Long, String, Int)].collect().toSet
    assert(s1 == s2, "sample must be reproducible")
    val perLang = s1.groupBy(_._2)
    assert(perLang.values.forall(_.size <= 3) && perLang.values.exists(_.size == 3))
    // seeded Bernoulli path: deterministic under a fixed seed
    val langs = docs.select("lang").distinct().as[String].collect()
    val fr = langs.map(_ -> 0.2).toMap
    val b1 = Sampling.stratifiedFractions(docs, "lang", fr, seed = 42).count()
    val b2 = Sampling.stratifiedFractions(docs, "lang", fr, seed = 42).count()
    assert(b1 == b2 && b1 > 0 && b1 < docs.count())
  }

  test("frequent-shingle DF cap: a shingle shared by every doc is dropped, exact dups still pair") {
    import spark.implicits._
    val common = "c1 c2 c3 c4 c5"
    val n = 50
    val hot = (0 until n).map(i => (i.toLong, s"$common u${i}a u${i}b u${i}c u${i}d u${i}e"))
    val twin = "d1 d2 d3 d4 d5 d6 d7 d8 d9 d10"
    val corpus = (hot :+ (9998L, twin) :+ (9999L, twin)).toDF("doc_id", "text")
    // Cap below the hot shingle's df: the universal 5-gram is excluded from
    // BOTH intersections and set sizes, so its k² join fan-out never happens
    // and the identical pair (full overlap on its own shingles) survives.
    val pairs = Dedup.ngramJaccardPairs(corpus, 0.6, maxShingleDf = n - 1)
      .as[(Long, Long)].collect().toSet
    assert(pairs == Set((9998L, 9999L)))
    // Default cap (no shingle near it here): identical output on this corpus
    // — one shared boilerplate shingle alone can't clear the threshold.
    val uncapped = Dedup.ngramJaccardPairs(corpus, 0.6).as[(Long, Long)].collect().toSet
    assert(uncapped == pairs)
  }

  test("simhash hot-bucket cap bounds candidate fan-out on 1000 identical docs") {
    import spark.implicits._
    val text = "the same boilerplate text repeated verbatim in every copy of this page"
    val corpus = spark.range(1000).select(col("id").as("doc_id"), lit(text).as("text"))
    val pairs = Dedup.simhashPairs(corpus, maxHamming = 0, maxBucketSize = 8)
      .as[(Long, Long, Int)].collect()
    // All 4 bands keep the same first-8 doc_ids → at most C(8,2) = 28
    // distinct pairs instead of C(1000,2) = 499500.
    assert(pairs.nonEmpty && pairs.length <= 28)
    assert(pairs.forall(_._3 == 0))
    assert(pairs.forall(p => p._1 < 8 && p._2 < 8))
  }

  test("minhash star edges give the same clusters as the bucket clique (1000 identical docs, no quadratic)") {
    import spark.implicits._
    val text = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    val corpus = spark.range(1000).select(col("id").as("doc_id"), lit(text).as("text"))
    val clusters = Dedup.minhashClusters(corpus).as[(String, String)].collect()
    // one component containing all 1000 docs, labeled by the lexicographic min
    assert(clusters.length == 1000)
    assert(clusters.map(_._2).distinct.toSeq == Seq("0"))
  }

  test("PII scrub: counts equal redaction tokens; clean text passes through untouched") {
    import spark.implicits._
    val rows = Seq(
      (1L, "write to alice.smith+x@sub.example.org or bob@ex.io today"),
      (2L, "server at 192.168.0.1 and 10.0.0.255, call +1 (555) 123-4567"),
      (3L, "no pii here at all"),
      (4L, ""),
      // an IP inside an email's domain is email, not email AND ip: counts
      // are taken on the progressively redacted text so they always equal
      // the [EMAIL]/[IP]/[PHONE] token counts in `redacted`
      (5L, "reach bob@10.0.0.1.example.com maybe"),
    ).toDF("doc_id", "text")
    val out = Pii.scrub(rows, col("text")).as[(Long, Int, Int, Int, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 2, 0, 0, "write to [EMAIL] or [EMAIL] today")))
    assert(out(2L) == ((2L, 0, 2, 1, "server at [IP] and [IP], call [PHONE]")))
    assert(out(3L) == ((3L, 0, 0, 0, "no pii here at all")))
    assert(out(4L) == ((4L, 0, 0, 0, "")))
    assert(out(5L) == ((5L, 1, 0, 0, "reach [EMAIL] maybe")))
    out.values.foreach { case (_, ne, ni, np, red) =>
      def count(tok: String) = red.sliding(tok.length).count(_ == tok)
      assert(ne == count("[EMAIL]") && ni == count("[IP]") && np == count("[PHONE]"))
    }
  }

  test("repetition stats: bigram mass and top-word frequency match hand counts") {
    import spark.implicits._
    val rows = Seq(
      (1L, "a b a b a"),     // bigrams: ab ba ab ba → 4 total, 2 distinct; top word 'a' ×3
      (2L, "x x x x"),       // 3 bigrams all 'x x'; top word ×4
      (3L, "solo"),          // no bigrams
      (4L, "all distinct words here"),
    ).toDF("doc_id", "text")
    val out = TextAnalysis.repetitionStats(rows).as[(Long, Int, Int, Int)].collect()
      .map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 4, 2, 3)))
    assert(out(2L) == ((2L, 3, 1, 4)))
    assert(out(3L) == ((3L, 0, 0, 1)))
    assert(out(4L) == ((4L, 3, 3, 1)))
  }

  test("as-of join: backward match, >= tie, NULL payload field, unmatched left") {
    import spark.implicits._
    val left = Seq(
      (1L, 10L, 100L), // matches right at t=10 (equal time counts, >=)
      (1L, 15L, 101L), // matches right at t=12 — whose payload field is NULL
      (1L, 5L, 102L),  // before any right row → no match
      (2L, 99L, 103L), // key with no right rows at all → no match
    ).toDF("k", "t", "left_tag")
    val right = Seq(
      (1L, 10L, Option(7L)),
      (1L, 12L, Option.empty[Long]), // legit NULL payload must NOT fall back to t=10
      (1L, 20L, Option(9L)),         // future row must never match backward
    ).toDF("k", "t", "pay")

    val out = AsOfJoin.backward(left, right, key = "k", leftTime = "t", rightTime = "t")
    assert(out.columns.toSeq == Seq("k", "t", "left_tag", "pay"))
    val got = out.as[(Long, Long, Long, Option[Long])].collect()
      .map(r => r._3 -> r._4).toMap
    assert(got == Map(100L -> Some(7L), 101L -> None, 102L -> None, 103L -> None))
    // 101 matched the t=12 right row (present, NULL payload) — distinguish
    // "matched a NULL payload" from "unmatched" via a row-count probe
    val matched = AsOfJoin.backward(left, right.withColumn("marker", lit(1)), "k", "t", "t")
      .filter(col("marker").isNotNull).count()
    assert(matched == 2) // tags 100 and 101; 102/103 carry NULL markers
  }

  test("as-of join: NULL right keys/times never match, NULL-key left rows stay unmatched, name collisions rejected") {
    import spark.implicits._
    val left = Seq(
      (Option(1L), Option(5L), 100L),
      (Option.empty[Long], Option(5L), 101L), // NULL key: SQL equi-join semantics → no match
    ).toDF("k", "t", "left_tag")
    val right = Seq(
      (Option(1L), Option(4L), Option(99L)),
      (Option(1L), Option.empty[Long], Option(98L)), // NULL time can't satisfy >=
      (Option.empty[Long], Option(1L), Option(97L)), // NULL key can't equi-match
    ).toDF("k", "t", "pay")
    val got = AsOfJoin.backward(left, right, "k", "t", "t")
      .as[(Option[Long], Option[Long], Long, Option[Long])].collect()
      .map(r => r._3 -> r._4).toMap
    assert(got == Map(100L -> Some(99L), 101L -> None))

    val e = intercept[IllegalArgumentException](
      AsOfJoin.backward(left.withColumnRenamed("left_tag", "pay"), right, "k", "t", "t"))
    assert(e.getMessage.contains("pay"))
  }

  test("term stats: df/tf against hand counts; null-text docs contribute nothing") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b a"),
      (2L, "a c"),
      (3L, null.asInstanceOf[String]),
    ).toDF("doc_id", "text")
    val got = TextAnalysis.termStats(docs, minDf = 2L)
      .as[(String, Long, Long)].collect().toSet
    // "a": df 2 (docs 1, 2), tf 3; "b"/"c" are singletons below the cut
    assert(got == Set(("a", 2L, 3L)))
  }

  test("pq codes: codebook vectors self-assign; every code in range; m codes per vector") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val codes = Similarity.pqCodes(emb, m = 4, k = 16, dim = 64).cache()
    val n = emb.count()
    assert(codes.count() == n * 4)
    assert(codes.filter(col("code") < 0 || col("code") >= 16).count() == 0)
    // a codebook vector's subvectors are distance-0 from themselves, and
    // ties break to the smallest index — vec j must code as (j, j, j, j)
    assert(codes.filter(col("vec_id") < 16)
      .filter(col("code") =!= col("vec_id").cast("int")).count() == 0)
    codes.unpersist()
    // empty-table contract (same as hyperplaneBuckets): empty frame, no crash
    assert(Similarity.pqCodes(emb.filter(col("vec_id") < 0)).count() == 0)
  }

  test("substring clean corpus: covered tokens cut, unmarked docs byte-identical, narrow cut stage") {
    import spark.implicits._
    val span = (1 to 12).map(i => s"tok$i").mkString(" ")
    val corpus = Seq(
      (1L, s"alpha beta $span"),   // anchors at offsets 2..6 → tokens 2..13 covered
      (2L, s"$span gamma delta"),  // anchors at offsets 0..4 → tokens 0..11 covered
      (3L, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10"), // no shared span: passthrough
    ).toDF("doc_id", "text")
    val out = Dedup.substringCleanCorpus(corpus, k = 8, mask = 0L)
      .as[(Long, String, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L) == (("alpha beta", 12L)))
    assert(out(2L) == (("gamma delta", 12L)))
    assert(out(3L) == (("u1 u2 u3 u4 u5 u6 u7 u8 u9 u10", 0L)))

    // plan pin: given a precomputed cuts frame the cut itself is ONE join
    // plus narrow projections — no Window, no shuffle (the span side
    // broadcasts), no UDF (HOF filter/exists only)
    val cuts = Seq((1L, Seq(2))).toDF("doc_id", "starts")
    val phys = Dedup.cutSpans(corpus, cuts, 8).queryExecution.executedPlan.toString
    assert(!phys.contains("Window"), s"no window expected:\n$phys")
    assert(!phys.contains("Exchange hashpartitioning"), s"no shuffle expected:\n$phys")
    assert(!phys.contains("BatchEvalPython") && !phys.contains("ScalaUDF"),
      s"cut must stay UDF-free:\n$phys")
  }

  test("as-of join plans as one key exchange — no join operator, no row amplification") {
    val e = spark.read.parquet(s"$sfDir/events.parquet")
    val clicks = e.filter(col("event_type") === "click").select("event_id", "user_id", "ts")
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value").as("purchase_value"))
    val df = AsOfJoin.backward(clicks, purchases, "user_id", "ts", "ts")
    val phys = df.queryExecution.executedPlan.toString
    assert(!phys.contains("Join"), s"as-of must not plan a join:\n$phys")
    assert("Exchange hashpartitioning".r.findAllIn(phys).size == 1,
      s"exactly one key shuffle expected:\n$phys")
  }
}
