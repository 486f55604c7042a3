package graft.functions

import graft.pipeline.{Linking, SparkSuite}
import graft.ops.{Dedup, Similarity}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property parity of the native fused expressions against their DEFINING
  * Catalyst formulations over adversarial generated inputs. Each native
  * expression backs a DuckDB-oracle-gated query, so silent divergence on
  * exotic input (supplementary-plane characters, runs of spaces, empty
  * tokens, case-folding edge cases) is the residual risk these properties
  * close. Raw ScalaCheck generators with fixed seeds (no scalatestplus
  * bridge in the offline cache).
  */
class ExpressionFuzzSpec extends SparkSuite {

  // Adversarial text: multiple/leading/trailing spaces, empties, mixed case,
  // accents, CJK, an astral-plane emoji (UTF-16 surrogate pair), digits.
  private val textGen: Gen[String] = {
    val tokens = Gen.oneOf(
      "", " ", "  ", "a", "B", "ab", "ABC", "café", "Ünï", "猫", "🙂", "x1",
      "Supplier#3", "the", "THE", "İ", "ß", " ", "word word",
    )
    Gen.listOf(tokens).map(_.mkString(" "))
  }

  private def samples(n: Int): Seq[String] =
    (0 until n).flatMap(i => textGen(Gen.Parameters.default.withSize(4 + i % 24), Seed(i.toLong))) :+
      "" :+ " " :+ "a b c d e" :+ "🙂🙂🙂🙂" :+ "a  b  c  d  e  f"

  test("property: word_shingles == defining transform chain on adversarial text") {
    import spark.implicits._
    val df = samples(400).zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val native = Dedup.wordShingleArrays(df, "doc_id", "text")
      .as[(Long, Seq[String])].collect().toMap
    val fold = Dedup.wordShingleArraysFold(df, "doc_id", "text")
      .as[(Long, Seq[String])].collect().toMap
    assert(native == fold.filter(_._2.nonEmpty))
  }

  test("property: char_shingles == defining shinglesExpr chain on adversarial mentions") {
    import spark.implicits._
    val df = samples(400).distinct.toDF("mention")
    val rows = df.select(col("mention"),
      Linking.shinglesCol("mention").as("native"),
      Linking.shinglesExpr("mention").as("fold"))
      .as[(String, Seq[String], Seq[String])].collect()
    rows.foreach { case (m, n, f) => assert(n == f, s"mismatch for ${m.take(40)}") }
  }

  test("property: per-row minhash_sig == exploded min-aggregate signatures") {
    import spark.implicits._
    val univ = samples(200).distinct.filter(_.length >= Linking.ShingleLen).toDF("mention")
    val perRow = Linking.minhashSignatures(univ)
      .as[(String, Seq[Long])].collect().toMap
    val exploded = Linking.minhashSignaturesFrom(Linking.mentionShingles(univ), "mention")
      .as[(String, Seq[Long])].collect().toMap
    assert(perRow == exploded)
  }

  test("SQL registration exposes the parameterized shingle functions (literal n)") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT word_shingles('a b c d e f', 5) AS ws, char_shingles('ABCD', 3) AS cs, " +
        "size(word_gram_hashes('a b c', 2)) AS n").first()
    assert(r.getSeq[String](0) == Seq("a b c d e", "b c d e f"))
    assert(r.getSeq[String](1) == Seq("abc", "bcd"))
    assert(r.getInt(2) == 2)
    // n must be plan-time constant: a column reference is rejected at analysis
    val err = intercept[Exception](
      spark.range(1).selectExpr("word_shingles('a', cast(id AS int))").collect())
    assert(err.getMessage.contains("literal"))
  }

  test("property: word_gram_hashes == fnv1a64 over the joined gram strings") {
    import spark.implicits._
    GraftFunctions.register(spark) // the fold formulation names fnv1a64 in SQL
    val df = samples(300).zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val native = df.select(col("doc_id"),
      GraftFunctions.word_gram_hashes(col("text"), 3).as("hs"))
      .as[(Long, Seq[Long])].collect().toMap
    val fold = df.select(col("doc_id"), split(col("text"), " ").as("__w"))
      .select(col("doc_id"), expr(
        """CASE WHEN size(__w) >= 3
           THEN transform(sequence(1, size(__w) - 2), i -> fnv1a64(concat_ws(' ', slice(__w, i, 3))))
           ELSE cast(array() AS array<bigint>) END""").as("hs"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(native == fold)
  }

  test("property: simhash64 expression == pure-Scala simhash loop") {
    import spark.implicits._
    val df = samples(300).zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val native = Dedup.simhash(df).as[(Long, Long)].collect().toMap
    val pure = samples(300).zipWithIndex.map { case (t, i) =>
      val counts = new Array[Int](64)
      t.split(' ').foreach { tok =>
        val h = Linking.fnv1a(tok)
        var b = 0
        while (b < 64) { if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1; b += 1 }
      }
      var sig = 0L
      var b = 0
      while (b < 64) { if (counts(b) > 0) sig |= (1L << b); b += 1 }
      i.toLong -> sig
    }.toMap
    assert(native == pure)
  }

  test("property: dot_f64 == aggregate(zip_with) fold on random float vectors") {
    import spark.implicits._
    val rnd = new scala.util.Random(7L)
    val vecs = (0 until 200).map { i =>
      (i.toLong, Array.fill(16)(rnd.nextFloat() * 2 - 1), Array.fill(16)(rnd.nextFloat() * 2 - 1))
    }.toDF("id", "a", "b")
    val rows = vecs.select(
      Similarity.dot(col("a"), col("b")).as("native"),
      Similarity.dotFold(col("a"), col("b")).as("fold"))
      .as[(Double, Double)].collect()
    rows.foreach { case (n, f) =>
      assert(java.lang.Double.doubleToRawLongBits(n) == java.lang.Double.doubleToRawLongBits(f))
    }
  }

  test("property: sq_l2_f64 == aggregate(zip_with) fold on random float vectors") {
    import spark.implicits._
    val rnd = new scala.util.Random(11L)
    val vecs = (0 until 200).map { i =>
      (i.toLong, Array.fill(16)(rnd.nextFloat() * 2 - 1), Array.fill(16)(rnd.nextFloat() * 2 - 1))
    }.toDF("id", "a", "b")
    val rows = vecs.select(
      Similarity.sqL2(col("a"), col("b")).as("native"),
      Similarity.sqL2Fold(col("a"), col("b")).as("fold"))
      .as[(Double, Double)].collect()
    rows.foreach { case (n, f) =>
      assert(java.lang.Double.doubleToRawLongBits(n) == java.lang.Double.doubleToRawLongBits(f))
    }
  }

  test("property: argmax_cos / argmin_sql2 == defining max/min(struct) aggregates, incl. ties and NaN") {
    import spark.implicits._
    import graft.functions.{GraftFunctions => F}
    val rnd = new scala.util.Random(13L)
    val dim = 8
    // Codebook with a DUPLICATED centroid (exact score tie → smallest index
    // must win, the max(struct(s, -cell)) rule) and a ZERO centroid (cn = 0
    // → a zero divisor: a NULL score with ANSI off, DIVIDE_BY_ZERO under
    // ANSI — Spark's Divide semantics must be replicated exactly).
    val dup = Array.fill(dim)(rnd.nextFloat() * 2 - 1)
    val normalCents: Seq[Array[Float]] =
      Seq(dup) ++ (0 until 5).map(_ => Array.fill(dim)(rnd.nextFloat() * 2 - 1)) ++ Seq(dup)
    // The normal codebook exercises real scores plus the
    // duplicated-centroid exact tie; NaN scores come from NaN and infinite
    // components (the last block below), never from a zero divisor.
    def mkCb(cents: Seq[Array[Float]]) =
      cents.zipWithIndex.map { case (c, i) => (i, c) }.toDF("cell", "centroid")
        .select(col("cell"), col("centroid"), Similarity.norm(col("centroid")).as("cn"))
    // A null embedding (id 301) scores null against every cell.
    def mkVecs(withZero: Boolean, withNull: Boolean = false) = ((0 until 300).map { i =>
      (i.toLong, Array.fill(dim)(rnd.nextFloat() * 2 - 1))
    } ++ (if (withZero) Seq((300L, Array.fill(dim)(0.0f))) else Nil)
      ++ (if (withNull) Seq((301L, null: Array[Float])) else Nil)).toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding"), Similarity.norm(col("embedding")).as("n"))
    val sortedCb = array_sort(collect_list(struct(col("cell"), col("centroid"), col("cn"))))
    def nativeCells(cb: org.apache.spark.sql.DataFrame, vecs: org.apache.spark.sql.DataFrame) = {
      val cbRow = cb.agg(sortedCb.as("cb"))
        .select(transform(col("cb"), c => c.getField("cell")).as("cells"),
          transform(col("cb"), c => c.getField("centroid")).as("cents"),
          transform(col("cb"), c => c.getField("cn")).as("cnorms"))
      vecs.crossJoin(broadcast(cbRow))
        .select(col("vec_id"), element_at(col("cells"),
          F.argmax_cos(col("embedding"), col("n"), col("cents"), col("cnorms")) + 1).as("cell"))
        .as[(Long, Int)].collect().toMap
    }
    def definingCells(cb: org.apache.spark.sql.DataFrame, vecs: org.apache.spark.sql.DataFrame) =
      vecs.crossJoin(broadcast(cb))
        .select(col("vec_id"),
          struct((Similarity.dot(col("embedding"), col("centroid")) / (col("n") * col("cn"))).as("s"),
            (-col("cell")).as("negc")).as("sc"))
        .groupBy("vec_id").agg(max(col("sc")).as("best"))
        .select(col("vec_id"), (-col("best.negc")).cast("int").as("cell"))
        .as[(Long, Int)].collect().toMap
    def compare(cb: org.apache.spark.sql.DataFrame, vecs: org.apache.spark.sql.DataFrame): Unit =
      assert(nativeCells(cb, vecs) == definingCells(cb, vecs))
    def divideByZero(f: => Any): Boolean = {
      val e = intercept[Exception](f)
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("DIVIDE_BY_ZERO"))
    }
    // Real-score + exact-tie coverage under the session's ANSI default.
    compare(mkCb(normalCents), mkVecs(withZero = false))
    // A null embedding: both forms give the smallest cell, with and
    // without whole-stage codegen (the interpreted path is the kernel's
    // `eval`).
    val withNull = mkVecs(withZero = false, withNull = true)
    assert(nativeCells(mkCb(normalCents), withNull)(301L) == 0)
    compare(mkCb(normalCents), withNull)
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try compare(mkCb(normalCents), withNull)
    finally { spark.conf.unset("spark.sql.codegen.factoryMode"); spark.conf.unset("spark.sql.codegen.wholeStage") }
    // A zero norm under ANSI: the defining Divide refuses the row, and so
    // does the kernel — a zero vector, then a zero centroid.
    val zeroCb = mkCb(normalCents :+ Array.fill(dim)(0.0f))
    Seq(mkCb(normalCents) -> mkVecs(withZero = true), zeroCb -> mkVecs(withZero = false)).foreach {
      case (cb, vecs) =>
        assert(divideByZero(definingCells(cb, vecs)))
        assert(divideByZero(nativeCells(cb, vecs)))
    }
    // Null-score coverage with ANSI off, where Spark's Divide turns a zero
    // divisor into NULL (not NaN): a zero vector → every score null, so the
    // smallest cell wins; a zero centroid → its score null for every
    // vector, so it never wins over a real score.
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      compare(mkCb(normalCents), mkVecs(withZero = true))
      compare(mkCb(normalCents :+ Array.fill(dim)(0.0f)), mkVecs(withZero = true))
      compare(mkCb(normalCents :+ Array.fill(dim)(0.0f)), mkVecs(withZero = true, withNull = true))
    } finally spark.conf.unset("spark.sql.ansi.enabled")

    // argmin: sq_l2 has no division — zero vectors/centroids are exact-tie
    // (not NaN) coverage, safe under ANSI.
    val cb = mkCb(normalCents :+ Array.fill(dim)(0.0f))
    val vecs = mkVecs(withZero = true, withNull = true)
    val cbMinRow = cb.agg(sortedCb.as("cb"))
      .select(transform(col("cb"), c => c.getField("cell")).as("cells"),
        transform(col("cb"), c => c.getField("centroid")).as("cents"))
    val nativeMin = vecs.crossJoin(broadcast(cbMinRow))
      .select(col("vec_id"), element_at(col("cells"),
        F.argmin_sql2(col("embedding"), col("cents")) + 1).as("cell"))
      .as[(Long, Int)].collect().toMap
    val definingMin = vecs.crossJoin(broadcast(cb))
      .select(col("vec_id"),
        struct(Similarity.sqL2(col("embedding"), col("centroid")).as("d"), col("cell").as("j")).as("dj"))
      .groupBy("vec_id").agg(min(col("dj")).as("best"))
      .select(col("vec_id"), col("best.j").as("cell"))
      .as[(Long, Int)].collect().toMap
    assert(nativeMin == definingMin)
    assert(nativeMin(301L) == 0)

    // NaN scores, which Spark's order places ABOVE every real score. A NaN
    // component makes every dot and norm it enters NaN; an infinite one
    // makes the norm infinite, so every score over it is ±Inf/Inf or
    // NaN·x/Inf, NaN. Vector 302 (a NaN component) and vector 303 (+Inf
    // and −Inf components) score NaN against every cell: the all-NaN tie,
    // where the smallest cell wins. The centroid with a NaN component
    // (cell 3) and the one with ±Inf components (the last cell) score NaN
    // against every vector, so a real best score meets a NaN one at cell 3
    // (the kernel's `isNaN(s) && !isNaN(bestS)` branch) and the NaN wins;
    // the later NaN at the last cell ties and loses to the smaller cell.
    def withSpecial(f: Float) = Array.tabulate(dim)(i =>
      if (i == 1) f else if (i == 2) -f else rnd.nextFloat() * 2 - 1)
    val nanCb = mkCb(normalCents.take(3) ++ Seq(withSpecial(Float.NaN)) ++ normalCents.drop(3) ++
      Seq(withSpecial(Float.PositiveInfinity)))
    val nanVecs = mkVecs(withZero = false).unionByName(
      Seq((302L, withSpecial(Float.NaN)), (303L, withSpecial(Float.PositiveInfinity)))
        .toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding"), Similarity.norm(col("embedding")).as("n")))
    val nanCells = nativeCells(nanCb, nanVecs)
    assert(nanCells.size == 302 && nanCells(302L) == 0 && nanCells(303L) == 0)
    assert(nanCells.filter(_._1 < 300).values.forall(_ == 3))
    // under the session's ANSI default (no zero divisor, so nothing
    // raises), without whole-stage codegen, and with ANSI off
    compare(nanCb, nanVecs)
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try compare(nanCb, nanVecs)
    finally { spark.conf.unset("spark.sql.codegen.factoryMode"); spark.conf.unset("spark.sql.codegen.wholeStage") }
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try compare(nanCb, nanVecs)
    finally spark.conf.unset("spark.sql.ansi.enabled")
  }

  test("property: repetitionStats fold == plain-Scala mirror on adversarial text") {
    import spark.implicits._
    // Plain-Scala mirror of the documented semantics (split keeps empty
    // tokens; bigram distinct over document order; top word frequency).
    def mirror(text: String): (Int, Int, Int) = {
      val ws = text.split(" ", -1).toSeq
      val bigrams = ws.sliding(2).filter(_.size == 2).map(_.mkString(" ")).toSeq
      val top = ws.groupBy(identity).values.map(_.size).max
      (ws.size - 1, bigrams.distinct.size, top)
    }
    val df = samples(400).zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val got = graft.ops.TextAnalysis.repetitionStats(df)
      .as[(Long, Int, Int, Int)].collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    samples(400).zipWithIndex.foreach { case (t, i) =>
      assert(got(i.toLong) == mirror(t), s"doc $i: ${t.take(60)}")
    }
  }

  test("property: native bpe_count == naive greedy longest-prefix reference") {
    import spark.implicits._
    val vocab = Subword.DefaultVocab
    // Independent definition: per word, linear scan of the FULL vocab for
    // the longest prefix at each offset (no first-char index, no one-pass
    // fusion) — a different code path from SubwordMatcher.
    def naive(text: String): Long = text.split(" ", -1).map { word =>
      var i = 0; var n = 0L
      while (i < word.length) {
        val hit = vocab.filter(t => word.startsWith(t, i)).map(_.length)
        // unmatched fallback advances one CODE POINT (surrogate pair = one
        // token), the documented per-code-point semantics (r6 ADVICE fix)
        val step =
          if (hit.nonEmpty) hit.max
          else if (Character.isHighSurrogate(word(i)) && i + 1 < word.length
            && Character.isLowSurrogate(word(i + 1))) 2
          else 1
        n += 1; i += step
      }
      n
    }.sum
    // sanitized alphabet (the registry query lowercases/strips first) plus
    // raw adversarial text — the expression itself must be total on ANY
    // string, including astral-plane chars the sanitizer would remove
    // "ation"/"the then" pin the greedy property ON THE EXPRESSION: ation
    // must be ONE token (the 5-char merge, not at+ion), "then" must be
    // the+n (longest prefix at position 0), regardless of sample luck
    val inputs = (samples(300) ++ samples(300).map(
      _.toLowerCase.replaceAll("[^a-z0-9]+", " "))
      :+ "ation" :+ "the then station").distinct
    val df = inputs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val got = df.select(col("doc_id"), GraftFunctions.bpe_count(col("text")).as("n"))
      .as[(Long, Long)].collect().toMap
    inputs.zipWithIndex.foreach { case (t, i) =>
      assert(got(i.toLong) == naive(t), s"doc $i: ${t.take(60)}")
    }
    // the greedy property asserted on the NATIVE value, not just the
    // reference: "ation" is one token iff the longest merge won
    assert(got(inputs.indexOf("ation").toLong) == 1L)
  }
}
