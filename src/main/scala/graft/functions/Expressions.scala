package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType, NullType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Analysis-time input checks: a mistyped call (e.g. `minhash_sig(text)`
  * instead of `minhash_sig(word_shingles(text, n))`) must fail in the
  * analyzer with a readable message, not surface as a codegen compile error
  * + interpreted-path ClassCastException mid-job. */
private[functions] object InputCheck {
  def string(e: Expression, name: String): TypeCheckResult = e.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case org.apache.spark.sql.types.NullType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$name requires a string input, got ${t.sql}")
  }
  /** array<string> (shingles, hashed internally) OR array<long>
    * (pre-computed fnv1a64 hashes, e.g. word_gram_hashes output). */
  def stringOrLongArray(e: Expression, name: String): TypeCheckResult = e.dataType match {
    case ArrayType(_: StringType, _) | ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case org.apache.spark.sql.types.NullType => TypeCheckResult.TypeCheckSuccess
    case ArrayType(org.apache.spark.sql.types.NullType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$name requires an array<string> or array<long> input " +
        s"(e.g. word_shingles(text, n) or word_gram_hashes(text, n)), got ${t.sql}")
  }

  def integral(e: Expression, name: String): TypeCheckResult = e.dataType match {
    case LongType | org.apache.spark.sql.types.IntegerType |
         org.apache.spark.sql.types.ShortType | org.apache.spark.sql.types.ByteType |
         org.apache.spark.sql.types.NullType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$name requires an integral input, got ${t.sql}")
  }
}

/** Native Catalyst expressions for the hot relational paths (SURVEY §4.2:
  * a codegen `Expression` beats a Scala UDF — UDFs are optimization
  * barriers and box every row through the encoder).
  *
  * All three stay inside whole-stage codegen: `doGenCode` emits either
  * inline Java long arithmetic (fmix64) or a static call (fnv1a64,
  * resolve_iri) — no closure serialization, no InternalRow → object
  * conversion, and JVM `long` arithmetic wraps, so the MinHash mixing needs
  * no ANSI-mode escape hatches (the reason the previous implementation had
  * to fall back to a typed Aggregator).
  */
object ExprHelpers {
  /** FNV-1a over the UTF-16 chars of the string — the exact hash
    * `graft.pipeline.Linking.fnv1a` computes on the Scala side, so pure-JVM
    * consumers and the Catalyst pipeline agree on every signature. */
  def fnv1a64(s: UTF8String): Long = fnv1a64(s.toString)

  def fnv1a64(str: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < str.length) { h ^= str.charAt(i).toLong; h *= 0x100000001b3L; i += 1 }
    h
  }

  /** Whole MinHash signature of a shingle array in one pass — the per-ROW
    * form of the signature `graft.pipeline.Linking.signatureOf` defines
    * (identical values, pinned in LinkingSpec). Computing the signature
    * per row instead of exploding to (id, shingle) rows and min-aggregating
    * removes the signature stage's shuffle entirely: at corpus scale the
    * exploded frame is ~10³ rows per document, and a narrow map-only
    * projection is the shape that survives 100 TB. Null array elements are
    * skipped; an empty array yields the identity signature (callers filter
    * empty shingle sets to keep parity with the exploded path, where such
    * documents simply have no rows). */
  def minhashSig(arr: ArrayData): ArrayData = {
    val seeds = graft.pipeline.Linking.HashSeeds
    val sig = Array.fill(seeds.length)(Long.MaxValue)
    var j = 0
    val n = arr.numElements()
    while (j < n) {
      if (!arr.isNullAt(j)) {
        val x = fnv1a64(arr.getUTF8String(j))
        var i = 0
        while (i < seeds.length) {
          // single source of the mixing function (JIT-inlined static call)
          val z = graft.pipeline.Linking.fmix64(x ^ seeds(i))
          if (z < sig(i)) sig(i) = z
          i += 1
        }
      }
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(sig) // no per-element boxing
  }

  /** [[minhashSig]] over PRE-HASHED shingles (an array<long> of fnv1a64
    * values, e.g. [[wordGramHashes]] output). Bit-identical to the string
    * form: `wordGramHashes` emits exactly `fnv1a64(gram string)` per
    * position, and the per-seed MIN is invariant under duplicate hashes,
    * so skipping both the gram-string materialization and the per-position
    * dedup changes nothing. The word-gram dedup hot path uses this to keep
    * the signature stage free of string building (r7 optimization). */
  def minhashSigHashed(arr: ArrayData): ArrayData = {
    val seeds = graft.pipeline.Linking.HashSeeds
    val sig = Array.fill(seeds.length)(Long.MaxValue)
    var j = 0
    val n = arr.numElements()
    while (j < n) {
      if (!arr.isNullAt(j)) {
        val x = arr.getLong(j)
        var i = 0
        while (i < seeds.length) {
          val z = graft.pipeline.Linking.fmix64(x ^ seeds(i))
          if (z < sig(i)) sig(i) = z
          i += 1
        }
      }
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(sig)
  }

  /** 64-bit SimHash over the whitespace tokens of the text — bit-for-bit the
    * loop `graft.ops.Dedup` previously ran in a typed map (Java `split(' ')`
    * semantics: trailing empty tokens dropped, matching the DuckDB oracle).
    * As a native expression the signature stays inside whole-stage codegen:
    * no SerializeFromObject / typed-object barrier on the dedup hot path. */
  def simhash64(text: UTF8String): Long = {
    val counts = new Array[Int](64)
    text.toString.split(' ').foreach { tok =>
      val h = fnv1a64(tok)
      var b = 0
      while (b < 64) { if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1; b += 1 }
    }
    var sig = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }

  /** Word n-gram shingles — value-identical to the Catalyst chain
    * `CASE WHEN size(split(text, ' ')) >= n THEN array_distinct(transform(
    * sequence(1, size - n + 1), i -> concat_ws(' ', slice(split, i, n))))
    * ELSE array() END` that defines the semantics (and that the DuckDB
    * oracles mirror): split on a single space KEEPS empty tokens (Spark's
    * `split` uses limit -1), shingles join with a single space, and
    * array_distinct preserves first-occurrence order. The Catalyst chain is
    * two interpreted lambdas allocating a slice array and a concat per
    * shingle; this is one fused loop. */
  def wordShingles(text: UTF8String, n: Int): ArrayData = {
    val toks = text.toString.split(" ", -1)
    if (toks.length < n) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[String](toks.length * 2)
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i + n <= toks.length) {
      sb.setLength(0)
      var j = 0
      while (j < n) { if (j > 0) sb.append(' '); sb.append(toks(i + j)); j += 1 }
      seen.add(sb.toString)
      i += 1
    }
    val out = new Array[Any](seen.size)
    var k = 0
    val it = seen.iterator()
    while (it.hasNext) { out(k) = UTF8String.fromString(it.next()); k += 1 }
    new GenericArrayData(out)
  }

  /** Per-POSITION 64-bit FNV-1a hashes of every word n-gram of the text, in
    * document order (no dedup — position identity matters for substring-
    * duplication detection). Value-identical to
    * `transform(sequence(1, size(w) - n + 1), i -> fnv1a64(concat_ws(' ', slice(w, i, n))))`
    * over `w = split(text, ' ')` but WITHOUT materializing any gram string:
    * FNV-1a is char-sequential, so hashing token chars with a ' ' between
    * them equals hashing the joined string. One fused loop per row. */
  def wordGramHashes(text: UTF8String, n: Int): ArrayData = {
    val toks = text.toString.split(" ", -1)
    if (toks.length < n) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    val out = new Array[Long](toks.length - n + 1)
    var i = 0
    while (i + n <= toks.length) {
      var h = 0xcbf29ce484222325L
      var j = 0
      while (j < n) {
        if (j > 0) { h ^= ' '.toLong; h *= 0x100000001b3L }
        val t = toks(i + j)
        var c = 0
        while (c < t.length) { h ^= t.charAt(c).toLong; h *= 0x100000001b3L; c += 1 }
        j += 1
      }
      out(i) = h
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Character n-gram shingles of the lowercased string — value-identical to
    * the Catalyst chain `CASE WHEN length(s) >= n THEN array_distinct(
    * transform(sequence(1, length(s) - n + 1), i -> substring(lower(s), i, n)))
    * ELSE array() END` that defines the semantics (and that the DuckDB
    * oracles mirror). Uses UTF8String.toLowerCase and code-point substrings,
    * exactly like Spark's `lower`/`substring`, so parity holds beyond ASCII.
    * Same fused-loop rationale as [[wordShingles]]. */
  def charShingles(s: UTF8String, n: Int): ArrayData = {
    // The window COUNT comes from the ORIGINAL string's length while the
    // window CONTENT indexes the LOWERCASED string — exactly as the chain
    // does (`length(s)` vs `substring(lower(s), …)`). Lowercasing can change
    // the length (Turkish İ → i + combining dot), in which case the chain
    // stops short of the lowered string's end, or clamps windows at it;
    // parity demands the same here (caught by ExpressionFuzzSpec).
    val origLen = s.numChars()
    if (origLen < n) return new GenericArrayData(Array.empty[Any])
    val lower = s.toLowerCase
    val lowLen = lower.numChars()
    val seen = new java.util.LinkedHashSet[UTF8String](origLen * 2)
    var i = 0
    while (i + n <= origLen) {
      val from = math.min(i, lowLen)
      val until = math.min(i + n, lowLen)
      seen.add(lower.substring(from, until))
      i += 1
    }
    val out = new Array[Any](seen.size)
    var k = 0
    val it = seen.iterator()
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    new GenericArrayData(out)
  }

  /** Left-to-right double-precision dot product of two numeric arrays —
    * bit-identical to the Catalyst fold
    * `aggregate(zip_with(a, b, (x, y) => x.cast(double) * y.cast(double)), 0.0, _ + _)`
    * (same element order, same double adds), which the DuckDB oracles mirror
    * as `list_reduce(list_transform(list_zip(a, b), …))`. That fold is a
    * CodegenFallback higher-order chain interpreting two lambdas and
    * allocating an intermediate array per row; this is one fused loop.
    * Mirrors the fold's null semantics: zip_with pads the shorter array with
    * null and null poisons the sum, so a length mismatch or a null element
    * yields null. */
  // element-kind codes for dotF64 (plan-time constants baked into codegen)
  final val KindDouble = 0
  final val KindFloat = 1
  final val KindLong = 2
  final val KindInt = 3
  final val KindShort = 4
  final val KindByte = 5

  def dotF64(a: ArrayData, b: ArrayData, aKind: Int, bKind: Int): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      s += elem(a, i, aKind) * elem(b, i, bKind)
      i += 1
    }
    s
  }

  /** Left-to-right squared-L2 distance, same fold discipline (and null
    * semantics) as [[dotF64]]: bit-identical to
    * `aggregate(zip_with(a, b, (x, y) => (x-y)*(x-y) in double), 0.0, _ + _)`
    * and to the DuckDB `list_reduce(list_transform(list_zip(a, b), …))`
    * mirror — the distance kernel of the PQ assignment loop, which runs
    * n·m·k times and must stay inside whole-stage codegen (the HOF chain is
    * CodegenFallback and would exile the whole scoring projection). */
  def sqL2F64(a: ArrayData, b: ArrayData, aKind: Int, bKind: Int): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val d = elem(a, i, aKind) - elem(b, i, bKind)
      s += d * d
      i += 1
    }
    s
  }

  /** Index (0-based) of the codebook centroid maximizing
    * `dotF64(emb, cents(i)) / (n * cnorms(i))` — the map-side form of the
    * IVF coarse-assignment argmax. Row-identical to the defining aggregate
    * formulation `max(struct(score, -cell))` over the exploded
    * vector×codebook cross join (the DuckDB oracles replay that form):
    * same dot fold, same `n * cn` multiply-then-divide, and the comparison
    * replicates Spark's struct order exactly —
    *  - a ZERO divisor under a non-null dot makes the score NULL (Spark's
    *    non-ANSI Divide); under ANSI (the session default) it raises
    *    DIVIDE_BY_ZERO, as the defining form's Divide does — the flag is
    *    read only on that branch; a null centroid / length-mismatched dot
    *    makes the score NULL;
    *  - null scores sort FIRST, so a null entry only wins when EVERY score
    *    is null, where the smallest cell wins (the struct tie falls to
    *    max(-cell));
    *  - among real scores NaN sits above every value, `-0.0 = 0.0` (Java
    *    primitive `>` agrees), and ties keep the FIRST (smallest) index.
    * Null only for an empty codebook; a null embedding or norm is
    * [[argmaxCosNull]]. ExpressionFuzzSpec pins all of this
    * against the defining aggregate. Replacing the `groupBy(vec_id)`
    * argmax removes the per-assignment exchange that carried the full
    * embedding column — at corpus scale a corpus-sized shuffle per k-means
    * iteration (r7 optimization). */
  def argmaxCos(emb: ArrayData, n: Double, cents: ArrayData, cnorms: ArrayData,
                embKind: Int, centKind: Int): java.lang.Integer = {
    val k = cents.numElements()
    if (cnorms.numElements() != k) return null
    var best = -1
    var bestS = 0.0
    var bestNull = true
    var i = 0
    while (i < k) {
      var s = 0.0
      var sNull = true
      if (!cents.isNullAt(i) && !cnorms.isNullAt(i)) {
        val div = n * cnorms.getDouble(i)
        val d = dotF64(emb, cents.getArray(i), embKind, centKind)
        if (d != null) {
          if (div != 0.0) { s = d.doubleValue() / div; sNull = false }
          else if (SQLConf.get.ansiEnabled) throw org.apache.spark.sql.GraftSqlBridge.divideByZeroError()
        }
      }
      val better =
        if (best < 0) true
        else if (sNull) false // null sorts first; ascending i ⇒ the struct tie never flips
        else bestNull || s > bestS ||
          (java.lang.Double.isNaN(s) && !java.lang.Double.isNaN(bestS))
      if (better) { best = i; bestS = s; bestNull = sNull }
      i += 1
    }
    if (best < 0) null else Integer.valueOf(best)
  }

  /** [[argmaxCos]] of a null embedding or norm: every score of the
    * defining aggregate is null there, so its smallest cell wins — index 0
    * (null for an empty or mismatched codebook, as in [[argmaxCos]]). */
  def argmaxCosNull(cents: ArrayData, cnorms: ArrayData): java.lang.Integer = {
    val k = cents.numElements()
    if (k == 0 || cnorms.numElements() != k) null else Integer.valueOf(0)
  }

  /** Index (0-based) of the codebook centroid minimizing
    * `sqL2F64(v, cents(j))` — the map-side form of the PQ code argmin,
    * row-identical to the defining `min(struct(dist, j))` aggregate over
    * the exploded candidate rows: same left-to-right distance fold, and
    * Spark's struct MIN order exactly — null distances (null centroid /
    * length-mismatched fold) sort FIRST and therefore WIN the min (first
    * such index on ties); among real distances NaN sits above every value
    * (never displaces a valid one), `-0.0 = 0.0`, first (smallest) index
    * on ties. Null only for an empty codebook; a null vector is
    * [[argminSqL2Null]]. */
  def argminSqL2(v: ArrayData, cents: ArrayData,
                 vKind: Int, centKind: Int): java.lang.Integer = {
    val k = cents.numElements()
    var best = -1
    var bestD = 0.0
    var bestNull = true
    var i = 0
    while (i < k) {
      var dd = 0.0
      var dNull = true
      if (!cents.isNullAt(i)) {
        val d = sqL2F64(v, cents.getArray(i), vKind, centKind)
        if (d != null) { dd = d.doubleValue(); dNull = false }
      }
      val better =
        if (best < 0) true
        else if (dNull) !bestNull // null sorts first: beats any real distance, ties keep the first
        else if (bestNull) false
        else dd < bestD || (!java.lang.Double.isNaN(dd) && java.lang.Double.isNaN(bestD))
      if (better) { best = i; bestD = dd; bestNull = dNull }
      i += 1
    }
    if (best < 0) null else Integer.valueOf(best)
  }

  /** [[argminSqL2]] of a null vector: every distance is null, and the
    * first null distance wins the min — index 0 (null for an empty
    * codebook). */
  def argminSqL2Null(cents: ArrayData): java.lang.Integer =
    if (cents.numElements() == 0) null else Integer.valueOf(0)

  @inline private def elem(arr: ArrayData, i: Int, kind: Int): Double = kind match {
    case KindDouble => arr.getDouble(i)
    case KindFloat => arr.getFloat(i).toDouble
    case KindLong => arr.getLong(i).toDouble
    case KindInt => arr.getInt(i).toDouble
    case KindShort => arr.getShort(i).toDouble
    case KindByte => arr.getByte(i).toDouble
  }

  /** RFC-3986-style resolution with the reference's pinned edge semantics
    * (`graft.rdf.IriResolver`, golden cases at reference test:111-215);
    * null on unresolvable input — relational stages keep flowing, the parse
    * kernel is where strict errors live (R28). */
  def resolveIriOrNull(value: UTF8String, base: UTF8String): UTF8String =
    try UTF8String.fromString(graft.rdf.IriResolver.resolve(value.toString, base.toString))
    catch { case _: graft.rdf.IriResolver.IriResolutionError => null }
}

/** murmur3 fmix64 finalizer as inline generated Java — the per-hash-function
  * mixing step of the MinHash family (`Linking.HashSeeds`). */
case class Fmix64(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = InputCheck.integral(child, "fmix64")
  override def dataType: DataType = LongType
  override protected def nullSafeEval(v: Any): Any = {
    // Number, not Long: integral sub-long children are admitted (codegen
    // widens int→long implicitly, and the interpreted path must agree).
    var z = v.asInstanceOf[Number].longValue()
    z = (z ^ (z >>> 33)) * 0xff51afd7ed558ccdL
    z = (z ^ (z >>> 33)) * 0xc4ceb9fe1a85ec53L
    z ^ (z >>> 33)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val z = ctx.freshName("z")
      // A NullType child is admitted (checkInputDataTypes: a NULL literal is
      // a valid integral) but its codegen value is the Java literal `null` —
      // `long z = null;` would not compile and the whole stage would fall
      // back to interpreted execution. The null guard already short-circuits
      // before this body runs, so any compiling dead value is correct.
      val src = if (child.dataType == NullType) "0L" else c
      s"""
         |long $z = $src;
         |$z = ($z ^ ($z >>> 33)) * 0xff51afd7ed558ccdL;
         |$z = ($z ^ ($z >>> 33)) * 0xc4ceb9fe1a85ec53L;
         |${ev.value} = $z ^ ($z >>> 33);
       """.stripMargin
    })
  override protected def withNewChildInternal(c: Expression): Fmix64 = copy(c)
}

/** 64-bit FNV-1a string hash (see [[ExprHelpers.fnv1a64]]). */
case class Fnv1a64(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = InputCheck.string(child, "fnv1a64")
  override def dataType: DataType = LongType
  override protected def nullSafeEval(v: Any): Any =
    ExprHelpers.fnv1a64(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ExprHelpers.fnv1a64($c)")
  override protected def withNewChildInternal(c: Expression): Fnv1a64 = copy(c)
}

/** `minhash_sig(array<string> | array<long>)` → the full 32-long MinHash
  * signature per row (see [[ExprHelpers.minhashSig]]): the shuffle-free
  * signature stage. Long-array input = pre-hashed shingles. */
case class MinHashSig(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    InputCheck.stringOrLongArray(child, "minhash_sig")
  /** array<long> input = pre-computed fnv1a64 shingle hashes (e.g.
    * word_gram_hashes output) — bit-identical signature, no gram strings
    * (see [[ExprHelpers.minhashSigHashed]]). */
  private def hashedInput: Boolean = child.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    if (hashedInput) ExprHelpers.minhashSigHashed(v.asInstanceOf[ArrayData])
    else ExprHelpers.minhashSig(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fn = if (hashedInput) "minhashSigHashed" else "minhashSig"
    defineCodeGen(ctx, ev, c => s"graft.functions.ExprHelpers.$fn($c)")
  }
  override protected def withNewChildInternal(c: Expression): MinHashSig = copy(c)
}

/** `simhash64(text)` → 64-bit SimHash (see [[ExprHelpers.simhash64]]). */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = InputCheck.string(child, "simhash64")
  override def dataType: DataType = LongType
  override protected def nullSafeEval(v: Any): Any =
    ExprHelpers.simhash64(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ExprHelpers.simhash64($c)")
  override protected def withNewChildInternal(c: Expression): SimHash64 = copy(c)
}

/** `word_shingles(text, n)` → array<string> of word n-gram shingles (see
  * [[ExprHelpers.wordShingles]]). `n` is a plan-time constant. */
case class WordShingles(child: Expression, n: Int) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = InputCheck.string(child, "word_shingles")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    ExprHelpers.wordShingles(v.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ExprHelpers.wordShingles($c, $n)")
  override protected def withNewChildInternal(c: Expression): WordShingles = copy(child = c)
}

/** `word_gram_hashes(text, n)` → array<long> of per-position word-n-gram
  * FNV-1a hashes (see [[ExprHelpers.wordGramHashes]]). */
case class WordGramHashes(child: Expression, n: Int) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = InputCheck.string(child, "word_gram_hashes")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    ExprHelpers.wordGramHashes(v.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ExprHelpers.wordGramHashes($c, $n)")
  override protected def withNewChildInternal(c: Expression): WordGramHashes = copy(child = c)
}

/** `char_shingles(str, n)` → array<string> of lowercased character n-gram
  * shingles (see [[ExprHelpers.charShingles]]). `n` is a plan-time constant. */
case class CharShingles(child: Expression, n: Int) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = InputCheck.string(child, "char_shingles")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    ExprHelpers.charShingles(v.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ExprHelpers.charShingles($c, $n)")
  override protected def withNewChildInternal(c: Expression): CharShingles = copy(child = c)
}

/** `dot_f64(a, b)` → double dot product (see [[ExprHelpers.dotF64]]).
  * Accepts any numeric array element type on either side (each element is
  * widened to double exactly as the defining `cast(double)` fold does);
  * a non-numeric array is an ANALYSIS-time failure, not a mid-query throw. */
case class DotF64(left: Expression, right: Expression) extends BinaryExpression {
  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  private def kindOf(e: Expression): Int = e.dataType match {
    case ArrayType(DoubleType, _) => ExprHelpers.KindDouble
    case ArrayType(FloatType, _) => ExprHelpers.KindFloat
    case ArrayType(LongType, _) => ExprHelpers.KindLong
    case ArrayType(IntegerType, _) => ExprHelpers.KindInt
    case ArrayType(ShortType, _) => ExprHelpers.KindShort
    case ArrayType(ByteType, _) => ExprHelpers.KindByte
    case _ => -1
  }
  override def checkInputDataTypes(): TypeCheckResult = {
    // NullType children are admitted (value is always null → nullSafeEval
    // short-circuits; matches Spark-builtin NULL-literal behavior).
    def ok(e: Expression) = kindOf(e) >= 0 || e.dataType == org.apache.spark.sql.types.NullType
    if (ok(left) && ok(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_f64 requires numeric array inputs, got ${left.dataType.sql} and ${right.dataType.sql}")
  }
  @transient private lazy val aKind = kindOf(left)
  @transient private lazy val bKind = kindOf(right)
  override protected def nullSafeEval(a: Any, b: Any): Any =
    ExprHelpers.dotF64(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], aKind, bKind)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val r = ctx.freshName("dotRes")
      s"""
         |java.lang.Double $r = graft.functions.ExprHelpers.dotF64($a, $b, $aKind, $bKind);
         |${ev.isNull} = $r == null;
         |${ev.value} = ${ev.isNull} ? -1.0 : $r.doubleValue();
       """.stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotF64 =
    copy(left = l, right = r)
}

/** `sq_l2_f64(a, b)` → double squared-L2 distance (see
  * [[ExprHelpers.sqL2F64]]); DotF64's sibling with the identical type
  * admission, null semantics, and fold order. */
case class SqL2F64(left: Expression, right: Expression) extends BinaryExpression {
  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  private def kindOf(e: Expression): Int = e.dataType match {
    case ArrayType(DoubleType, _) => ExprHelpers.KindDouble
    case ArrayType(FloatType, _) => ExprHelpers.KindFloat
    case ArrayType(LongType, _) => ExprHelpers.KindLong
    case ArrayType(IntegerType, _) => ExprHelpers.KindInt
    case ArrayType(ShortType, _) => ExprHelpers.KindShort
    case ArrayType(ByteType, _) => ExprHelpers.KindByte
    case _ => -1
  }
  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(e: Expression) = kindOf(e) >= 0 || e.dataType == org.apache.spark.sql.types.NullType
    if (ok(left) && ok(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"sq_l2_f64 requires numeric array inputs, got ${left.dataType.sql} and ${right.dataType.sql}")
  }
  @transient private lazy val aKind = kindOf(left)
  @transient private lazy val bKind = kindOf(right)
  override protected def nullSafeEval(a: Any, b: Any): Any =
    ExprHelpers.sqL2F64(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], aKind, bKind)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val r = ctx.freshName("sql2Res")
      s"""
         |java.lang.Double $r = graft.functions.ExprHelpers.sqL2F64($a, $b, $aKind, $bKind);
         |${ev.isNull} = $r == null;
         |${ev.value} = ${ev.isNull} ? -1.0 : $r.doubleValue();
       """.stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): SqL2F64 =
    copy(left = l, right = r)
}

/** Shared numeric-array-of-arrays kind resolution for the argmax/argmin
  * codebook expressions: the OUTER array's element must itself be a numeric
  * array; returns the inner element-kind code or -1. */
private[functions] object NestedArrayKind {
  def kindOf(t: DataType): Int = t match {
    case ArrayType(DoubleType, _) => ExprHelpers.KindDouble
    case ArrayType(FloatType, _) => ExprHelpers.KindFloat
    case ArrayType(LongType, _) => ExprHelpers.KindLong
    case ArrayType(org.apache.spark.sql.types.IntegerType, _) => ExprHelpers.KindInt
    case ArrayType(org.apache.spark.sql.types.ShortType, _) => ExprHelpers.KindShort
    case ArrayType(org.apache.spark.sql.types.ByteType, _) => ExprHelpers.KindByte
    case _ => -1
  }
  def innerKindOf(t: DataType): Int = t match {
    case ArrayType(inner, _) => kindOf(inner)
    case _ => -1
  }
}

/** `argmax_cos(embedding, n, cents, cnorms)` → 0-based index of the
  * codebook centroid with the maximal cosine score
  * `dot_f64(embedding, cents[i]) / (n * cnorms[i])` (see
  * [[ExprHelpers.argmaxCos]] for the exact tie/NaN order contract — it is
  * Spark's `max(struct(score, -index))`). The map-side IVF assignment
  * kernel: one call per row replaces a nCells-way explode + groupBy argmax,
  * so the assignment never shuffles the embedding column (r7). A null
  * codebook gives null; a null embedding or norm gives the defining
  * aggregate's answer ([[ExprHelpers.argmaxCosNull]]). */
case class ArgMaxCos(first: Expression, second: Expression,
                     third: Expression, fourth: Expression)
  extends org.apache.spark.sql.catalyst.expressions.QuaternaryExpression {
  import org.apache.spark.sql.types.IntegerType
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = {
    def isNull(e: Expression) = e.dataType == NullType
    val embOk = NestedArrayKind.kindOf(first.dataType) >= 0 || isNull(first)
    val nOk = second.dataType == DoubleType || isNull(second)
    val centsOk = NestedArrayKind.innerKindOf(third.dataType) >= 0 || isNull(third)
    val cnOk = fourth.dataType == ArrayType(DoubleType, containsNull = false) ||
      fourth.dataType == ArrayType(DoubleType, containsNull = true) || isNull(fourth)
    if (embOk && nOk && centsOk && cnOk) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "argmax_cos requires (numeric array, double, array<numeric array>, array<double>), got " +
        children.map(_.dataType.sql).mkString(", "))
  }
  @transient private lazy val embKind = NestedArrayKind.kindOf(first.dataType)
  @transient private lazy val centKind = NestedArrayKind.innerKindOf(third.dataType)
  override def eval(input: InternalRow): Any = {
    val e = first.eval(input)
    val n = second.eval(input)
    val c = third.eval(input).asInstanceOf[ArrayData]
    val cn = fourth.eval(input).asInstanceOf[ArrayData]
    if (c == null || cn == null) null
    else if (e == null || n == null) ExprHelpers.argmaxCosNull(c, cn)
    else ExprHelpers.argmaxCos(e.asInstanceOf[ArrayData], n.asInstanceOf[Double], c, cn, embKind, centKind)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val Seq(e, n, c, cn) = children.map(_.genCode(ctx))
    val r = ctx.freshName("argmaxRes")
    ev.copy(code = code"""
      |${e.code}
      |${n.code}
      |${c.code}
      |${cn.code}
      |boolean ${ev.isNull} = true;
      |int ${ev.value} = -1;
      |if (!${c.isNull} && !${cn.isNull}) {
      |  java.lang.Integer $r = ${e.isNull} || ${n.isNull}
      |    ? graft.functions.ExprHelpers.argmaxCosNull(${c.value}, ${cn.value})
      |    : graft.functions.ExprHelpers.argmaxCos(${e.value}, ${n.value}, ${c.value}, ${cn.value}, $embKind, $centKind);
      |  ${ev.isNull} = $r == null;
      |  ${ev.value} = ${ev.isNull} ? -1 : $r.intValue();
      |}""".stripMargin)
  }
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression, q: Expression): ArgMaxCos =
    copy(first = f, second = s, third = t, fourth = q)
}

/** `argmin_sql2(vsub, cents)` → 0-based index of the codebook centroid with
  * the minimal squared-L2 distance `sq_l2_f64(vsub, cents[j])` (see
  * [[ExprHelpers.argminSqL2]] — exactly Spark's `min(struct(dist, index))`).
  * The map-side PQ code-assignment kernel: replaces the k-way explode +
  * groupBy argmin, so PQ encoding is a pure projection (r7). A null
  * codebook gives null; a null vector gives the defining aggregate's
  * answer ([[ExprHelpers.argminSqL2Null]]). */
case class ArgMinSqL2(left: Expression, right: Expression) extends BinaryExpression {
  import org.apache.spark.sql.types.IntegerType
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = {
    def isNull(e: Expression) = e.dataType == NullType
    val vOk = NestedArrayKind.kindOf(left.dataType) >= 0 || isNull(left)
    val centsOk = NestedArrayKind.innerKindOf(right.dataType) >= 0 || isNull(right)
    if (vOk && centsOk) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "argmin_sql2 requires (numeric array, array<numeric array>), got " +
        s"${left.dataType.sql}, ${right.dataType.sql}")
  }
  @transient private lazy val vKind = NestedArrayKind.kindOf(left.dataType)
  @transient private lazy val centKind = NestedArrayKind.innerKindOf(right.dataType)
  override def eval(input: InternalRow): Any = {
    val v = left.eval(input)
    val c = right.eval(input).asInstanceOf[ArrayData]
    if (c == null) null
    else if (v == null) ExprHelpers.argminSqL2Null(c)
    else ExprHelpers.argminSqL2(v.asInstanceOf[ArrayData], c, vKind, centKind)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val v = left.genCode(ctx)
    val c = right.genCode(ctx)
    val r = ctx.freshName("argminRes")
    ev.copy(code = code"""
      |${v.code}
      |${c.code}
      |boolean ${ev.isNull} = true;
      |int ${ev.value} = -1;
      |if (!${c.isNull}) {
      |  java.lang.Integer $r = ${v.isNull}
      |    ? graft.functions.ExprHelpers.argminSqL2Null(${c.value})
      |    : graft.functions.ExprHelpers.argminSqL2(${v.value}, ${c.value}, $vKind, $centKind);
      |  ${ev.isNull} = $r == null;
      |  ${ev.value} = ${ev.isNull} ? -1 : $r.intValue();
      |}""".stripMargin)
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): ArgMinSqL2 =
    copy(left = l, right = r)
}

/** `resolve_iri(value, base)` — reference R20 as a relational scalar
  * (reference `valueToUri`, `lib/RdfXmlParser.ts:161-163`). Null (not error)
  * on unresolvable input. */
case class ResolveIri(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override protected def nullSafeEval(v: Any, b: Any): Any =
    ExprHelpers.resolveIriOrNull(v.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, b) => {
      s"""
         |${ev.value} = graft.functions.ExprHelpers.resolveIriOrNull($v, $b);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): ResolveIri =
    copy(left = l, right = r)
}

/** Column-API surface + SQL registration. */
object GraftFunctions {
  import org.apache.spark.sql.GraftSqlBridge.{column, expression}
  def fmix64(c: Column): Column = column(Fmix64(expression(c)))
  def fnv1a64(c: Column): Column = column(Fnv1a64(expression(c)))
  def minhash_sig(c: Column): Column = column(MinHashSig(expression(c)))
  def simhash64(c: Column): Column = column(SimHash64(expression(c)))
  def dot_f64(a: Column, b: Column): Column = column(DotF64(expression(a), expression(b)))
  def sq_l2_f64(a: Column, b: Column): Column = column(SqL2F64(expression(a), expression(b)))
  def argmax_cos(e: Column, n: Column, cents: Column, cnorms: Column): Column =
    column(ArgMaxCos(expression(e), expression(n), expression(cents), expression(cnorms)))
  def argmin_sql2(v: Column, cents: Column): Column =
    column(ArgMinSqL2(expression(v), expression(cents)))
  def word_shingles(c: Column, n: Int): Column = column(WordShingles(expression(c), n))
  def char_shingles(c: Column, n: Int): Column = column(CharShingles(expression(c), n))
  def word_gram_hashes(c: Column, n: Int): Column = column(WordGramHashes(expression(c), n))
  def resolve_iri(v: Column, base: Column): Column =
    column(ResolveIri(expression(v), expression(base)))
  def bpe_count(c: Column, vocab: Seq[String] = Subword.DefaultVocab): Column =
    column(BpeCount(expression(c), vocab))

  /** Every SQL name with its expression class and builder: [[register]]
    * and [[GraftExtensions]] both register this one table. */
  private[functions] val SqlFunctions: Seq[(String, Class[_ <: Expression], Seq[Expression] => Expression)] =
    Seq(
      ("fmix64", classOf[Fmix64], es => Fmix64(es.head)),
      ("fnv1a64", classOf[Fnv1a64], es => Fnv1a64(es.head)),
      ("minhash_sig", classOf[MinHashSig], es => MinHashSig(es.head)),
      ("simhash64", classOf[SimHash64], es => SimHash64(es.head)),
      ("dot_f64", classOf[DotF64], es => DotF64(es.head, es(1))),
      ("sq_l2_f64", classOf[SqL2F64], es => SqL2F64(es.head, es(1))),
      ("argmax_cos", classOf[ArgMaxCos], es => ArgMaxCos(es.head, es(1), es(2), es(3))),
      ("argmin_sql2", classOf[ArgMinSqL2], es => ArgMinSqL2(es.head, es(1))),
      ("resolve_iri", classOf[ResolveIri], es => ResolveIri(es.head, es(1))),
      ("word_shingles", classOf[WordShingles], es => WordShingles(es.head, litInt(es(1), "word_shingles"))),
      ("char_shingles", classOf[CharShingles], es => CharShingles(es.head, litInt(es(1), "char_shingles"))),
      ("word_gram_hashes", classOf[WordGramHashes],
        es => WordGramHashes(es.head, litInt(es(1), "word_gram_hashes"))),
      ("bpe_count", classOf[BpeCount], es => BpeCount(es.head, Subword.DefaultVocab)))

  /** Register the SQL names on a session (the non-extensions path). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    SqlFunctions.foreach { case (name, _, builder) =>
      org.apache.spark.sql.GraftSqlBridge.registerTemp(spark, name, builder)
    }

  /** The shingle widths are plan-time constants: require a foldable int. */
  private[functions] def litInt(e: Expression, fn: String): Int = {
    if (!e.foldable) throw new IllegalArgumentException(s"$fn: n must be a literal integer")
    e.eval() match {
      case i: Int => i
      case other => throw new IllegalArgumentException(s"$fn: n must be an integer, got $other")
    }
  }
}

/** SparkSessionExtensions hook: `.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.functions.GraftExtensions`. */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
  def apply(e: org.apache.spark.sql.SparkSessionExtensions): Unit =
    GraftFunctions.SqlFunctions.foreach { case (name, cls, builder) =>
      e.injectFunction((FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), builder))
    }
}
