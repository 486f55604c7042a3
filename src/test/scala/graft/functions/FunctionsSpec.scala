package graft.functions

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.pipeline.{Linking, SparkSuite}

/** Native Catalyst expressions: interpreted eval ≡ codegen path ≡ the pure
  * Scala mirrors, SQL registration, and null semantics. */
class FunctionsSpec extends SparkSuite {

  test("fnv1a64/fmix64 interpreted eval matches the pure-Scala mirrors") {
    for (s <- Seq("", "a", "Supplier#000000003", "üñïçødé")) {
      val got = Fnv1a64(Literal(UTF8String.fromString(s), org.apache.spark.sql.types.StringType)).eval(null)
      assert(got == Linking.fnv1a(s), s"fnv1a64($s)")
    }
    for (x <- Seq(0L, 1L, -1L, Long.MinValue, Long.MaxValue, 0x9E3779B97F4A7C15L)) {
      assert(Fmix64(Literal(x)).eval(null) == Linking.fmix64(x), s"fmix64($x)")
    }
  }

  test("codegen path (DataFrame) matches interpreted eval and the Scala mirrors") {
    import spark.implicits._
    import GraftFunctions._
    val rows = Seq("abc", "Supplier#3", "").toDF("s")
      .select(col("s"), fnv1a64(col("s")).as("h"))
      .select(col("s"), col("h"), fmix64(col("h")).as("m"))
      .as[(String, Long, Long)].collect()
    rows.foreach { case (s, h, m) =>
      assert(h == Linking.fnv1a(s))
      assert(m == Linking.fmix64(h))
    }
  }

  test("resolve_iri: reference R20 golden behaviors, null on unresolvable") {
    import spark.implicits._
    import GraftFunctions._
    val cases = Seq(
      ("abc", "http://base.org/"),
      ("#abc", "http://base.org/"),
      ("//abc", "http://base.org/"),
      ("xyz", "http://aa/parent/parent/../../a"),
      ("", "http://base.org/"),
      ("abc", "def"), // invalid base → null
      ("abc", ""), // relative without base → null
    ).toDF("v", "b")
    val got = cases.select(col("v"), col("b"), resolve_iri(col("v"), col("b")).as("r"))
      .as[(String, String, Option[String])].collect().toSeq
    def oracle(v: String, b: String): Option[String] =
      try Some(graft.rdf.IriResolver.resolve(v, b))
      catch { case _: graft.rdf.IriResolver.IriResolutionError => None }
    got.foreach { case (v, b, r) => assert(r == oracle(v, b), s"resolve_iri($v, $b)") }
    assert(got.collect { case (_, _, None) => 1 }.sum == 2)
  }

  test("expressions are foldable: Catalyst constant-folds literal arguments") {
    import GraftFunctions._
    // range (not a local Seq) so ConvertToLocalRelation doesn't collapse the
    // whole plan and we can see the folded literal in the Project
    val df = spark.range(1).select(resolve_iri(lit("abc"), lit("http://b.org/")).as("r"))
    val optimized = df.queryExecution.optimizedPlan.toString
    // the whole call collapsed to a literal — no ResolveIri node survives
    assert(optimized.contains("http://b.org/abc"), optimized)
    assert(!optimized.contains("resolve_iri") && !optimized.contains("ResolveIri"), optimized)
  }

  test("type checks: NULL literals pass analysis and evaluate to NULL; mistyped calls fail at analysis") {
    GraftFunctions.register(spark)
    // NULL literal (NullType child) is admitted like Spark builtins and
    // null-propagates — previously-working behavior the new checks must keep
    val nulls = spark.sql(
      "SELECT fnv1a64(NULL) a, simhash64(NULL) b, fmix64(NULL) c, minhash_sig(NULL) d, dot_f64(NULL, NULL) e").head()
    assert((0 until 5).forall(nulls.isNullAt))
    // fmix64 admits sub-long integrals with codegen/interpreted agreement
    assert(spark.sql("SELECT fmix64(CAST(7 AS INT))").head().getLong(0) ==
      graft.pipeline.Linking.fmix64(7L))
    // mistyped calls die in the ANALYZER with a readable message, not as a
    // janino compile error + interpreted ClassCastException mid-job
    for (bad <- Seq("minhash_sig('text')", "simhash64(42)", "fmix64('s')", "word_shingles(1, 3)")) {
      val e = intercept[Exception](spark.sql(s"SELECT $bad").head())
      assert(e.getMessage.contains("requires"), s"$bad: ${e.getMessage}")
    }
  }

  test("fmix64(NULL literal) generated code compiles — no whole-stage fallback (r3 ADVICE)") {
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.types.NullType
    // Direct codegen: before the fix this emitted `long z = null;` (a Java
    // compile error) and generate() threw, which in a real stage means the
    // whole stage silently drops out of codegen.
    val proj = GenerateUnsafeProjection.generate(Seq(Fmix64(Literal(null, NullType))))
    assert(proj(InternalRow.empty).isNullAt(0))
    // end-to-end over range-backed input (ConvertToLocalRelation would fold
    // a local Seq): result is NULL per null-propagation
    import GraftFunctions._
    val got = spark.range(3).select(fmix64(lit(null)).as("m")).collect()
    assert(got.length == 3 && got.forall(_.isNullAt(0)))
  }

  test("SQL registration: register() exposes the functions to spark.sql") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT fnv1a64('abc') AS h, fmix64(7L) AS m, resolve_iri('x', 'http://b.org/') AS r")
      .collect().head
    assert(r.getLong(0) == Linking.fnv1a("abc"))
    assert(r.getLong(1) == Linking.fmix64(7L))
    assert(r.getString(2) == "http://b.org/x")
  }

  test("GraftExtensions injects the same builders (extensions path)") {
    val e = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(e)
    // Drive the injected builders through a registry: names resolve and
    // the built expression evaluates.
    val fns = org.apache.spark.sql.GraftSqlBridge.applyFunctionExtensions(e)
    // Every name register() gives a session resolves through the
    // extensions too, and the extensions add no other.
    val session = spark.newSession()
    def names() = session.catalog.listFunctions().collect().map(_.name).toSet
    val before = names()
    GraftFunctions.register(session)
    val registered = names() -- before
    val builtin = org.apache.spark.sql.catalyst.analysis.FunctionRegistry.builtin.listFunction().toSet
    val injected = fns.listFunction().filterNot(builtin).map(_.funcName).toSet
    assert(registered.size == 13, registered)
    assert(injected == registered, s"only registered: ${registered -- injected}; only injected: ${injected -- registered}")
    registered.foreach { name =>
      assert(fns.lookupFunction(org.apache.spark.sql.catalyst.FunctionIdentifier(name)).isDefined, name)
    }
    val expr = fns.lookupFunction(
      org.apache.spark.sql.catalyst.FunctionIdentifier("fnv1a64"),
      Seq(Literal(UTF8String.fromString("abc"), org.apache.spark.sql.types.StringType)))
    assert(expr.eval(null) == Linking.fnv1a("abc"))
  }
}
