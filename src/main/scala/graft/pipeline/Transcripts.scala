package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Deterministic synthesis of the Iceberg-shaped transcript table
  * (BASELINE.json input_hint: conv_id, turn_idx, role, text, tool, ts) from
  * the driver-provided `documents` parquet. Every value is a pure function
  * of `doc_id`/`lang`/`source`/`n_chars`, so a DuckDB oracle can reproduce
  * the expected parse output with plain SQL over the same parquet — that is
  * the correctness gate for the whole parse pipeline.
  *
  * Each document yields two turns in conversation `conv-{doc_id % 64}`:
  *   - turn 2k   (role by doc_id%3): an RDF/XML payload, template
  *     `doc_id % 4` (typed nodes / xml:lang+reification / parseType=Resource
  *     / parseType=Collection — reference features R6-R16 from SURVEY §2.1);
  *   - turn 2k+1 (role "tool"): prose embedding TPC-H-style entity mentions
  *     for the NER → linking stages.
  * where k = rank of doc_id within its conversation.
  */
object Transcripts {

  val Base = "http://graft.dev/doc/"
  val Voc = "http://graft.dev/voc#"
  val RdfNs = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
  val XsdInt = "http://www.w3.org/2001/XMLSchema#integer"

  /** Number of conversations the corpus folds into. */
  val Convs = 64

  def documents(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/documents.parquet")

  /** Every 65th document (`doc_id % 65 == 63`) is deliberately MALFORMED —
    * an unclosed property element, so the parser raises "Mismatched closing
    * tag" — giving the error channel (R28) a deterministic non-zero count
    * that the driver's oracle gate pins end-to-end (`kg_parse_errors` = the
    * same modular rule in SQL), not just spec-level coverage on a clean
    * corpus. The modulus is COPRIME to both the conversation fold (64) and
    * the template cycle (4): errors land interleaved with clean turns across
    * many different conversations and hit all four templates — a modulus of
    * 64 would have concentrated every error in conv-63 and template v3,
    * leaving mixed clean/error conversations untested. */
  val MalformedMod = 65
  val MalformedRem = 63

  /** The seeded CELEBRITY document (r4 verdict "Next round" #1): present at
    * every scale factor (doc_ids start at 0), it injects deterministic skew
    * so every celebrity/bucket cap in the pipeline provably EXCLUDES rows
    * under the driver's hash gate at every sf — not just in specs:
    *
    *  - its prose turn appends [[HubMentions]] distinct "binary" supplier
    *    mentions `Supplier#1 0^a 1 0^b 1` (a, b >= 3). Every such string has
    *    the IDENTICAL 13-element character-3-gram shingle set
    *    {sup,upp,ppl,pli,lie,ier,er#,r#1,#10,100,000,001,010}, so all 1030
    *    share one MinHash signature → one LSH bucket per band with 1030 >
    *    Linking.DefaultMaxBucketSize (1024) members (bucket cap fires);
    *    conv-11 carries > 256 distinct mentions (the co-occurrence group
    *    cap fires); and each of the 13 shingles lands in > 1000 mentions
    *    (the shingle-DF cap fires, so the binary mentions have EMPTY
    *    discriminating shingle sets — deliberately: a 1030-clique of
    *    Jaccard-1.0 edges would explode the exact-path queries instead).
    *  - its RDF/XML turn is the HUB template: node `hub` with [[HubFanout]]
    *    `g:ref` out-edges (> the 2-hop celebrity cut of 1024) plus one
    *    in-edge d11 → hub, so kg_2hop's mid-node cap fires.
    *
    * The same modular/equality rules are re-derived in every affected
    * DuckDB oracle; `kg_cap_fired` hash-pins the four exclusion counts. */
  val HubDoc = 11L

  /** Binary-mention count: > Linking.DefaultMaxBucketSize (1024). */
  val HubMentions = 1030

  /** Zero-run width grid for the binary mentions: mention i has
    * a = 3 + i % HubWidth leading-run zeros and b = 3 + i / HubWidth
    * trailing-run zeros — a bijection for i < HubWidth², so all
    * [[HubMentions]] strings are distinct. */
  val HubWidth = 32

  /** Hub node out-fanout: > GraphAnalytics.twoHopCounts maxMidOut (1024). */
  val HubFanout = 1030

  /** The 1030 binary mentions, space-joined, as a Spark SQL expression (the
    * DuckDB mirror is SparkEntry.hubMentionsSql — same arithmetic, so the
    * strings are byte-identical by construction). */
  private[graft] def hubMentionsExpr = expr(
    s"""array_join(transform(sequence(0, ${HubMentions - 1}),
      i -> concat('Supplier#1', repeat('0', cast(3 + i % $HubWidth as int)), '1',
                  repeat('0', cast(3 + i div $HubWidth as int)), '1')), ' ')""")

  /** The four RDF/XML templates as Spark SQL `concat` column expressions.
    * Single-line documents: whitespace-text handling is covered by the
    * kernel suite; here byte-determinism is what matters.
    */
  private def rdfXmlText = {
    val head = s"""<?xml version="1.0"?><rdf:RDF xmlns:rdf="$RdfNs" xmlns:g="$Voc" xml:base="$Base">"""
    val tail = "</rdf:RDF>"
    val v0 = concat(
      lit(head),
      lit("""<g:Document rdf:about="d"""), col("doc_id"), lit("""" g:source=""""), col("source"),
      lit(""""><g:lang>"""), col("lang"), lit("""</g:lang><g:chars rdf:datatype="""),
      lit("\"" + XsdInt + "\">"), col("n_chars"),
      lit("""</g:chars><g:corpus rdf:resource="corpus/"""), col("source"), lit(""""/></g:Document>"""),
      lit(tail))
    val v1 = concat(
      lit(head),
      lit("""<g:Entry rdf:about="d"""), col("doc_id"),
      lit(""""><g:title xml:lang=""""), col("lang"), lit("""">Document """), col("doc_id"),
      lit("""</g:title><g:src rdf:ID="st"""), col("doc_id"),
      lit("""" rdf:resource="corpus/"""), col("source"), lit(""""/></g:Entry>"""),
      lit(tail))
    val v2 = concat(
      lit(head),
      lit("""<rdf:Description rdf:about="d"""), col("doc_id"),
      lit(""""><g:meta rdf:parseType="Resource"><g:chars>"""), col("n_chars"),
      lit("""</g:chars><g:source>"""), col("source"),
      lit("""</g:source></g:meta></rdf:Description>"""),
      lit(tail))
    val v3 = concat(
      lit(head),
      lit("""<rdf:Description rdf:about="d"""), col("doc_id"),
      lit(""""><g:tags rdf:parseType="Collection"><rdf:Description rdf:about="t/"""), col("lang"),
      lit(""""/><rdf:Description rdf:about="t/"""), col("source"),
      lit(""""/></g:tags></rdf:Description>"""),
      lit(tail))
    val vErr = concat(
      lit(head),
      lit("""<rdf:Description rdf:about="d"""), col("doc_id"),
      lit(""""><g:broken>unclosed"""),
      lit(tail))
    // The celebrity-hub template (doc 11 only — see HubDoc): d11 → hub plus
    // HubFanout hub → h/i out-edges, so one graph node exceeds the 2-hop
    // celebrity cut at every sf.
    val vHub = concat(
      lit(head),
      lit("""<rdf:Description rdf:about="d"""), col("doc_id"),
      lit(""""><g:hub rdf:resource="hub"/></rdf:Description><rdf:Description rdf:about="hub">"""),
      expr(s"""array_join(transform(sequence(0, ${HubFanout - 1}),
        i -> concat('<g:ref rdf:resource="h/', cast(i as string), '"/>')), '')"""),
      lit("</rdf:Description>"),
      lit(tail))
    when(col("doc_id") % MalformedMod === MalformedRem, vErr)
      .when(col("doc_id") === HubDoc, vHub)
      .when(col("doc_id") % 4 === 0, v0)
      .when(col("doc_id") % 4 === 1, v1)
      .when(col("doc_id") % 4 === 2, v2)
      .otherwise(v3)
  }

  /** Prose turn text: deterministic entity mentions + the raw document
    * text. Mentions alternate between full and short forms of the same
    * entity so linking has real work to do; a capitalized multi-word span
    * ("Agent <Lang> <Source>") feeds the general NER path (kg_cap_spans). */
  private def proseText = concat(
    lit("Agent "),
    upper(substring(col("lang"), 1, 1)), expr("substr(lang, 2)"), lit(" "),
    upper(substring(col("source"), 1, 1)), expr("substr(source, 2)"),
    lit(" notes. "),
    lit("Customer#"), lpad((col("doc_id") % 50).cast("string"), 9, "0"),
    lit(" reported an issue. "),
    when(col("doc_id") % 2 === 0,
      concat(lit("Supplier#"), lpad((col("doc_id") % 10).cast("string"), 9, "0"), lit(" replied. ")))
      .otherwise(concat(lit("Supplier#"), (col("doc_id") % 10).cast("string"), lit(" replied. "))),
    // the celebrity burst (HubDoc only): 1030 distinct identical-shingle-set
    // mentions — the seeded skew every downstream cap must survive
    when(col("doc_id") === HubDoc, concat(hubMentionsExpr, lit(" "))).otherwise(lit("")),
    col("text"))

  /** Shared scan + conversation-rank base of every transcript surface.
    * `needText` = false drops the raw document text BEFORE the rank
    * window's exchange: the RDF/XML templates are pure functions of
    * (doc_id, lang, source, n_chars), so payload-only consumers (the whole
    * parse family) neither read the text column from parquet (ReadSchema
    * shrinks) nor shuffle it through the window — the optimization guide's
    * "shuffle keys and metadata instead of payloads" applied to the
    * corpus's one wide column. */
  private def withConv(docs: DataFrame, needText: Boolean): DataFrame = {
    val cols =
      if (needText) Seq("doc_id", "text", "lang", "source", "n_chars")
      else Seq("doc_id", "lang", "source", "n_chars")
    docs
      .select(cols.map(col): _*)
      .withColumn("conv_id", concat(lit("conv-"), (col("doc_id") % Convs).cast("string")))
      .withColumn("rn",
        row_number().over(Window.partitionBy(col("doc_id") % Convs).orderBy("doc_id")) - 1)
  }

  private def rdfRole = when(col("doc_id") % 3 === 0, "user")
    .when(col("doc_id") % 3 === 1, "assistant")
    .otherwise("tool")

  // 2026-01-01T00:00:00Z epoch seconds; cast(bigint as timestamp) is UTC.
  private val epoch = lit(1767225600L)

  /** The even payload turn's five columns, over a [[withConv]] row. */
  private def payloadCols: Seq[Column] = Seq(
    (col("rn") * 2).cast("int").as("turn_idx"),
    rdfRole.as("role"),
    rdfXmlText.as("text"),
    when(col("doc_id") % 3 === 2, "kg-extractor").otherwise(null).as("tool"),
    (epoch + col("doc_id") * 2).cast("timestamp").as("ts"))

  /** The odd prose turn's five columns, in the same order. */
  private def proseCols: Seq[Column] = Seq(
    (col("rn") * 2 + 1).cast("int").as("turn_idx"),
    lit("tool").as("role"),
    proseText.as("text"),
    lit("search").as("tool"),
    (epoch + col("doc_id") * 2 + 1).cast("timestamp").as("ts"))

  /** The even-turn RDF/XML payloads — EXACTLY
    * `transcripts(...).filter(turn_idx % 2 = 0)` by construction
    * (turn_idx = 2·rn is structurally even, the prose turn 2·rn+1 odd, for
    * ANY input corpus — RestructureEquivalenceSpec pins the equality). Emitting
    * the single branch directly spares the parse family the generation of
    * the prose turns it would discard, and (via `needText = false`) the
    * scan + shuffle of the raw text column those turns embed. */
  def payloadTurns(spark: SparkSession, sfDir: String): DataFrame =
    payloadTurns(documents(spark, sfDir))

  /** [[payloadTurns]] over an already-read [[documents]] frame: a caller
    * that derives both surfaces from one frame infers the parquet schema
    * once (each `spark.read.parquet` runs its own schema-inference job). */
  def payloadTurns(docs: DataFrame): DataFrame =
    withConv(docs, needText = false)
      .select((col("conv_id") +: payloadCols) :+ col("doc_id"): _*)

  /** The odd-turn prose mirror of [[payloadTurns]] — exactly
    * `transcripts(...).filter(turn_idx % 2 = 1)` (same structural parity
    * argument, same spec pin). */
  def proseTurns(spark: SparkSession, sfDir: String): DataFrame =
    proseTurns(documents(spark, sfDir))

  /** [[proseTurns]] over an already-read [[documents]] frame. */
  def proseTurns(docs: DataFrame): DataFrame =
    withConv(docs, needText = true)
      .select((col("conv_id") +: proseCols) :+ col("doc_id"): _*)

  /** The transcript table. Deterministic; schema matches input_hint.
    * Both turns of a document are generated from ONE base row via a 2-way
    * inline explode: the previous `rdfTurns.unionAll(proseTurns)` planned
    * two full scan + rank-window subtrees (the documents scan and the
    * conversation-rank exchange both ran twice per consumer); the explode
    * keeps one scan and one window at identical output rows. */
  def transcripts(spark: SparkSession, sfDir: String): DataFrame =
    withConv(documents(spark, sfDir), needText = true)
      .select(col("conv_id"), col("doc_id"),
        explode(array(struct(payloadCols: _*), struct(proseCols: _*))).as("t"))
      .select(col("conv_id"), col("t.*"), col("doc_id"))
}
