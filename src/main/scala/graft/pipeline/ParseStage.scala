package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.rdf._

/** One parsed-triple output row: the `(conv_id, turn_idx)` lineage, then
  * the columns of [[graft.rdf.TripleColumns]] (term text, the decomposed
  * object and the per-document error channel). Blank nodes are named by
  * [[graft.rdf.BlankNodeLabels.forTurn]] as the parser creates them, e.g.
  * `_:c1_0_1` for the first anonymous node of turn 0 of `c1` (P4): labels
  * are globally unique, which is what lets downstream stages treat triples
  * as plain strings.
  */
final case class TripleRow(
    conv_id: String,
    turn_idx: Int,
    subj: String,
    pred: String,
    obj: String,
    obj_type: String,
    lexical: String,
    datatype: String,
    lang: String,
    error: String,
)

final case class TurnSlim(conv_id: String, turn_idx: Int, text: String)

object ParseStage {

  /** P2: conversation reconstruction under stable (conv_id, turn_idx)
    * order. The window asserts density (turn_idx == row_number-1 within the
    * conversation ordered by turn_idx, ties broken by ts) — rows that
    * violate it surface in the `dense` flag rather than silently reordering.
    */
  def reconstructConversations(turns: DataFrame): DataFrame = {
    val w = Window.partitionBy("conv_id").orderBy("turn_idx", "ts")
    turns
      .withColumn("turn_rank", row_number().over(w) - 1)
      .withColumn("dense", col("turn_rank") === col("turn_idx"))
  }

  /** One turn's rows: its whole text is one write, so every row is ready
    * once the document has ended. */
  private def toRows(conv: String, turn: Int, text: String, opts: ParserOptions): Iterator[TripleRow] = {
    val doc = new TripleColumns.Document(opts.copy(blankNodeLabel = BlankNodeLabels.forTurn(conv, turn)))
    doc.write(text)
    doc.end()
    Iterator.continually(doc).takeWhile(_.next()).map(d =>
      TripleRow(conv, turn, d.value(0), d.value(1), d.value(2), d.value(3),
        d.value(4), d.value(5), d.value(6), d.value(7)))
  }

  /** P3: the per-turn parse. Column pruning is done *manually* before the
    * opaque typed map (Catalyst cannot prune across `mapPartitions` — the
    * one rewrite that matters most at 10^12 rows, SURVEY §4.2), and there is
    * deliberately NO shuffle here: each turn is a self-contained document,
    * so parse scales embarrassingly with input splits. Conversation-level
    * ordering (P2) is a separate operator for the consumers that need it.
    */
  def parseTurns(turns: DataFrame, opts: ParserOptions = ParserOptions()): Dataset[TripleRow] = {
    val spark = turns.sparkSession
    import spark.implicits._
    turns
      .select(col("conv_id"), col("turn_idx"), col("text"))
      .as[TurnSlim]
      .mapPartitions { it =>
        it.flatMap(t => toRows(t.conv_id, t.turn_idx, t.text, opts))
      }
  }

  /** Quad view: triples + the constant `graph` column from
    * `ParserOptions.defaultGraph` (reference `lib/RdfXmlParser.ts:761`;
    * custom default graph pinned at test:1189-1201). A literal column keeps
    * Catalyst free to constant-fold it, vs. threading a 4th term through
    * the parse kernel. */
  def parseQuads(turns: DataFrame, opts: ParserOptions = ParserOptions()): DataFrame =
    parseTurns(turns, opts)
      .withColumn("graph", if (opts.defaultGraph.isEmpty) lit(null: String) else lit(opts.defaultGraph))

  /** Parse only the RDF/XML turns of the synthesized transcripts: the
    * even-turn payloads, emitted directly by `Transcripts.payloadTurns`,
    * the one place that holds the payload/prose turn-parity rule. */
  def parsedTranscripts(spark: SparkSession, sfDir: String): Dataset[TripleRow] =
    parseTurns(Transcripts.payloadTurns(spark, sfDir))

  /** [[parsedTranscripts]] through the quads surface — same payload-turn
    * selection, with the graph column from `opts.defaultGraph`. */
  def parsedQuadTranscripts(spark: SparkSession, sfDir: String,
                            opts: ParserOptions): DataFrame =
    parseQuads(Transcripts.payloadTurns(spark, sfDir), opts)
}
