package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.rdf._

/** One parsed-triple output row. Terms are carried in canonical N-Triples
  * text (`subj`/`pred`/`obj`) plus decomposed object fields for relational
  * work; `error` is the per-document error channel (a bad document becomes
  * one error row, never a task failure — reference semantics R28,
  * `lib/ParseError.ts:7-12`). Blank nodes are relabeled
  * `_:{conv_id}_{turn_idx}_{label}` (P4): per-document isomorphism is
  * preserved while labels become globally unique, which is what lets
  * downstream stages treat triples as plain strings.
  */
final case class TripleRow(
    conv_id: String,
    turn_idx: Int,
    subj: String,
    pred: String,
    obj: String,
    obj_type: String, // iri | bnode | literal | triple
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

  private[pipeline] def toRows(conv: String, turn: Int, parsed: Either[ParseError, Vector[Triple]]): Iterator[TripleRow] =
    parsed match {
      case Left(e) =>
        Iterator(TripleRow(conv, turn, null, null, null, "error", null, null, null, e.message))
      case Right(ts) =>
        // P4: canonical bnode relabel `_:{conv}_{turn}_bN` (shared impl —
        // see graft.rdf.Relabeler)
        val relabel = new Relabeler(s"${conv}_${turn}_")
        ts.iterator.map { t0 =>
          val t = relabel(t0)
          val (oty, lex, dt, lang) = t.obj match {
            case Lit(l, d, la, _) => ("literal", l, d, la)
            case Iri(_)           => ("iri", null, null, null)
            case BNode(_)         => ("bnode", null, null, null)
            case TripleTerm(_)    => ("triple", null, null, null)
          }
          TripleRow(conv, turn, t.subj.ntriples, t.pred.ntriples, t.obj.ntriples, oty, lex, dt, lang, null)
        }
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
        it.flatMap { t => toRows(t.conv_id, t.turn_idx, RdfXmlParser.parse(t.text, opts)) }
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
