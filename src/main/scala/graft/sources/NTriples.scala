package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.rdf.TripleColumns.{BNodeType, ErrorType, IriType, LiteralType, TripleType}

/** N-Triples / N-Quads SOURCE — the read half of `Materialize.ntriples` /
  * `.nquads` (and of any standard N-Triples dump): lines → rows carrying the
  * same canonical term TEXT the rest of the pipeline uses in its `subj` /
  * `pred` / `obj` columns, PLUS the decomposed object fields
  * (`obj_type`/`lexical`/`datatype`/`lang`) the rdfxml source and the parse
  * stage emit — so a dump read through this source drops into every
  * downstream relational operator without re-tokenizing terms. A sink →
  * source round trip is the identity on the term columns.
  *
  * Scale shape: built on Spark's line-splittable text reader — a 100 TB dump
  * scans at full partition parallelism with no custom connector needed — and
  * the per-line scanner runs inside `mapPartitions` exactly like the RDF/XML
  * parse stage (manual column pruning is moot: text has one column).
  * Malformed lines go to the `error` column instead of killing the task
  * (same error-channel contract as the rdfxml source, reference R28).
  *
  * Streaming ([[stream]]) reuses Spark's built-in text FileStreamSource:
  * N-Triples lines are independent, so the built-in source gives a durable
  * file log, exactly-once replay and `maxFilesPerTrigger` while keeping
  * within-file split parallelism.
  */
object NTriples {

  /** Row: file lineage + term texts + decomposed object fields, or `error`
    * for an unparseable line (terms null, obj_type "error" — the same
    * convention as [[graft.pipeline.TripleRow]]). `path` mirrors the rdfxml
    * source's lineage column (which dump a row came from — at corpus scale
    * the provenance column every downstream audit joins on). */
  final case class NtRow(path: String, subj: String, pred: String, obj: String,
      obj_type: String, lexical: String, datatype: String, lang: String,
      graph: String, error: String)

  /** Read an N-Triples dump: columns (path, subj, pred, obj, obj_type,
    * lexical, datatype, lang, error). */
  def read(spark: SparkSession, path: String): DataFrame =
    lines(spark.read.text(path), maxTerms = 3).drop("graph")

  /** Read an N-Quads dump: columns (path, subj, pred, obj, obj_type,
    * lexical, datatype, lang, graph, error); `graph` is null for
    * default-graph lines (3 terms). */
  def readQuads(spark: SparkSession, path: String): DataFrame =
    lines(spark.read.text(path), maxTerms = 4)

  private def lines(text: DataFrame, maxTerms: Int): DataFrame = {
    val spark = text.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, input_file_name}
    text.select(col("value"), input_file_name().as("p")).as[(String, String)]
      .mapPartitions(_.flatMap { case (line, p) => parseLine(line, maxTerms, p) })
      .toDF()
  }

  /** `readStream` surface for a directory of N-Triples dumps: Spark's text
    * FileStreamSource (durable file log under the checkpoint, exactly-once
    * replay, `Trigger.AvailableNow` supported) feeding the same per-line
    * scanner as [[read]]. `maxFilesPerTrigger` > 0 bounds files admitted per
    * micro-batch (backlog drains in bounded batches). */
  def stream(spark: SparkSession, path: String, maxFilesPerTrigger: Int = 0): DataFrame = {
    val reader = spark.readStream
    if (maxFilesPerTrigger > 0) reader.option("maxFilesPerTrigger", maxFilesPerTrigger)
    lines(reader.text(path), maxTerms = 3).drop("graph")
  }

  /** Tokenize one line into its term texts. None = nothing to emit (blank or
    * comment line). Term boundaries respect quoted literals (escape-aware),
    * IRI brackets, and nested RDF 1.2 triple terms (`<<( … )>>` — the
    * canonical rendering `graft.rdf.TripleTerm.ntriples` produces, which
    * contains spaces). */
  private[sources] def parseLine(line: String, maxTerms: Int, path: String = null): Option[NtRow] = {
    var i = 0
    val n = line.length
    def skipWs(): Unit = { while (i < n && (line.charAt(i) == ' ' || line.charAt(i) == '\t')) i += 1 }
    def err(msg: String): Option[NtRow] =
      Some(NtRow(path, null, null, null, ErrorType, null, null, null, null, s"$msg: ${line.take(160)}"))
    // Is the '.' at `pos` the statement terminator (followed only by
    // whitespace and/or a '#' comment)? Needed because blank-node labels and
    // language tags may be followed DIRECTLY by the terminating dot in the
    // W3C grammar (`_:b0.` / `"x"@en.`) while '.' is also a legal interior
    // character of a blank-node label (`_:a.b`).
    def isTerminatorDot(pos: Int): Boolean = {
      if (line.charAt(pos) != '.') return false
      var j = pos + 1
      while (j < n && (line.charAt(j) == ' ' || line.charAt(j) == '\t')) j += 1
      j >= n || line.charAt(j) == '#'
    }

    skipWs()
    if (i >= n || line.charAt(i) == '#') return None // blank or comment line

    val terms = scala.collection.mutable.ArrayBuffer.empty[String]
    while (i < n && line.charAt(i) != '.' && terms.length <= maxTerms) {
      val start = i
      line.charAt(i) match {
        case '<' if i + 2 < n && line.charAt(i + 1) == '<' && line.charAt(i + 2) == '(' =>
          // nested triple term: scan to the matching ')>>', skipping quoted
          // literals wholesale (a literal's raw text may contain ')>>')
          var depth = 0
          var closed = false
          while (i < n && !closed) {
            val c = line.charAt(i)
            if (c == '"') {
              i += 1
              var done = false
              while (i < n && !done) {
                val d = line.charAt(i)
                if (d == '\\') i += 2
                else { if (d == '"') done = true; i += 1 }
              }
            }
            else if (line.startsWith("<<(", i)) { depth += 1; i += 3 }
            else if (line.startsWith(")>>", i)) { depth -= 1; i += 3; closed = depth == 0 }
            else i += 1
          }
          if (!closed) return err("Unterminated triple term")
        case '<' =>
          val close = line.indexOf('>', i)
          if (close < 0) return err("Unterminated IRI")
          i = close + 1
        case '"' =>
          i += 1
          var closed = false
          while (i < n && !closed) {
            val c = line.charAt(i)
            if (c == '\\') i += 2
            else if (c == '"') { closed = true; i += 1 }
            else i += 1
          }
          if (!closed) return err("Unterminated literal")
          // language tag / direction / datatype suffix: @en, @en--ltr, ^^<dt>.
          // Whitespace between terms is OPTIONAL in the W3C grammar: the tag
          // also ends at a following term's opening '<'/'"' (tag chars are
          // only [a-zA-Z0-9-]), not just at whitespace or the terminator.
          if (i < n && line.charAt(i) == '@') {
            while (i < n && line.charAt(i) != ' ' && line.charAt(i) != '\t' &&
              line.charAt(i) != '<' && line.charAt(i) != '"' && !isTerminatorDot(i)) i += 1
          } else if (i + 1 < n && line.charAt(i) == '^' && line.charAt(i + 1) == '^') {
            i += 2
            if (i >= n || line.charAt(i) != '<') return err("Malformed datatype suffix")
            val close = line.indexOf('>', i)
            if (close < 0) return err("Unterminated datatype IRI")
            i = close + 1
          }
        case '_' =>
          // a blank-node label never contains '<' or '"' — stopping there
          // accepts the grammar's optional inter-term whitespace
          while (i < n && line.charAt(i) != ' ' && line.charAt(i) != '\t' &&
            line.charAt(i) != '<' && line.charAt(i) != '"' && !isTerminatorDot(i)) i += 1
        case _ =>
          return err("Unexpected term start")
      }
      terms += line.substring(start, i)
      skipWs()
    }
    if (i >= n || line.charAt(i) != '.') return err("Missing terminating '.'")
    i += 1
    skipWs()
    if (i < n && line.charAt(i) != '#') return err("Trailing content after '.'")
    if (terms.length < 3 || terms.length > maxTerms)
      return err(s"Expected 3${if (maxTerms == 4) " or 4" else ""} terms, got ${terms.length}")
    val (oty, lex, dt, lang) = decomposeObject(terms(2)) match {
      case Right(d) => d
      case Left(msg) => return err(msg)
    }
    Some(NtRow(path, terms(0), terms(1), terms(2), oty, lex, dt, lang,
      if (terms.length == 4) terms(3) else null, null))
  }

  /** Decompose a scanned object term into (obj_type, lexical, datatype,
    * lang), the text-side inverse of [[graft.rdf.TripleColumns]]: `lexical`
    * is the UNESCAPED literal value, `datatype` the bare datatype IRI,
    * `lang` the language tag WITHOUT the RDF 1.2 `--dir` suffix (direction
    * stays visible in the canonical `obj` text, exactly as in the rdfxml
    * source's rows). The term text was already boundary-validated by the
    * caller's scan. */
  private[sources] def decomposeObject(obj: String): Either[String, (String, String, String, String)] =
    if (obj.startsWith("<<(")) Right((TripleType, null, null, null))
    else if (obj.startsWith("<")) Right((IriType, null, null, null))
    else if (obj.startsWith("_:")) Right((BNodeType, null, null, null))
    else {
      // literal: find the escape-aware closing quote
      var i = 1
      var close = -1
      while (i < obj.length && close < 0) {
        val c = obj.charAt(i)
        if (c == '\\') i += 2
        else { if (c == '"') close = i; i += 1 }
      }
      if (close < 0) return Left("Unterminated literal")
      unescape(obj.substring(1, close)).flatMap { lex =>
        val suffix = obj.substring(close + 1)
        if (suffix.isEmpty) Right((LiteralType, lex, null, null))
        else if (suffix.startsWith("^^<") && suffix.endsWith(">"))
          Right((LiteralType, lex, suffix.substring(3, suffix.length - 1), null))
        else if (suffix.startsWith("@")) {
          val tag = suffix.substring(1)
          val dirSep = tag.indexOf("--")
          Right((LiteralType, lex, null, if (dirSep >= 0) tag.substring(0, dirSep) else tag))
        }
        else Left("Malformed literal suffix")
      }
    }

  private def isHexDigit(c: Char): Boolean =
    (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')

  /** Reverse of the N-Triples string escaping (`graft.rdf.Lit.escape` plus
    * the full W3C ECHAR/UCHAR set: \\t \\b \\n \\r \\f \\" \\' \\\\ and
    * \\uXXXX / \\UXXXXXXXX numeric escapes). */
  private[sources] def unescape(s: String): Either[String, String] = {
    val bs = s.indexOf('\\')
    if (bs < 0) return Right(s) // common case: no escapes, zero copy
    val sb = new java.lang.StringBuilder(s.length)
    sb.append(s, 0, bs)
    var i = bs
    while (i < s.length) {
      val c = s.charAt(i)
      if (c != '\\') { sb.append(c); i += 1 }
      else {
        if (i + 1 >= s.length) return Left("Dangling escape in literal")
        s.charAt(i + 1) match {
          case 't' => sb.append('\t'); i += 2
          case 'b' => sb.append('\b'); i += 2
          case 'n' => sb.append('\n'); i += 2
          case 'r' => sb.append('\r'); i += 2
          case 'f' => sb.append('\f'); i += 2
          case '"' => sb.append('"'); i += 2
          case '\'' => sb.append('\''); i += 2
          case '\\' => sb.append('\\'); i += 2
          case 'u' =>
            if (i + 6 > s.length) return Left("Truncated \\u escape in literal")
            val hex4 = s.substring(i + 2, i + 6)
            // strict UCHAR: [0-9A-Fa-f] only (Integer.parseInt also accepts
            // a sign, which would silently admit invalid escapes like \u-001)
            if (!hex4.forall(isHexDigit)) return Left("Malformed \\u escape in literal")
            sb.append(Integer.parseInt(hex4, 16).toChar)
            i += 6
          case 'U' =>
            if (i + 10 > s.length) return Left("Truncated \\U escape in literal")
            val hex8 = s.substring(i + 2, i + 10)
            if (!hex8.forall(isHexDigit)) return Left("Malformed \\U escape in literal")
            try sb.appendCodePoint(Integer.parseInt(hex8, 16))
            catch { case _: NumberFormatException | _: IllegalArgumentException =>
              return Left("Malformed \\U escape in literal") }
            i += 10
          case other => return Left(s"Unknown escape '\\$other' in literal")
        }
      }
    }
    Right(sb.toString)
  }
}
