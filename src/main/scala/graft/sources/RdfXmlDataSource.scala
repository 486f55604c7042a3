package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.util.SerializableConfiguration
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, In, StringContains, StringEndsWith, StringStartsWith}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.rdf.{BlankNodeLabels, ParserOptions, RdfXmlParser, TripleColumns}

/** `spark.read.format("rdfxml")` — a DataSource V2 batch source that parses
  * RDF/XML files into triple rows, re-expressing the reference's primary
  * surface (`textStream.pipe(new RdfXmlParser(...))`, reference
  * `lib/RdfXmlParser.ts:122-141` R1/R2) as a Spark source.
  *
  * Shape: one RDF/XML document per file; files are unsplittable (a document
  * is one parser state machine), so parallelism = file count, bin-packed
  * into partitions by size. Schema: the `path` lineage column, then the
  * columns of [[graft.rdf.TripleColumns]], so a malformed document ends in
  * one error row, never a task failure (R28), and blank nodes are named by
  * [[graft.rdf.BlankNodeLabels.forPath]]. Column pruning is pushed into the
  * reader (`SupportsPushDownRequiredColumns`).
  *
  * Reads stream ([[RdfXmlPartitionReader]]): a file is decoded and parsed
  * in fixed chunks, and the triples of a chunk leave as rows before the
  * next chunk is read, so neither the file text nor its triples are ever
  * held whole and files over 2 GB read like any other. A file that fails
  * partway gives the triples pushed before the failing event, then its one
  * error row ([[graft.rdf.TripleColumns.Document]]); `parseTurns` follows
  * the same rule. One structure still grows with a file: the parser's set
  * of `rdf:ID` values kept for the duplicate check (empty under
  * `allowDuplicateRdfIds`).
  *
  * Options: `baseIRI` (applied per-file; `{path}` placeholder substitutes
  * the file URI), `validateUri`, `allowDuplicateRdfIds`.
  *
  * Batch reads only: the reference streams within a document, and so does
  * this reader, but `spark.readStream.format("rdfxml")` is rejected by
  * Spark as a source that does not support streamed reading. A directory
  * of N-Triples dumps streams through [[NTriples.stream]].
  */
class RdfXmlDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "rdfxml"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = RdfXmlTable.Schema
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new RdfXmlTable(new CaseInsensitiveStringMap(properties))
}

object RdfXmlTable {
  val Schema: StructType = StructType(
    StructField("path", StringType, nullable = false) +:
      TripleColumns.Names.map(StructField(_, StringType)))
}

final class RdfXmlTable(options: CaseInsensitiveStringMap) extends Table with SupportsRead {
  override def name(): String = s"rdfxml(${options.get("path")})"
  override def schema(): StructType = RdfXmlTable.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(caseInsensitiveOptions: CaseInsensitiveStringMap): ScanBuilder = {
    val merged = new util.HashMap[String, String](options.asCaseSensitiveMap())
    merged.putAll(caseInsensitiveOptions.asCaseSensitiveMap())
    new RdfXmlScanBuilder(new CaseInsensitiveStringMap(merged))
  }
}

final class RdfXmlScanBuilder(options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownRequiredColumns with SupportsPushDownFilters {
  private var required: StructType = RdfXmlTable.Schema
  private var pathFilters: Array[Filter] = Array.empty
  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema

  /** Filter pushdown on the `path` lineage column prunes FILES at planning
    * time — the partition-pruning analogue for a file-per-document source
    * (at corpus scale a `path` predicate must never require parsing every
    * document just to drop its rows). Conservative contract: all filters
    * are also returned as residuals, so Spark re-evaluates them per row and
    * pruning can never change semantics. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pathFilters = filters.filter(RdfXmlScan.isPathFilter)
    filters
  }
  override def pushedFilters(): Array[Filter] = pathFilters
  override def build(): Scan = new RdfXmlScan(options, required, pathFilters)
}

object RdfXmlScan {
  private[sources] def isPathFilter(f: Filter): Boolean = f match {
    case EqualTo("path", _) => true
    case In("path", _) => true
    case StringStartsWith("path", _) => true
    case StringEndsWith("path", _) => true
    case StringContains("path", _) => true
    case _ => false
  }

  private[sources] def pathMatches(path: String, filters: Array[Filter]): Boolean =
    filters.forall {
      case EqualTo(_, v) => path == String.valueOf(v)
      case In(_, vs) => vs.exists(v => path == String.valueOf(v))
      case StringStartsWith(_, v) => path.startsWith(v)
      case StringEndsWith(_, v) => path.endsWith(v)
      case StringContains(_, v) => path.contains(v)
      case _ => true
    }

  /** Recursive listing of data files under `dir` (hidden files skipped),
    * filtered by any pushed `path` predicates, in deterministic path order. */
  private[sources] def listDataFiles(dir: String, conf: org.apache.hadoop.conf.Configuration,
                                     pathFilters: Array[Filter]): Seq[FileStatus] = {
    val fs = new Path(dir).getFileSystem(conf)
    def hidden(name: String) = name.startsWith("_") || name.startsWith(".")
    // Hidden names are filtered at EVERY path level (like Spark's own file
    // index/stream source), not just the leaf: a producer's in-flight
    // _temporary/.staging dirs contain part files whose leaf names look
    // normal — listing those would ingest uncommitted data.
    def list(p: Path): Seq[FileStatus] = {
      val st = fs.getFileStatus(p)
      if (st.isDirectory)
        fs.listStatus(p).toSeq
          .filterNot(s => hidden(s.getPath.getName))
          .flatMap(s => list(s.getPath))
      else Seq(st)
    }
    list(new Path(dir))
      .filter(f => !hidden(f.getPath.getName))
      .filter(f => pathMatches(f.getPath.toString, pathFilters))
      .sortBy(_.getPath.toString)
  }

  /** Bin-pack (path, size) files by size into partitions (documents are
    * unsplittable — parallelism = file count, one bin ≈ targetBytes). */
  private[sources] def binPack(files: Seq[(String, Long)], targetBytes: Long): Array[InputPartition] = {
    val bins = scala.collection.mutable.ArrayBuffer.empty[scala.collection.mutable.ArrayBuffer[String]]
    var binBytes = Long.MaxValue
    files.foreach { case (path, len) =>
      if (binBytes >= targetBytes) { bins += scala.collection.mutable.ArrayBuffer.empty; binBytes = 0 }
      bins.last += path
      binBytes += math.max(len, 64 * 1024) // open cost floor for tiny files
    }
    bins.map(b => RdfXmlInputPartition(b.toArray): InputPartition).toArray
  }
}

final class RdfXmlScan(options: CaseInsensitiveStringMap, required: StructType,
                       pathFilters: Array[Filter] = Array.empty)
    extends Scan with Batch with SupportsReportStatistics with SupportsRuntimeFiltering {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** Runtime filtering on `path` — the dynamic-partition-pruning analogue
    * for a file-per-document source: when this scan sits on the probe side
    * of a join whose build side constrains `path` (e.g. joining a 100 TB
    * corpus against a small audit table of document URIs), Spark hands the
    * build-side values here AFTER they are known and re-plans, so only the
    * matching FILES are listed into partitions — plan-time `pushFilters`
    * can never see these values. Same conservative contract as the static
    * path filters: pruning only ever drops whole files whose `path` cannot
    * match; Spark still re-evaluates the join condition per row. */
  private var runtimeFilters: Array[Filter] = Array.empty

  /** Only advertised when `path` survived column pruning: Spark's
    * PartitionPruning rule resolves these refs against the scan OUTPUT and
    * fails analysis on a pruned-away column (a query selecting only
    * subj/obj would die for a column it never asked for). */
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (required.fieldNames.contains("path"))
      Array(org.apache.spark.sql.connector.expressions.Expressions.column("path"))
    else Array.empty

  override def filter(filters: Array[Filter]): Unit =
    runtimeFilters = filters.filter(RdfXmlScan.isPathFilter)

  /** One listing per scan: statistics estimation, partition planning, and
    * runtime-filter re-planning all share this cached sweep — on an object
    * store a ~1M-file directory is O(files) remote RPCs, so listing once and
    * filtering the cached statuses IN MEMORY (runtime `path` values arrive
    * post-listing anyway) matters as much as the pruning itself. A lazy val
    * that throws is not cached, so a transient listing failure during
    * `estimateStatistics` (swallowed there) retries at plan time. */
  private lazy val listedFiles: Seq[FileStatus] =
    RdfXmlScan.listDataFiles(inputDir, hadoopConf.value, pathFilters)

  /** Report input size to Catalyst — without this a DSv2 relation defaults
    * to `spark.sql.defaultSizeInBytes` (effectively infinite), so a 2 MB
    * directory of RDF/XML joined against a fact table would ALWAYS sort-
    * merge-join; with file-size stats the planner auto-broadcasts small
    * sides like it does for parquet. Size = listed bytes (path filters
    * applied — pruning shrinks the estimate too); row count unknown (parsing
    * would defeat the purpose). Cached: planning may ask repeatedly. */
  private lazy val listedBytes: Long =
    try listedFiles.map(_.getLen).sum
    catch { case _: java.io.IOException => -1L }

  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        if (listedBytes < 0) java.util.OptionalLong.empty() else java.util.OptionalLong.of(listedBytes)
      override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
    }
  override def description(): String =
    s"RdfXmlScan(${options.get("path")}, pushedPathFilters=[${pathFilters.mkString(", ")}])"

  /** The session's Hadoop configuration (spark.hadoop.* props, object-store
    * credentials, HA nameservices) merged with the scan options, captured at
    * scan-build time on the driver and shipped to readers — a bare
    * `new Configuration()` only ever worked for local paths. */
  private[sources] val hadoopConf = new SerializableConfiguration(
    org.apache.spark.sql.GraftSqlBridge.hadoopConfWithOptions(
      org.apache.spark.sql.SparkSession.active,
      options.asCaseSensitiveMap().asScala.toMap))

  private def inputDir: String = Option(options.get("path"))
    .getOrElse(throw new IllegalArgumentException("rdfxml source requires a path"))

  private def targetBytes: Long = options.getLong("targetPartitionBytes", 32L * 1024 * 1024)

  /** Bin-pack the listed files by size (documents are unsplittable);
    * static (pushed) filters pruned [[listedFiles]] during the single
    * listing sweep, runtime (join-derived) filters prune the cached
    * statuses here without touching the filesystem again. */
  override def planInputPartitions(): Array[InputPartition] = {
    val files =
      if (runtimeFilters.isEmpty) listedFiles
      else listedFiles.filter(f => RdfXmlScan.pathMatches(f.getPath.toString, runtimeFilters))
    RdfXmlScan.binPack(files.map(f => (f.getPath.toString, f.getLen)), targetBytes)
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val baseIRI = Option(options.get("baseIRI")).getOrElse("")
    val validateUri = options.getBoolean("validateUri", true)
    val allowDup = options.getBoolean("allowDuplicateRdfIds", false)
    RdfXmlReaderFactory(required.fieldNames, baseIRI, validateUri, allowDup, hadoopConf)
  }
}

case class RdfXmlInputPartition(files: Array[String]) extends InputPartition

case class RdfXmlReaderFactory(
    fieldNames: Array[String], baseIRI: String, validateUri: Boolean, allowDup: Boolean,
    hadoopConf: SerializableConfiguration)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new RdfXmlPartitionReader(
      partition.asInstanceOf[RdfXmlInputPartition].files, fieldNames, baseIRI, validateUri, allowDup,
      hadoopConf)
}

/** Streams each file of its partition through the parser: the file is
  * decoded as UTF-8 and written to the parser in [[RdfXmlPartitionReader.ChunkChars]]
  * chunks, and [[next]] drains the rows each chunk made ready before it
  * reads the next one. [[get]] returns one row object, refilled on every
  * `next()`; the scan copies it into an `UnsafeRow` before asking again. */
final class RdfXmlPartitionReader(
    files: Array[String], fieldNames: Array[String],
    baseIRI: String, validateUri: Boolean, allowDup: Boolean,
    hadoopConf: SerializableConfiguration)
    extends PartitionReader[InternalRow] {

  private val fs = files.headOption.map(f => new Path(f).getFileSystem(hadoopConf.value))
  private var fileIdx = 0
  private var in: java.io.Reader = _ // the open file, null between files
  private var doc: TripleColumns.Document = _
  private var filePath: String = _
  private val chunk = new Array[Char](RdfXmlPartitionReader.ChunkChars)
  private val row = new GenericInternalRow(fieldNames.length)

  /** Hadoop codec detection by extension (.gz, .bz2, …) — real RDF dumps
    * ship compressed; whole-file documents stay unsplittable either way, so
    * compression changes nothing about partition planning. */
  @transient private lazy val codecs =
    new org.apache.hadoop.io.compress.CompressionCodecFactory(hadoopConf.value)

  private def open(path: String): Unit = {
    val p = new Path(path)
    val raw = fs.get.open(p)
    val bytes: java.io.InputStream =
      try Option(codecs.getCodec(p)).map(c => c.createInputStream(raw): java.io.InputStream).getOrElse(raw)
      catch { case e: Throwable => raw.close(); throw e }
    in = new java.io.InputStreamReader(bytes, java.nio.charset.StandardCharsets.UTF_8)
    val base = if (baseIRI.contains("{path}")) baseIRI.replace("{path}", path) else baseIRI
    doc = new TripleColumns.Document(ParserOptions(baseIRI = base, validateUri = validateUri,
      allowDuplicateRdfIds = allowDup, blankNodeLabel = BlankNodeLabels.forPath(path)))
    filePath = path
  }

  /** Fills [[chunk]] up to its length, so chunk edges fall at fixed
    * offsets; 0 means the file is exhausted. */
  private def readChunk(): Int = {
    var n = 0
    var r = 0
    while (n < chunk.length && { r = in.read(chunk, n, chunk.length - n); r >= 0 }) n += r
    n
  }

  private def closeFile(): Unit = if (in != null) { in.close(); in = null }

  /** Per output column, its index in [[TripleColumns.Names]]; -1 is `path`. */
  private val ordinals = fieldNames.map(n => TripleColumns.Names.indexOf(n))

  /** Per output column, the last value and its encoding. Consecutive rows
    * often hold the very same `String` (the path, a subject shared by a
    * resource's triples, the `obj_type` constants), which is then not
    * encoded again. */
  private val lastText = new Array[String](ordinals.length)
  private val lastUtf8 = new Array[UTF8String](ordinals.length)

  /** Per output column, whether it is `pred` or `datatype`. Their values are
    * the text of terms the parser shares across the file (one `Iri` per
    * distinct name or datatype), so the same few `String`s recur, though
    * rarely on consecutive rows; [[encodeShared]] encodes each once. */
  private val shared = fieldNames.map(n => n == "pred" || n == "datatype")
  private val sharedText = new Array[String](RdfXmlPartitionReader.SharedSlots)
  private val sharedUtf8 = new Array[UTF8String](RdfXmlPartitionReader.SharedSlots)

  /** The encoding of `v` from a small direct-mapped cache keyed by the
    * `String` object itself: a miss just replaces the slot. Text longer than
    * the parser shares ([[RdfXmlParser.MaxCachedIriChars]]) is encoded
    * without it, so the cache holds at most `SharedSlots` short encodings. */
  private def encodeShared(v: String): UTF8String =
    if (v == null || v.length > RdfXmlParser.MaxCachedIriChars) UTF8String.fromString(v)
    else {
      val slot = System.identityHashCode(v) & (RdfXmlPartitionReader.SharedSlots - 1)
      if (!(sharedText(slot) eq v)) { sharedText(slot) = v; sharedUtf8(slot) = UTF8String.fromString(v) }
      sharedUtf8(slot)
    }

  override def next(): Boolean = {
    while (doc == null || !doc.next()) {
      if (in != null) {
        val n = if (doc.failed) 0 else readChunk()
        if (n > 0) doc.write(new String(chunk, 0, n))
        else { closeFile(); doc.end() }
      } else if (fileIdx < files.length) {
        open(files(fileIdx))
        fileIdx += 1
      } else return false
    }
    var k = 0
    while (k < ordinals.length) {
      val o = ordinals(k)
      val v = if (o < 0) filePath else doc.value(o)
      if (shared(k)) row.update(k, encodeShared(v))
      else {
        if (!(v eq lastText(k))) { lastText(k) = v; lastUtf8(k) = UTF8String.fromString(v) }
        row.update(k, lastUtf8(k))
      }
      k += 1
    }
    true
  }

  override def get(): InternalRow = row
  override def close(): Unit = closeFile()
}

object RdfXmlPartitionReader {
  /** Characters written to the parser per call. A file is never held
    * whole; only this chunk, an incomplete construct carried into the next
    * one, and the rows one chunk made ready are. */
  val ChunkChars: Int = 64 * 1024

  /** Slots of the reader's cache of shared `pred`/`datatype` encodings (a
    * power of two). */
  val SharedSlots: Int = 256
}
