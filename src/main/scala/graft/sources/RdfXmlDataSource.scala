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
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.rdf.{BlankNodeLabels, ParserOptions, RdfXmlParser, TripleColumns}

/** `spark.read.format("rdfxml")` — a DataSource V2 batch source that parses
  * RDF/XML files into triple rows, re-expressing the reference's primary
  * surface (`textStream.pipe(new RdfXmlParser(...))`, reference
  * `lib/RdfXmlParser.ts:122-141` R1/R2) as a Spark source.
  *
  * Planning: the directory under `path` is listed once per scan (hidden
  * names skipped at every level), and the files are bin-packed by size into
  * partitions of about `targetPartitionBytes` (32 MB unless set). One
  * RDF/XML document per file; files are unsplittable (a document is one
  * parser state machine), so parallelism = file count. Column pruning is
  * pushed into the reader (`SupportsPushDownRequiredColumns`); nothing else
  * is: Spark evaluates every filter and join on the rows, a `path`
  * predicate included, and sizes the relation by its default.
  *
  * Schema: the `path` lineage column, then the columns of
  * [[graft.rdf.TripleColumns]], so a malformed document ends in one error
  * row, never a task failure (R28), and blank nodes are named by
  * [[graft.rdf.BlankNodeLabels.forPath]].
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
  * the file URI), `validateUri`, `allowDuplicateRdfIds`,
  * `targetPartitionBytes`; the others reach the Hadoop configuration the
  * listing and the readers use.
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
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = RdfXmlTable.Schema
  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema
  override def build(): Scan = new RdfXmlScan(options, required)
}

object RdfXmlScan {
  /** Recursive listing of data files under `dir` (hidden files skipped), in
    * deterministic path order. */
  private def listDataFiles(dir: String, conf: org.apache.hadoop.conf.Configuration): Seq[FileStatus] = {
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
      .sortBy(_.getPath.toString)
  }

  /** Bin-pack (path, size) files by size into partitions (documents are
    * unsplittable — parallelism = file count, one bin ≈ targetBytes). */
  private def binPack(files: Seq[(String, Long)], targetBytes: Long): Array[InputPartition] = {
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

final class RdfXmlScan(options: CaseInsensitiveStringMap, required: StructType) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

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

  /** The listed files bin-packed by size (documents are unsplittable).
    * Planning may call [[planInputPartitions]] on more than one copy of the
    * exec node, which all share this scan, so the directory is listed once
    * per scan. */
  private lazy val partitions: Array[InputPartition] =
    RdfXmlScan.binPack(
      RdfXmlScan.listDataFiles(inputDir, hadoopConf.value).map(f => (f.getPath.toString, f.getLen)),
      targetBytes)

  override def planInputPartitions(): Array[InputPartition] = partitions

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
