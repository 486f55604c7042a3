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

import graft.rdf.{BlankNodeLabels, ParserOptions, TripleColumns}

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
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
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
    * filtered by any pushed `path` predicates, in deterministic path order.
    * Shared by the batch scan and the micro-batch stream so both surfaces
    * see the identical file universe. */
  private[sources] def listDataFiles(dir: String, conf: org.apache.hadoop.conf.Configuration,
                                     pathFilters: Array[Filter]): Seq[FileStatus] = {
    val fs = new Path(dir).getFileSystem(conf)
    def hidden(name: String) = name.startsWith("_") || name.startsWith(".")
    // Hidden names are filtered at EVERY path level (like Spark's own file
    // index/stream source), not just the leaf: a producer's in-flight
    // _temporary/.staging dirs contain part files whose leaf names look
    // normal — listing those would ingest uncommitted data, and in the
    // streaming path durably log paths the committer is about to rename
    // away, wedging the exactly-once replay on a file that no longer exists.
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

  /** `spark.readStream.format("rdfxml")` — completes the reference's primary
    * streaming surface (reference `lib/RdfXmlParser.ts:122-141`: the parser
    * IS a text stream transform) at the corpus level: files arriving in a
    * directory are discovered per micro-batch, parsed by the same
    * unsplittable-file partitions and reader as the batch scan, exactly once
    * across restarts (file-log under the checkpoint). */
  override def toMicroBatchStream(checkpointLocation: String): org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new RdfXmlMicroBatchStream(inputDir, targetBytes, pathFilters, hadoopConf,
      checkpointLocation, () => createReaderFactory(),
      // Admission control (FileStreamSource's maxFilesPerTrigger): bound the
      // files logged per micro-batch so a backlogged directory drains in
      // right-sized batches instead of one giant first batch. 0 = unbounded.
      maxFilesPerTrigger = options.getInt("maxFilesPerTrigger", 0))
}

case class RdfXmlInputPartition(files: Array[String]) extends InputPartition

/** Offset = id of the last file-log batch included (-1 = nothing yet). The
  * batch → file-list mapping lives in the stream's own durable log, so the
  * offset itself stays O(1) no matter how many files have streamed. */
case class RdfXmlOffset(batchId: Long) extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = batchId.toString
}

/** File-listing micro-batch stream over a directory of RDF/XML documents.
  *
  * Exactly-once contract: each `latestOffset` call diffs the current listing
  * against the union of all files already recorded in the durable file-log
  * (`<checkpoint>/rdfxml-file-log/<batchId>`, one path per line, written
  * atomically via temp + rename) and logs only the NEW files as the next
  * batch. `planInputPartitions(start, end)` replays log entries — never the
  * live listing — so a restarted query re-plans an uncommitted batch to the
  * identical file set, and files committed before the crash are never
  * re-parsed. Readers, partitioning (size bin-packing of unsplittable
  * documents), and schema are shared with the batch scan.
  *
  * At cluster scale the log grows one small file per trigger with work
  * proportional to new files. Entries are CACHED in the stream instance
  * after first read: the steady-state per-trigger cost is one `listStatus`
  * of the log dir plus opens for only the entries not yet cached (normally
  * the one just written) — NOT one open per historical batch per trigger,
  * which on an object store would mean O(stream-age) GETs per trigger. A
  * restart pays one full log replay (same as Spark's FileStreamSource), and
  * the per-trigger input-dir listing diff is the same O(files-in-dir) cost
  * FileStreamSource pays.
  */
final class RdfXmlMicroBatchStream(
    inputDir: String, targetBytes: Long, pathFilters: Array[Filter],
    hadoopConf: SerializableConfiguration, checkpointLocation: String,
    readerFactory: () => PartitionReaderFactory, maxFilesPerTrigger: Int = 0)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  import org.apache.spark.sql.connector.read.streaming.Offset

  /** Trigger.AvailableNow contract: snapshot the file universe at prepare
    * time; latestOffset then drains exactly that snapshot (in
    * maxFilesPerTrigger-bounded batches) and stops advancing — files
    * arriving after prepare wait for the next query run. Without this,
    * Spark's wrapper calls latestOffset once and a rate-limited backlog
    * would only drain one batch per run. */
  private var availableNowTarget: Seq[String] = null

  override def prepareForTriggerAvailableNow(): Unit = synchronized {
    refreshLogCache() // populate the seen-set cache from the durable log
    availableNowTarget = listInputDiff()
  }

  /** Current input-dir listing minus everything already logged. */
  private def listInputDiff(): Seq[String] = {
    // An input dir that does not exist yet is "no files yet", not an error:
    // streams routinely start before their producer creates the directory.
    val listed =
      try RdfXmlScan.listDataFiles(inputDir, hadoopConf.value, pathFilters)
      catch { case _: java.io.FileNotFoundException => Seq.empty[FileStatus] }
    listed.map(f => f.getPath.toString).filterNot(cachedSeen)
  }

  private val logDir = new Path(checkpointLocation, "rdfxml-file-log")
  private def fs = logDir.getFileSystem(hadoopConf.value)

  /** Committed log entries by batch id, accumulated across triggers (the
    * driver-side stream instance lives for the whole query run). Only ids
    * missing from the cache are opened; the log itself stays the durable
    * source of truth. The seen-set holds one path String per file ever
    * streamed — the floor for listing-diff correctness (FileStreamSource's
    * SeenFilesMap grows the same way; its maxFileAge eviction is a
    * semantics trade this source does not make). Neither structure is
    * copied per trigger: callers read the TreeMap in place. */
  private val cachedEntries = scala.collection.mutable.TreeMap.empty[Long, Seq[String]]
  /** Union of all cached entry files (the `seen` set for listing diffs). */
  private val cachedSeen = scala.collection.mutable.HashSet.empty[String]

  /** Ingest log entries not yet cached (steady state: the one just written
    * by the previous trigger, or none). */
  private def refreshLogCache(): Unit = synchronized {
    if (fs.exists(logDir)) {
      fs.listStatus(logDir).toSeq
        .flatMap(s => s.getPath.getName.toLongOption.map(_ -> s.getPath))
        .filterNot { case (id, _) => cachedEntries.contains(id) }
        .foreach { case (id, p) =>
          val in = fs.open(p)
          val text = try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
          finally in.close()
          val files = text.split("\n").toSeq.filter(_.nonEmpty)
          cachedEntries.put(id, files)
          cachedSeen ++= files
        }
    }
  }

  private def writeEntry(batchId: Long, files: Seq[String]): Unit = {
    fs.mkdirs(logDir)
    val tmp = new Path(logDir, s".$batchId.tmp")
    val out = fs.create(tmp, true)
    try out.write(files.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (!fs.rename(tmp, new Path(logDir, batchId.toString)))
      throw new java.io.IOException(s"could not commit rdfxml file-log entry $batchId")
  }

  override def initialOffset(): Offset = RdfXmlOffset(-1L)
  override def deserializeOffset(json: String): Offset = RdfXmlOffset(json.trim.toLong)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead (SupportsAdmissionControl)")

  override def getDefaultReadLimit: org.apache.spark.sql.connector.read.streaming.ReadLimit = {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    if (maxFilesPerTrigger > 0) ReadLimit.maxFiles(maxFilesPerTrigger) else ReadLimit.allAvailable()
  }

  override def latestOffset(start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset = synchronized {
    refreshLogCache()
    val maxId = cachedEntries.lastOption.map(_._1).getOrElse(-1L)
    val freshAll =
      if (availableNowTarget != null) availableNowTarget.filterNot(cachedSeen)
      else listInputDiff()
    // Admission control: excess files stay unlogged and are picked up by
    // subsequent triggers (deterministic path order, so drain order is
    // stable). Under Trigger.AvailableNow the engine keeps triggering until
    // the offset stops advancing, so a backlog drains fully in bounded
    // batches rather than one giant first batch.
    val fresh = limit match {
      case mf: org.apache.spark.sql.connector.read.streaming.ReadMaxFiles =>
        freshAll.take(mf.maxFiles())
      case _ => freshAll
    }
    if (fresh.isEmpty) RdfXmlOffset(maxId)
    else {
      writeEntry(maxId + 1, fresh)
      cachedEntries.put(maxId + 1, fresh)
      cachedSeen ++= fresh
      RdfXmlOffset(maxId + 1)
    }
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[RdfXmlOffset].batchId
    val e = end.asInstanceOf[RdfXmlOffset].batchId
    val files = synchronized {
      refreshLogCache()
      // TreeMap.range is [from, until): ids in (s, e]
      cachedEntries.range(s + 1, e + 1).values.flatten.toSeq
    }
    // Sizes re-fetched for bin-packing; a file deleted since logging fails
    // the read (correct: the log is the source of truth, and silently
    // skipping logged data would break exactly-once) — but it fails HERE at
    // plan time, naming the log entry and the missing path, so an operator
    // can tell producer-deleted input from a corrupt checkpoint instead of
    // chasing an opaque task-level FileNotFoundException.
    val sized = files.map { p =>
      val path = new Path(p)
      val dataFs = path.getFileSystem(hadoopConf.value) // data may live on a different FS than the checkpoint
      val len =
        try dataFs.getFileStatus(path).getLen
        catch {
          case _: java.io.FileNotFoundException =>
            val entry = synchronized {
              cachedEntries.range(s + 1, e + 1).collectFirst { case (id, fls) if fls.contains(p) => id }
            }
            throw new java.io.FileNotFoundException(
              s"rdfxml stream: file '$p' is recorded in the durable file-log " +
                s"($logDir${entry.map(id => s", entry $id").getOrElse("")}) for batches (${s + 1}..$e] " +
                "but no longer exists on the data filesystem. The input was deleted after being " +
                "logged (or the checkpoint references a different data location); exactly-once replay " +
                "cannot skip logged data. Restore the file, or delete the checkpoint to re-stream from scratch.")
        }
      (p, len)
    }
    RdfXmlScan.binPack(sized, targetBytes)
  }

  override def createReaderFactory(): PartitionReaderFactory = readerFactory()
  override def commit(end: Offset): Unit = () // the file-log is already durable
  override def stop(): Unit = ()
}

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
      if (!(v eq lastText(k))) { lastText(k) = v; lastUtf8(k) = UTF8String.fromString(v) }
      row.update(k, lastUtf8(k))
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
}
