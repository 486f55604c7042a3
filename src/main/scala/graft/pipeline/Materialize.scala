package graft.pipeline

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.BasicFileAttributes
import java.security.MessageDigest
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Try, Using}
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Column, DataFrame, DataFrameWriter, Encoders, Observation, Row, SparkSession, functions}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType, StructField, StructType}

/** P9/P10: graph materialization and resumable snapshot stages.
  *
  * Layout is Iceberg-shaped without an Iceberg catalog (none in the image —
  * SURVEY §7): each stage writes a parquet snapshot directory `data/` plus a
  * `_meta/manifest.json`; a stage whose manifest is committed is *not*
  * recomputed — it re-reads its snapshot, which is what makes every stage
  * re-entrant (north_rule: "resumable from checkpoint with per-partition
  * lineage + metrics"). Swap the writer for a real Iceberg catalog at
  * deploy time.
  *
  * Every stage counts its rows while it writes them: the written frame
  * carries a `Dataset.observe` of `count(1)` plus the stage's own counters,
  * so nothing is read back to be counted. The manifest is one JSON object:
  *   - `stage`: the stage name;
  *   - `input`: the fingerprint of the files the stage derives from (see
  *     [[inputFingerprint]]);
  *   - `rows`: rows written;
  *   - `counters`: name → value of every other observed aggregate (the
  *     stage's counters over its written rows, and the row counts of its
  *     inputs, see [[StageInputs]]);
  *   - `schema`: the written schema as Spark JSON — read-backs and resumes
  *     pass it to the reader, so no parquet schema-inference job runs;
  *   - `files`: `{path, bytes}` of every data file under `data/`, from a
  *     filesystem listing.
  * It is committed by temp file + rename, after the data. A manifest that is
  * missing, does not parse, was built from another input, lists a file that
  * is absent or has another size, or lacks a counter the stage now records
  * marks the stage as not done, and the stage is recomputed. A resume
  * therefore reads only manifests and a listing of the input, and launches
  * no Spark job.
  *
  * Triple layout for scale: partitioned by `pred_bucket` (16-way — predicate
  * sets are small and skewed, bucketing by hash keeps partition counts
  * bounded at 100 TB) and repartitioned by `subj_hash` so per-subject
  * consumers (adjacency, CC joins) are co-located without a further
  * shuffle. Hot-entity skew is handled by [[Skew.saltedJoin]] + AQE.
  */
object Materialize {

  /** A stage's outcome, fresh or reused: rows written and its counters, as
    * recorded in the manifest. */
  final case class StageResult(path: String, rows: Long, reused: Boolean, counters: Map[String, Long])

  /** Row-count counters over a stage's inputs. A compute wraps each input
    * it wants counted in [[count]], under a name the stage declared; the
    * counts land in the manifest's `counters`. Place the counted input after
    * its last shuffle, so its count, like the stage's own counters, runs in
    * the write's final stage. */
  final class StageInputs private[Materialize] (private[Materialize] val declared: Seq[String]) {
    private[Materialize] val observed = mutable.ArrayBuffer[Observation]()

    def count(df: DataFrame, counter: String): DataFrame = {
      require(declared.contains(counter), s"input counter $counter is not declared by the stage")
      val o = Observation()
      observed += o
      df.observe(o, functions.count(lit(1)).as(counter))
    }
  }

  /** Predicate buckets of the triple table. */
  val PredBuckets = 16

  /** Subject-hash buckets. The triple table and the adjacency table both
    * partition their rows by this hash, held in their `subj_hash` column. */
  private val SubjBuckets = 64
  private def subjHash: Column = pmod(xxhash64(col("subj")), lit(SubjBuckets)).cast("int")

  private val Json = new ObjectMapper()

  private def manifestPath(dir: String) = Paths.get(dir, "_meta", "manifest.json")

  private def dataDir(dir: String) = s"$dir/data"

  /** The committed manifest of the stage at `dir` as (result, written
    * schema), or None when the stage must be (re)computed: also when the
    * manifest was built from another `input`, or lacks one of the `expected`
    * counters, e.g. one written before the stage gained a counter. */
  private def committed(dir: String, expected: Seq[String], input: String): Option[(StageResult, StructType)] = Try {
    val m = Json.readTree(Files.readString(manifestPath(dir)))
    require(m.required("input").asText() == input)
    val files = m.required("files").elements().asScala.toSeq
    require(files.forall { f =>
      val p = Paths.get(dataDir(dir), f.required("path").asText())
      Files.isRegularFile(p) && Files.size(p) == f.required("bytes").asLong()
    })
    val counters = m.required("counters").properties().asScala
      .map(e => e.getKey -> e.getValue.asLong()).toMap
    require(expected.forall(counters.contains))
    val schema = DataType.fromJson(m.required("schema").toString).asInstanceOf[StructType]
    (StageResult(dir, m.required("rows").asLong(), reused = true, counters), schema)
  }.toOption

  /** Every data file under `root` (a directory, or one file) with its
    * attributes, sorted by relative path; hidden and `_`-prefixed files
    * (checksums, `_SUCCESS`) are not data. */
  private def dataFiles(root: Path): Seq[(String, BasicFileAttributes)] = {
    def isData(p: Path) = Files.isRegularFile(p) && !p.getFileName.toString.matches("[._].*")
    Using.resource(Files.walk(root))(_.iterator.asScala.filter(isData).toList)
      .map(p => root.relativize(p).toString -> Files.readAttributes(p, classOf[BasicFileAttributes]))
      .sortBy(_._1)
  }

  /** The fingerprint of the input at `path`, a directory or one file: the
    * SHA-256 of the sorted (relative path, bytes, mtime) of its data files.
    * It comes from a filesystem listing, so it launches no Spark job. A
    * stage records it in its manifest and is reused only under the same
    * one. */
  def inputFingerprint(path: String): String = {
    val listing = dataFiles(Paths.get(path)).map { case (p, a) =>
      s"$p\t${a.size}\t${a.lastModifiedTime.toMillis}\n"
    }.mkString
    MessageDigest.getInstance("SHA-256").digest(listing.getBytes(StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString
  }

  /** The one stage writer: `rows` is `df` with `count(1)` and the named
    * `counters` observed as its last operator, so every observed aggregate
    * runs in the write's final (result) stage, where Spark applies each
    * task's accumulator update exactly once, also when tasks are retried.
    * Open it with [[beginWrite]], save `rows` through [[writer]] (saving any
    * other frame leaves the observation unfilled, and [[commit]] would wait
    * for it forever), then call [[commit]], which records the observed
    * values, the schema and the file listing in the manifest. The save stays
    * in each stage's own method because the benchmark's per-layer trace keys
    * on the call site Spark records for the write. */
  private final class StageWrite(name: String, dir: String, input: String, df: DataFrame,
                                 counters: Seq[(String, Column)], inputs: StageInputs) {
    private val out = Observation()
    val rows: DataFrame =
      df.observe(out, count(lit(1)).as("rows"), counters.map { case (n, c) => c.as(n) }: _*)

    /** An overwrite of `rows` whose write job, on the driver and in its
      * tasks, opens `file:` paths through a fresh [[InProcessChmodFileSystem]]:
      * Spark copies write options into the job's Hadoop configuration. The
      * session's cached `file:` filesystem is neither used nor replaced. */
    def writer: DataFrameWriter[Row] = rows.write.mode("overwrite").options(InProcessChmod.options)

    def commit(): StageResult = {
      val observed = (out +: inputs.observed.toSeq).flatMap(_.get)
        .map { case (k, v) => k -> v.asInstanceOf[Number].longValue }.toMap
      // a manifest without a declared counter would never be reused
      val missing = inputs.declared.filterNot(observed.contains)
      require(missing.isEmpty, s"stage $name never counted its inputs ${missing.mkString(", ")}")
      val counters = (observed - "rows").toSeq.sorted
      val m = Json.createObjectNode().put("stage", name).put("input", input).put("rows", observed("rows"))
      val cs = m.putObject("counters")
      counters.foreach { case (k, v) => cs.put(k, v) }
      m.set("schema", Json.readTree(rows.schema.json))
      val fs = m.putArray("files")
      dataFiles(Paths.get(dataDir(dir))).foreach { case (p, a) => fs.addObject().put("path", p).put("bytes", a.size) }
      val target = manifestPath(dir)
      Files.createDirectories(target.getParent)
      val tmp = target.resolveSibling(".manifest.json.tmp")
      Files.writeString(tmp, Json.writeValueAsString(m))
      Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
      StageResult(dir, observed("rows"), reused = false, counters.toMap)
    }
  }

  /** Start a stage write: the stale manifest goes first, so it cannot
    * outlive the data the save overwrites. */
  private def beginWrite(name: String, dir: String, input: String, df: DataFrame, counters: Seq[(String, Column)],
                         inputs: StageInputs = new StageInputs(Nil)): StageWrite = {
    Files.deleteIfExists(manifestPath(dir))
    new StageWrite(name, dir, input, df, counters, inputs)
  }

  /** Run `compute` as a resumable snapshot stage: skip + re-read when the
    * stage's manifest is committed under the same `input` fingerprint. The
    * returned frame reads the snapshot with the manifest's schema.
    * `counters` are named aggregates over the written rows; `compute` may
    * count its inputs through the given [[StageInputs]] under the names in
    * `inputCounters`. */
  def snapshotStage(spark: SparkSession, name: String, dir: String, input: String,
                    counters: Seq[(String, Column)] = Nil, inputCounters: Seq[String] = Nil)(
      compute: StageInputs => DataFrame): (DataFrame, StageResult) =
    committed(dir, counters.map(_._1) ++ inputCounters, input) match {
      case Some((res, schema)) => (spark.read.schema(schema).parquet(dataDir(dir)), res)
      case None =>
        val inputs = new StageInputs(inputCounters)
        val w = beginWrite(name, dir, input, compute(inputs), counters, inputs)
        w.writer.parquet(dataDir(dir))
        (spark.read.schema(w.rows.schema).parquet(dataDir(dir)), w.commit())
    }

  /** Materialize the adjacency table: one row per subject with the full
    * out-degree and a capped, deterministically-ordered adjacency list
    * (north_star: "triple/adjacency tables"). The cap bounds row size for
    * hot entities — a 10⁸-degree subject must not become a 10⁸-element array
    * in one row; consumers needing the full fan-out read the triple table,
    * which is bucketed for exactly that. Degree stays exact (count, not
    * list size).
    *
    * The plan has one exchange: the rows are hash-partitioned by
    * `subj_hash`, sorted within each partition by `(subj, pred, obj)`, and
    * one pass over each partition ([[adjacencyRows]]) turns every run of
    * equal `subj` into its row: `degree` counts the run, `n_pred` counts
    * its distinct predicates (the changes of `pred` along the sorted run)
    * and `edges` keeps its first `maxFanout` `(pred, obj)` pairs in that
    * order. The pass holds at most `maxFanout` pairs, so a 10⁸-degree
    * entity never buffers its full fan-out; the rows leave sorted by
    * `subj`. A pass, not windows and an object aggregate: those generate
    * about 20 more codegen classes, and the whole KG build must fit in
    * Spark's 100-entry codegen cache (see PipelineSpec). */
  def adjacency(rows: DataFrame, dir: String, input: String, maxFanout: Int = 1024): StageResult = {
    val done = committed(dir, Nil, input)
    if (done.isDefined) return done.get._1
    // rows without a subject have no adjacency row
    val adj = rows.filter(col("error").isNull && col("subj").isNotNull)
      .select(col("subj"), col("pred"), col("obj"), subjHash.as("subj_hash"))
      .repartition(col("subj_hash"))
      .sortWithinPartitions("subj", "pred", "obj")
      .mapPartitions((it: Iterator[Row]) => adjacencyRows(it.buffered, maxFanout))(Encoders.row(AdjacencySchema))
    val stage = beginWrite("adjacency", dir, input, adj, Nil)
    stage.writer.parquet(dataDir(dir))
    stage.commit()
  }

  private val AdjacencySchema = StructType(Seq(
    StructField("subj", StringType),
    StructField("degree", LongType, nullable = false),
    StructField("n_pred", LongType, nullable = false),
    StructField("edges", ArrayType(StructType(Seq(StructField("pred", StringType), StructField("obj", StringType))),
      containsNull = false), nullable = false),
    StructField("subj_hash", IntegerType, nullable = false)))

  /** One adjacency row per run of equal `subj` in (subj, pred, obj,
    * subj_hash) rows sorted by `(subj, pred, obj)`; see [[adjacency]]. */
  private def adjacencyRows(in: scala.collection.BufferedIterator[Row], maxFanout: Int): Iterator[Row] = new Iterator[Row] {
    def hasNext: Boolean = in.hasNext
    def next(): Row = {
      val subj = in.head.getString(0)
      val subjHash = in.head.getInt(3)
      val edges = mutable.ArrayBuffer[Row]()
      var degree = 0L
      var nPred = 0L
      var lastPred: String = null
      while (in.hasNext && in.head.getString(0) == subj) {
        val r = in.next()
        val pred = r.getString(1)
        if (degree == 0 || pred != lastPred) nPred += 1
        lastPred = pred
        if (degree < maxFanout) edges += Row(pred, r.getString(2))
        degree += 1
      }
      Row(subj, degree, nPred, edges.toSeq, subjHash)
    }
  }

  // ------------------------------------------------- dictionary encoding

  /** Dictionary-encoded term materialization — the shuffle-width win at
    * 100 TB: downstream joins/aggregations move 8-byte BIGINT term ids
    * instead of full IRI/literal strings, so every exchange, sort buffer,
    * and bucketed file shrinks by roughly the mean term length. Ids are
    * CONTENT hashes (the native codegen `fnv1a64`), which makes
    * [[encodeTriples]] MAP-ONLY — no join against the dictionary and no
    * global row_number (dense-id assignment is a single-partition sort at
    * any scale; a hash id needs neither). The dictionary is one distinct
    * over the exploded terms and exists only for decode-time join-back.
    * 64-bit FNV keeps the DuckDB oracle replayable (`q_dict_roundtrip`'s
    * join-back identity would fan out and fail the gate on any collision);
    * a production 100 TB deployment widens to a 128-bit hash for birthday
    * headroom without changing the plan shape. */
  def termDictionary(triples: DataFrame): DataFrame =
    triples
      .select(explode(array(col("subj"), col("pred"), col("obj"))).as("term"))
      .distinct()
      .select(graft.functions.GraftFunctions.fnv1a64(col("term")).as("term_id"), col("term"))

  /** (s_id, p_id, o_id) BIGINT rows, one per input triple (multiplicity
    * preserved); narrow projection, no exchange — plan-pinned. */
  def encodeTriples(triples: DataFrame): DataFrame =
    triples.select(
      graft.functions.GraftFunctions.fnv1a64(col("subj")).as("s_id"),
      graft.functions.GraftFunctions.fnv1a64(col("pred")).as("p_id"),
      graft.functions.GraftFunctions.fnv1a64(col("obj")).as("o_id"))

  /** Join-back decode: three equi-joins against the dictionary (AQE picks
    * broadcast when the dictionary is small; at 100 TB it is a shuffle
    * join, still keyed on 8-byte ids). Restores (subj, pred, obj). */
  def decodeTriples(encoded: DataFrame, dict: DataFrame): DataFrame =
    encoded
      .join(dict.select(col("term_id").as("s_id"), col("term").as("subj")), Seq("s_id"))
      .join(dict.select(col("term_id").as("p_id"), col("term").as("pred")), Seq("p_id"))
      .join(dict.select(col("term_id").as("o_id"), col("term").as("obj")), Seq("o_id"))
      .select("subj", "pred", "obj")

  /** N-Triples text sink — the line-based interchange serialization the
    * reference ecosystem round-trips through (its quad streams feed
    * N-Triples writers downstream). The subj/pred/obj columns already carry
    * canonical term text (graft.rdf.Terms ntriples rendering), so the sink
    * is a single codegen'd concat + text write; `sortWithinPartitions`
    * keeps each output file deterministically ordered without a global
    * sort's single-reducer bottleneck. */
  def ntriples(rows: DataFrame, dir: String): Unit =
    lines(rows, Seq(col("subj"), col("pred"), col("obj")), dir)

  /** N-Quads text sink: like [[ntriples]] with the graph term as the fourth
    * position (reference `defaultGraph` semantics — rows in the default
    * graph, a null/empty `graph` column, serialize as plain triples; the
    * reference emits quads via `ParseStage.parseQuads`). */
  def nquads(rows: DataFrame, dir: String): Unit = {
    val graph =
      if (rows.columns.contains("graph"))
        when(col("graph").isNull || col("graph") === "", lit(null: String))
          // ParseStage.parseQuads carries the raw defaultGraph IRI; wrap it
          // as a term unless the column already holds rendered term text
          .when(col("graph").startsWith("<") || col("graph").startsWith("_:"), col("graph"))
          .otherwise(concat(lit("<"), col("graph"), lit(">")))
      else lit(null: String)
    lines(rows, Seq(col("subj"), col("pred"), col("obj"), graph), dir)
  }

  /** One `terms … .` line per error-free row (a null term is left out),
    * written as text through the in-process `file:` filesystem, as the
    * stage snapshots are. */
  private def lines(rows: DataFrame, terms: Seq[Column], dir: String): Unit =
    rows.filter(col("error").isNull)
      .select(concat_ws(" ", terms :+ lit("."): _*).as("value"))
      .sortWithinPartitions("value")
      .write.mode("overwrite").options(InProcessChmod.options).text(dir)

  /** Materialize the triple table: pred_bucket partitions on disk, rows
    * co-located and sorted by subject within files. Counters: the row count
    * of each predicate bucket, `pred_bucket_0` … `pred_bucket_15`. */
  def triples(rows: DataFrame, dir: String, input: String): StageResult = {
    val bucketCounts = (0 until PredBuckets).map(b =>
      s"pred_bucket_$b" -> count(when(col("pred_bucket") === b, 1)))
    val done = committed(dir, bucketCounts.map(_._1), input)
    if (done.isDefined) return done.get._1
    val keyed = rows
      .filter(col("error").isNull)
      .withColumn("pred_bucket", pmod(xxhash64(col("pred")), lit(PredBuckets)).cast("int"))
      .withColumn("subj_hash", subjHash)
    val stage = beginWrite("triples", dir, input,
      keyed.repartition(col("subj_hash")).sortWithinPartitions("subj", "pred"), bucketCounts)
    stage.writer.partitionBy("pred_bucket").parquet(dataDir(dir))
    stage.commit()
  }
}

/** Explicit skew handling for pathological single-key hotspots, beyond what
  * AQE's skew-join split covers (north_rule requires explicit handling).
  */
object Skew {

  /** Replicated-salt join: `big` rows get a deterministic salt derived from
    * `saltSource` (any column with per-row entropy, e.g. the object term);
    * `small` is exploded across all salts. Equivalent to an equi-join on
    * `key`, but a hot key's rows spread across `salts` reducers.
    * Use only when `small` is too big to broadcast — broadcast beats salt.
    */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String, saltSource: String, salts: Int): DataFrame = {
    val b = big.withColumn("_salt", pmod(xxhash64(col(saltSource)), lit(salts)).cast("int"))
    val s = small.withColumn("_salt", explode(sequence(lit(0), lit(salts - 1))))
    b.join(s, Seq(key, "_salt")).drop("_salt")
  }
}
