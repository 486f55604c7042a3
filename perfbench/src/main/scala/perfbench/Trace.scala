package perfbench

import java.util.Properties
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Maps a SQL execution to the layer (module of the program) that issued it.
  *
  * The key is the call site Spark records in
  * `SparkListenerSQLExecutionStart.details`: the innermost `graft.*` frame
  * names the function that ran the action. Inside `KgPipeline.run` the
  * snapshot stages all run their actions from `Materialize.snapshotStage`,
  * so there the stage is told apart by the snapshot directory the plan
  * writes or reads (`<out>/parse/data` is the parse stage, and so on).
  */
object Attribution {

  val Unattributed = "unattributed"

  /** Snapshot directory name of `KgPipeline.run` → layer. `canonical` is
    * linking and connected components fused into one stage; the benchmark
    * splits it with direct calls (see `Workloads.linkSplit`). */
  val SnapshotLayers: Map[String, String] = Map(
    "parse" -> "ParseStage",
    "mentions" -> "Ner",
    "canonical" -> "canonical",
    "triples_all" -> "Materialize.triples_all",
  )

  /** The layers one `KgPipeline.run` reports, in pipeline order. */
  val KgLayers: Seq[String] = Seq("ParseStage", "Ner", "canonical", "Materialize.triples_all",
    "Materialize.triples", "Materialize.adjacency", "KgPipeline.stats")

  private final case class Frame(cls: String, method: String)

  private val FrameRe = """^\s*(?:at\s+)?([\w$.]+)\.([\w$]+)\(.*""".r

  private def frames(details: String): Seq[Frame] =
    details.split("\n").toSeq.flatMap {
      case FrameRe(cls, m) if cls.startsWith("graft.") => Some(Frame(cls.stripSuffix("$"), m))
      case _ => None
    }

  private val InsertRe = """InsertIntoHadoopFsRelationCommand\s+\S*?/([^/\s,]+)/data\b""".r
  private val ScanRe = """/([^/\s,\]]+)/data\b""".r

  /** Snapshot directory an execution writes (preferred) or else reads. */
  private def snapshotDir(plan: String): Option[String] =
    InsertRe.findFirstMatchIn(plan).map(_.group(1))
      .orElse(ScanRe.findAllMatchIn(plan).map(_.group(1)).find(SnapshotLayers.contains))

  def layerOf(details: String, plan: String): String = {
    val fs = frames(details)
    if (fs.isEmpty) return Unattributed
    val inner = fs.head
    val simple = inner.cls.split('.').last
    val inPipeline = fs.exists(_.cls == "graft.pipeline.KgPipeline")
    if (inPipeline) {
      (simple, inner.method) match {
        case ("Linking" | "ConnectedComponents", _) => "canonical"
        case ("Materialize", "snapshotStage") =>
          snapshotDir(plan).flatMap(SnapshotLayers.get).getOrElse(Unattributed)
        case ("Materialize", "triples") => "Materialize.triples"
        case ("Materialize", "adjacency") => "Materialize.adjacency"
        case ("KgPipeline", "joinCanonical") => "Materialize.triples_all"
        case ("KgPipeline", _) => "KgPipeline.stats"
        case (other, _) => other
      }
    } else inner.cls match {
      case c if c.startsWith("graft.sources.") => "sources"
      case c if c.startsWith("graft.streaming.") => "streaming"
      case _ => simple
    }
  }
}

/** Totals of one layer over the traced interval. */
final case class LayerTotals(
    wallS: Double, taskS: Double, rowsOut: Long, shuffleBytes: Long,
    spillBytes: Long, writeBytes: Long, taskSkew: Double, jobs: Int, gcS: Double) {
  def metrics(prefix: String): Seq[(String, Double)] = Seq(
    s"$prefix.wall_s" -> wallS, s"$prefix.task_s" -> taskS, s"$prefix.rows_out" -> rowsOut.toDouble,
    s"$prefix.shuffle_bytes" -> shuffleBytes.toDouble, s"$prefix.spill_bytes" -> spillBytes.toDouble,
    s"$prefix.write_bytes" -> writeBytes.toDouble, s"$prefix.task_skew" -> taskSkew)
}

object LayerTotals {
  val Zero: LayerTotals = LayerTotals(0, 0, 0, 0, 0, 0, 1.0, 0, 0)
}

/** Spark listener that keys every SQL execution, job and task to a layer.
  *
  * A job carrying the local property [[LayerListener.ScopeKey]] belongs to
  * the scope the benchmark set around a direct call; every other job
  * belongs to the layer of its root SQL execution (see [[Attribution]]).
  * Wall time is summed over root executions, so nested executions are not
  * counted twice; task time, shuffle, spill and output bytes come from the
  * task metrics of the stages of each job.
  */
final class LayerListener extends SparkListener {
  import LayerListener._

  private final class Exec(var layer: String, val start: Long) { var end: Long = -1L }
  private final class Acc {
    var taskMs = 0L; var rows = 0L; var shuffle = 0L; var spill = 0L; var written = 0L
    var gcMs = 0L; var jobs = 0
    val stageTasks = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  }

  private val execs = mutable.LinkedHashMap[Long, Exec]()
  private val stageLayer = mutable.Map[Int, String]()
  private val accs = mutable.Map[String, Acc]()

  private def acc(layer: String): Acc = accs.getOrElseUpdate(layer, new Acc)

  override def onOtherEvent(event: SparkListenerEvent): Unit = synchronized {
    event match {
      case s: SparkListenerSQLExecutionStart =>
        if (s.rootExecutionId.forall(_ == s.executionId))
          execs(s.executionId) = new Exec(Attribution.layerOf(s.details, s.physicalPlanDescription), s.time)
      case e: SparkListenerSQLExecutionEnd =>
        execs.get(e.executionId).foreach(_.end = e.time)
      case _ =>
    }
  }

  private def rootExec(p: Properties): Option[Long] =
    Option(p).flatMap(pp => Option(pp.getProperty("spark.sql.execution.root.id"))
      .orElse(Option(pp.getProperty("spark.sql.execution.id")))).map(_.toLong)

  override def onJobStart(job: SparkListenerJobStart): Unit = synchronized {
    val scope = Option(job.properties).flatMap(p => Option(p.getProperty(ScopeKey)))
    val exec = rootExec(job.properties).flatMap(execs.get)
    scope.foreach(s => exec.foreach(_.layer = s))
    val layer = scope.orElse(exec.map(_.layer)).getOrElse(Attribution.Unattributed)
    job.stageIds.foreach(stageLayer(_) = layer)
    acc(layer).jobs += 1
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc(stageLayer.getOrElse(t.stageId, Attribution.Unattributed))
    val m = t.taskMetrics
    if (m != null) {
      a.taskMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.rows += m.outputMetrics.recordsWritten
      a.written += m.outputMetrics.bytesWritten
      a.shuffle += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.diskBytesSpilled
    }
    a.stageTasks.getOrElseUpdate(t.stageId, mutable.ArrayBuffer[Long]()) += t.taskInfo.duration
  }

  /** Per-layer totals after every posted event has been delivered. */
  def totals(sc: SparkContext): Map[String, LayerTotals] = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized {
      val wall = execs.values.filter(_.end >= 0).groupBy(_.layer)
        .map { case (l, es) => l -> es.map(e => e.end - e.start).sum / 1e3 }
      (accs.keySet ++ wall.keySet).map { l =>
        val a = accs.getOrElse(l, new Acc)
        val skews = a.stageTasks.values.filter(_.size >= 2).map { ds =>
          val s = ds.sorted
          val med = math.max(1L, s(s.size / 2))
          s.last.toDouble / med
        }
        l -> LayerTotals(wall.getOrElse(l, 0.0), a.taskMs / 1e3, a.rows, a.shuffle, a.spill,
          a.written, if (skews.isEmpty) 1.0 else skews.max, a.jobs, a.gcMs / 1e3)
      }.toMap
    }
  }
}

object LayerListener {
  val ScopeKey = "perfbench.scope"

  /** Run `f` with every job it starts keyed to `layer`. */
  def scoped[T](sc: SparkContext, layer: String)(f: => T): T = {
    val prev = sc.getLocalProperty(ScopeKey)
    sc.setLocalProperty(ScopeKey, layer)
    try f finally sc.setLocalProperty(ScopeKey, prev)
  }
}
