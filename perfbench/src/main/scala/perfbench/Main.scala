package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** One benchmark run inside one JVM: set-up, warm-up, the measured passes of
  * one workload, the data the output checks need, and with `--trace 1` the
  * per-layer numbers. Writes its figures as one JSON object to `--out`;
  * `perfbench/run.py` checks the outputs and prints the result line.
  *
  * {{{
  * Main --workload kg_build --inputs <dir> --work <dir> --seconds 12 --trace 0 --out <file>
  * }}}
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = opt("work")
    val run = new Run(opt("inputs"), work, opt("seconds").toDouble, opt("trace") == "1")
    // The JVM's first session start, as a graft.KgMain run makes it: class
    // loading (from the class-data-sharing archive), static initialisation,
    // SparkContext start-up and function registration all happen here.
    val (spark, setup) = Run.timed(Session.start(work))
    run.metric("setup_s", setup)
    try {
      opt("workload") match {
        case "kg_build" => Workloads.kgBuild(spark, run)
        case "link_heavy" => Workloads.linkHeavy(spark, run)
        case "rdfxml_file" => Workloads.rdfxmlFile(spark, run)
        case "suite" => Workloads.suite(spark, run)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    } catch {
      case e: Throwable =>
        run.op(ok = false, s"workload aborted: $e")
        e.printStackTrace()
    }
    Files.writeString(Paths.get(opt("out")), run.json)
    spark.stop()
  }
}

/** The SparkSession every workload runs on: 4 local cores, the settings
  * `graft.KgMain` uses, scratch space inside the work directory. */
object Session {
  val Cores = 4

  def start(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(s)
    s
  }
}

/** Figures, operation counts and failed checks of one run. */
final class Run(val inputs: String, val work: String, val seconds: Double, val trace: Boolean) {
  private val metrics = scala.collection.mutable.LinkedHashMap[String, Double]()
  private val checks = scala.collection.mutable.LinkedHashMap[String, String]()
  private val failures = scala.collection.mutable.ArrayBuffer[String]()
  var attempted = 0
  var failed = 0

  def metric(name: String, v: Double): Unit = metrics(name) = v
  def metrics(kv: Iterable[(String, Double)]): Unit = kv.foreach { case (k, v) => metric(k, v) }
  def checkPath(name: String, path: String): Unit = checks(name) = path

  /** One operation: counted, and counted as failed if `ok` is false. */
  def op(ok: Boolean, why: => String): Unit = { attempted += 1; if (!ok) { failed += 1; failures += why } }

  def dir(name: String): Path = {
    val p = Paths.get(work, name)
    Run.deleteTree(p)
    Files.createDirectories(p)
  }

  /** Runs `warmups` warm-up passes (numbered 0, -1, ...), then passes 1,
    * 2, ... until at least `minPasses` ran and `seconds` have been
    * measured; returns the measured walls. Each pass counts as one
    * attempted operation; one that throws ends the workload. */
  def measure(warmups: Int = 1, minPasses: Int = 3)(pass: Int => Double): Seq[Double] = {
    for (i <- 0 until warmups) {
      attempted += 1
      val (_, t) = Run.timed(pass(-i))
      System.err.println(f"[perfbench] warm-up pass: $t%.3f s")
    }
    val walls = scala.collection.mutable.ArrayBuffer[Double]()
    val t0 = System.nanoTime()
    while (walls.size < minPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      attempted += 1
      walls += pass(walls.size + 1)
      System.err.println(f"[perfbench] pass ${walls.size}: ${walls.last}%.3f s")
    }
    walls.toSeq
  }

  def json: String = {
    import Run.q
    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
    val m = metrics.map { case (k, v) => s"${q(k)}: ${num(v)}" }.mkString("{", ", ", "}")
    val c = checks.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ", ", "}")
    s"""{"attempted": $attempted, "failed": $failed, "metrics": $m, "checks": $c, """ +
      s""""failures": ${failures.map(q).mkString("[", ", ", "]")}}"""
  }
}

object Run {
  /** JSON string literal. */
  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val paths = Files.walk(p)
    try paths.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
    finally paths.close()
  }
}
