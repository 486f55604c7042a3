package graft.sources

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.functions.{col, count, lit}

import graft.pipeline.SparkSuite

/** Reading a file through `format("rdfxml")` holds neither its text nor its
  * triples whole: the live heap stays flat while a 64 MB document streams
  * into a `noop` sink. The document has no `rdf:ID`, so nothing the parser
  * keeps per document (the `rdf:ID` set) grows with it. */
class RdfXmlConstantMemorySpec extends SparkSuite {

  private val FileBytes = 64L << 20

  /** Writes the document one resource at a time, so the test never holds
    * it either; returns its triple count. */
  private def writeDocument(path: Path): Long = {
    val out = Files.newBufferedWriter(path, UTF_8)
    var n = 0L
    try {
      out.write("""<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" xmlns:ex="http://e.org/">""")
      out.write('\n')
      var written = 0L
      while (written < FileBytes) {
        val r = s"""<rdf:Description rdf:about="http://e.org/s$n"><ex:p>value $n</ex:p>""" +
          s"""<ex:q rdf:resource="http://e.org/o${n % 1000}"/></rdf:Description>""" + "\n"
        out.write(r)
        written += r.length
        n += 1
      }
      out.write("</rdf:RDF>\n")
    } finally out.close()
    2 * n
  }

  /** Largest heap left live after a full collection, sampled every
    * `periodMs` while `f` runs (perfbench's `peakLiveHeapMb` probe). */
  private def peakLiveHeap(periodMs: Long)(f: => Unit): Long = {
    val heap = ManagementFactory.getMemoryMXBean
    @volatile var running = true
    val peak = new AtomicLong
    val sampler = new Thread(() => while (running) {
      System.gc()
      peak.accumulateAndGet(heap.getHeapMemoryUsage.getUsed, math.max)
      Thread.sleep(periodMs)
    })
    sampler.start()
    try f finally { running = false; sampler.join() }
    peak.get
  }

  test("a 64 MB document streams through the source with a flat live heap") {
    val dir = Files.createTempDirectory("graft_rdfxml_mem")
    val file = dir.resolve("big.rdf")
    try {
      val triples = writeDocument(file)
      assert(Files.size(file) >= FileBytes)
      def scan() = spark.read.format("rdfxml").load(dir.toString)
      // Warm the read path first, so the baseline includes what the first
      // job leaves behind (codegen caches, broadcast configuration).
      val r = scan().agg(count(lit(1)), count(col("error"))).head()
      assert(r.getLong(0) == triples && r.getLong(1) == 0L, r)

      val heap = ManagementFactory.getMemoryMXBean
      System.gc()
      val baseline = heap.getHeapMemoryUsage.getUsed
      val peak = peakLiveHeap(50)(scan().write.format("noop").mode("overwrite").save())
      val bound = baseline + Files.size(file) / 2
      assert(peak < bound,
        f"peak live heap ${peak / 1e6}%.1f MB exceeds the baseline ${baseline / 1e6}%.1f MB plus half the file")
    } finally {
      Files.deleteIfExists(file)
      Files.deleteIfExists(dir)
    }
  }
}
