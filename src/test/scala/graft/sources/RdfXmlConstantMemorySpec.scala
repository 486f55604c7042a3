package graft.sources

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.functions.{col, count, lit}

import graft.pipeline.SparkSuite

/** Reading a file through `format("rdfxml")` holds neither its text nor its
  * triples whole: the live heap stays flat while a 64 MB document streams
  * into a `noop` sink. The documents have no `rdf:ID`, so nothing the parser
  * keeps per document (the `rdf:ID` set) grows with them, and the tables of
  * names and IRIs it shares stop growing at their caps, in entries and in
  * the length of each entry. */
class RdfXmlConstantMemorySpec extends SparkSuite {

  private val FileBytes = 64L << 20

  /** Writes the document one resource at a time, so the test never holds
    * it either; `resource(n)` is the `n`th resource, of two triples. Returns
    * the document's triple count. */
  private def writeDocument(path: Path)(resource: Long => String): Long = {
    val out = Files.newBufferedWriter(path, UTF_8)
    var n = 0L
    try {
      out.write("""<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" xmlns:ex="http://e.org/">""")
      out.write('\n')
      var written = 0L
      while (written < FileBytes) {
        val r = resource(n)
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

  /** Reads the document `resource` makes twice: a warm-up pass that checks
    * its rows, then a measured pass into a `noop` sink. */
  private def assertFlatHeap(resource: Long => String): Unit = {
    val dir = Files.createTempDirectory("graft_rdfxml_mem")
    val file = dir.resolve("big.rdf")
    try {
      val triples = writeDocument(file)(resource)
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

  test("a 64 MB document streams through the source with a flat live heap") {
    assertFlatHeap(n =>
      s"""<rdf:Description rdf:about="http://e.org/s$n"><ex:p>value $n</ex:p>""" +
        s"""<ex:q rdf:resource="http://e.org/o${n % 1000}"/></rdf:Description>""" + "\n")
  }

  test("a 64 MB document of ever new names and namespaces keeps a flat live heap") {
    // Every resource declares a fresh prefix and namespace and uses a fresh
    // type and predicate name, so both the name table and the IRI tables
    // fill to their caps early in the document.
    assertFlatHeap(n =>
      s"""<n$n:T$n xmlns:n$n="http://e.org/ns$n/" rdf:about="http://e.org/s$n">""" +
        s"""<n$n:p$n>value $n</n$n:p$n></n$n:T$n>""" + "\n")
  }

  test("a 64 MB document of long names, namespaces and datatypes keeps a flat live heap") {
    // Every resource declares a namespace of 2,000 chars and uses a fresh
    // type and predicate of about 4,000 chars under it and a fresh datatype
    // of about 2,000, in more resources than the tables take entries: kept,
    // these names and IRIs would outgrow the bound.
    val long = "x" * 2000
    assertFlatHeap(n =>
      s"""<L:T$n$long xmlns:L="http://e.org/$long/" rdf:about="http://e.org/s$n">""" +
        s"""<L:p$n$long rdf:datatype="http://e.org/$long/d$n">$n</L:p$n$long></L:T$n$long>""" + "\n")
  }
}
