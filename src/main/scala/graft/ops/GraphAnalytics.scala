package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.pipeline.Linking
import graft.rdf.TripleColumns

/** Downstream graph analytics over the constructed knowledge graph — the
  * queries a KG consumer runs once materialization lands: degree
  * distribution, bounded multi-hop expansion, triangle counting on the
  * entity-similarity graph, and PageRank-style link analysis.
  *
  * All four are exact and DuckDB-oracle-able. PageRank deliberately runs in
  * **scaled integer arithmetic** (fixed-point): floating-point rank sums are
  * order-dependent across engines and partitionings, so a float PageRank can
  * never be hash-gated — and at cluster scale it is not even run-to-run
  * deterministic. Integer division and addition are associative enough
  * (sums of longs commute exactly), which makes the result bit-stable under
  * any partitioning.
  *
  * Scale notes (100 TB):
  *  - Node-edges are a narrow projection of the triple table; when read from
  *    the materialized bucketed triple table (Materialize.triples, bucketed
  *    by subject hash) the per-source aggregations below reuse that
  *    partitioning with no extra Exchange.
  *  - Two-hop expansion is where celebrity nodes explode (a hub with 10^7
  *    in-edges × 10^3 out-edges = 10^10 intermediate rows). The operator
  *    takes the standard production cut: intermediates above an out-degree
  *    cap are excluded (and the cap is part of the contract, mirrored in the
  *    oracle), so the join output is bounded by |E| × cap.
  *  - PageRank is one shuffle per iteration (contribution aggregation keyed
  *    by destination); ranks and out-degrees are both keyed by node, so AQE
  *    reuses the exchange. Each iteration's plan is cut with an eager
  *    localCheckpoint: without it the lineage doubles per iteration and the
  *    optimizer re-derives the whole chain at every action (same lesson as
  *    Linking.jaccardEdges; executor-local spill, no driver round-trip).
  */
object GraphAnalytics {

  /** Default celebrity cut for [[twoHopCounts]] intermediates. Named so the
    * caps-fire evidence query (`kg_cap_fired`) and its oracle reference the
    * SAME value the operator applies — a default change cannot silently
    * decouple the evidence from the cap (r5 ADVICE). */
  val DefaultMaxMidOut = 1024

  /** Default per-group distinct-mention cap for [[cooccurrence]] (same
    * single-source-of-truth contract as [[DefaultMaxMidOut]]). */
  val DefaultMaxPerGroup = 256

  /** Node→node edges of the parsed KG: IRI and blank-node objects are graph
    * edges; literal objects are node properties, not edges. DISTINCT pairs —
    * reachability/rank semantics, a multi-predicate pair is one edge. */
  def nodeEdges(triples: DataFrame): DataFrame =
    triples.filter(col("error").isNull && col("obj_type").isin(TripleColumns.IriType, TripleColumns.BNodeType))
      .select(col("subj").as("src"), col("obj").as("dst"))
      .distinct()

  /** Degree distribution of the triple table: how many subjects carry each
    * out-degree (triples per subject, properties included). Two stacked
    * aggregations, both with map-side partial combine; output is at most
    * |distinct degrees| rows — tiny at any scale. */
  def degreeHistogram(triples: DataFrame): DataFrame =
    triples.filter(col("error").isNull)
      .groupBy("subj").agg(count(lit(1)).as("degree"))
      .groupBy("degree").agg(count(lit(1)).as("n_nodes"))

  /** Per-source count of distinct nodes reachable in exactly two hops,
    * skipping intermediate nodes whose out-degree exceeds `maxMidOut` (the
    * celebrity cut — see the scale note above). */
  def twoHopCounts(edges: DataFrame, maxMidOut: Int = DefaultMaxMidOut): DataFrame = {
    // One cut for the thrice-consumed edge frame (cap aggregate + both hop
    // sides): the gated query's edges are a full parse + distinct, and
    // without the cut that derivation planned once per consumer (r7).
    val e = edges.localCheckpoint(true)
    val okMid = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
      .filter(col("outdeg") <= maxMidOut)
      .select(col("src").as("mid"))
    e.as("e1")
      .join(okMid, col("e1.dst") === col("mid"))
      .join(e.as("e2"), col("e1.dst") === col("e2.src"))
      .groupBy(col("e1.src").as("src"))
      .agg(countDistinct(col("e2.dst")).as("n_2hop"))
  }

  /** Global triangle count over an undirected edge list with the `a < b`
    * canonical-order invariant (Linking.jaccardEdges emits exactly that).
    * The ordering makes each triangle {a,b,c} countable exactly once as
    * (a<b, b<c, a<c) — no division by 6, no symmetric closure blow-up.
    * Cost is bounded by the edge list itself (already DF-capped upstream);
    * the join is two equi-joins, never a cartesian. */
  def triangleCount(edges: DataFrame): DataFrame = {
    // Thrice-consumed edge list (e1/e2/e3): cut once — the gated query's
    // edges are the whole Jaccard-blocking chain (r7).
    val e = edges.select("a", "b").localCheckpoint(true)
    e.as("e1")
      .join(e.as("e2"), col("e2.a") === col("e1.b"))
      .join(e.as("e3"), col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** Multi-source BFS hop distances over directed edges, exact up to
    * `maxHops`: every seed is at distance 0; a node's distance is the
    * length of the shortest directed path from any seed. Output is
    * (node, dist) for exactly the nodes reachable within `maxHops` —
    * all-integer, deterministic under any partitioning, hence
    * driver-hash-gateable.
    *
    * Shape is the standard frontier BFS (the Pregel formulation): each
    * iteration joins only the NEWLY settled frontier against the edge
    * list, then anti-joins the visited set so a node is settled exactly
    * once at its true distance. At 100 TB the frontier is the working
    * set — typically a small fraction of |V| per hop — and the visited
    * anti-join is an equi-join on the node key, so each iteration is two
    * key shuffles over frontier-sized inputs, never |V|×|E|.
    *
    * Only each hop's NEW frontier is eagerly checkpointed (the pageRank
    * lineage lesson); the settled set is a union of those already-
    * materialized pieces, so the accumulated distances are never
    * re-materialized per hop. An empty frontier ends the loop early —
    * the Pregel convergence check; `isEmpty` on a checkpointed frame is
    * a cheap bounded driver action, and on a real graph it stops the
    * traversal the moment the reachable set is exhausted instead of
    * running maxHops empty join rounds. */
  def bfsDistances(edges: DataFrame, seeds: DataFrame, maxHops: Int = 3): DataFrame = {
    val e = edges.localCheckpoint(false) // consumed once per hop (lazy: first hop materializes, r7)
    val d0 = seeds.select(col("node")).distinct()
      .withColumn("dist", lit(0).cast("int"))
      .localCheckpoint(false)
    var settled = Vector(d0) // each element individually checkpointed
    var frontier = d0.select("node")
    // One count() per hop materializes the (lazily-marked) checkpoint AND
    // is the convergence check — the previous eager-checkpoint + isEmpty
    // pair ran two driver actions per hop for the same information (r7).
    var frontierSize = d0.count()
    var hop = 1
    while (hop <= maxHops && frontierSize > 0) {
      val visited = settled.map(_.select("node")).reduce(_ union _)
      val next = frontier.join(e, frontier("node") === e("src"))
        .select(e("dst").as("node")).distinct()
        .join(visited, Seq("node"), "left_anti")
        .withColumn("dist", lit(hop).cast("int"))
        .localCheckpoint(false)
      frontierSize = next.count()
      settled :+= next
      frontier = next.select("node")
      hop += 1
    }
    settled.reduce(_ union _)
  }

  /** Entity co-occurrence edge weights: for every unordered mention pair,
    * the number of grouping units (conversations) where both occur — the
    * classic KG-construction signal for weighting candidate entity-entity
    * edges before link scoring.
    *
    * Scale shape: occurrences collapse to DISTINCT (group, mention) first
    * (bounding the self-join input by group cardinality, not raw
    * occurrence count), and groups with more than `maxPerGroup` distinct
    * mentions are excluded outright — the celebrity cut for pair
    * explosion; a 10⁵-mention mega-thread would otherwise contribute
    * 10¹⁰ pairs on its own. With the cut, join output is bounded by
    * |groups| × maxPerGroup². The cut and the pair count are the
    * shared-key pair join ([[Linking.sharedKeyPairs]]) with the group as
    * the key and the mention as the id: `n_convs` is its shared-key count,
    * and the `<` canonical order counts each pair once per group. */
  def cooccurrence(mentionOcc: DataFrame, maxPerGroup: Int = DefaultMaxPerGroup): DataFrame = {
    // One cut for the thrice-consumed distinct frame (cap aggregate + both
    // self-join sides): without it the pair self-join planned the whole
    // upstream occurrence derivation once per consumer — 8 scans of the
    // corpus in the gated query's plan (r7).
    // Eager: the consumers run concurrently in the final action.
    val m = mentionOcc.select("conv_id", "mention").distinct().localCheckpoint(true)
    Linking.sharedKeyPairs(m, "mention", "conv_id", maxPerGroup)
      .withColumnRenamed("n", "n_convs")
  }

  /** Fixed-point integer PageRank: every node starts with `scale` units of
    * rank mass; each iteration a node keeps 15% of `scale` as teleport base
    * and receives 85% of the summed integer contributions
    * `rank div out_degree` from its in-neighbors. Dangling-node mass is
    * dropped (the usual simple variant), identically on both engines.
    *
    * All arithmetic is integral (`div`, `*`, `+` on BIGINT) so the result is
    * exactly reproducible across engines, partitionings, and cluster sizes —
    * the property that lets this be driver-hash-gated at all. Bounds: total
    * mass never exceeds nodes×scale; with scale = 10^9 that stays far under
    * 2^63 up to ~10^9 nodes. The 85% damping step is computed as
    * `85*(c div 100) + (85*(c mod 100)) div 100` — identical to
    * `(85*c) div 100` for the non-negative `c` here, but its largest
    * intermediate is bounded by `c` itself, so a celebrity node whose
    * aggregated inbound contribution approaches total-mass scale cannot
    * push the pre-division product past Long.MaxValue (ANSI mode, the
    * Spark 4 default, would kill the job on that overflow). */
  def pageRank(triples: DataFrame, iterations: Int = 3,
               scale: Long = 1000000000L): DataFrame = {
    // One cut for the thrice-consumed edge frame (nodes, outdeg, contribSrc)
    // — without it each checkpoint below re-derives the filter + distinct
    // shuffle from the triple table (the Linking.jaccardEdges lesson).
    // All checkpoints are LAZY (r7): the lineage cut per iteration is
    // unchanged (each LogicalRDD truncates the plan), but the whole
    // recurrence now materializes inside the ONE job the final action
    // runs, instead of one eager count job per checkpoint — at any scale
    // the per-iteration exchange work is identical, only the per-job
    // scheduling round-trips disappear.
    val edges = nodeEdges(triples).localCheckpoint(false)
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct()
      .localCheckpoint(false)
    val outdeg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val contribSrc = edges.join(outdeg, "src").localCheckpoint(false)
    val base = 15L * scale / 100L

    var ranks = nodes.withColumn("rank_fp", lit(scale))
    for (_ <- 1 to iterations) {
      val contribs = contribSrc
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"), expr("rank_fp div outdeg").as("c"))
        .groupBy("node").agg(sum("c").as("contrib"))
      ranks = nodes.join(contribs, Seq("node"), "left")
        .select(col("node"),
          expr(s"$base + 85 * (coalesce(contrib, 0L) div 100)" +
            " + (85 * (coalesce(contrib, 0L) % 100)) div 100").as("rank_fp"))
        .localCheckpoint(false) // cut per-iteration lineage growth
    }
    ranks
  }
}
