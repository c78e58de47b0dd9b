package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField,
  StructType}

/** Graph analytics over relational edge tables. PageRank-style centrality
  * is a standard pretraining-data quality signal (host/domain importance
  * over the crawl's link graph); here it's expressed as pure relational
  * iterations so Catalyst plans every step — no graph runtime needed.
  *
  * Scale design (100 TB): each iteration is ONE join of the edge table
  * against the (node-sized) rank table plus ONE aggregation on dst — the
  * edge table partitions on src once and every iteration reuses that
  * layout; ranks are node-sized, orders of magnitude smaller than edges.
  * Iteration count is a fixed parameter (the oracle unrolls the same
  * count), not a convergence loop — production runs pick the usual 10-20.
  *
  * Numerics: ranks live as LONGS at a fixed 1e10 scale. The per-edge
  * division and the damping step each round half-up portably
  * (`floor(x + 0.5)` — engines disagree on round()'s tie direction), so
  * every SUM is an order-free exact integer fold and the result is
  * bit-stable under any partitioning — and bit-equal to the DuckDB
  * oracle. Scaled ranks stay < ~1e13 per node, far inside double's
  * 2^53 exact-integer range; sums on the aggregation side are exact
  * 64-bit adds.
  */
object Graph {

  private val Scale = 10000000000L // 1e10: rank 1.0 in scaled-long units

  /** Simplified PageRank (no dangling-mass redistribution — dangling
    * nodes keep the base score; document sinks explicitly if the edge set
    * has them). Input: (src, dst) edges, any numeric/string node type.
    * Output: (id, pagerank) one row per node appearing in the edge set.
    */
  def pageRank(edges: DataFrame, iterations: Int = 3,
      damping: Double = 0.85, base: Double = 0.15): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    // checkpoint the (possibly join-derived) edge set ONCE: every
    // iteration joins it, and without the cut each round re-derives the
    // upstream edge pipeline (the kCore lesson — its scaladoc has the
    // 198s-vs-1s measurement)
    val e = edges.select(col("src"), col("dst")).distinct()
      .localCheckpoint(false)
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val baseL = math.round(base * Scale)
    var pr: DataFrame = nodes.withColumn("prl", lit(Scale))
    for (it <- 1 to iterations) {
      val contrib = e
        .join(pr.withColumnRenamed("id", "src"), "src")
        .join(outdeg, "src")
        .select(col("dst"),
          floor(col("prl").cast("double") / col("outdeg") + 0.5)
            .as("c"))
      val inbound = contrib.groupBy(col("dst")).agg(sum(col("c")).as("s"))
      pr = nodes
        .join(inbound.withColumnRenamed("dst", "id"), Seq("id"), "left")
        .select(col("id"),
          (lit(baseL) + floor(lit(damping) *
            coalesce(col("s"), lit(0L)).cast("double") + 0.5)).as("prl"))
      // Iterative lineage grows the plan linearly; past a handful of
      // rounds, analysis/codegen time dominates. Cut it at the node-sized
      // rank table every 5 iterations (lazy checkpoint: no extra action,
      // values unchanged — 10-20-iteration production runs stay planar).
      if (it % 5 == 0 && it < iterations)
        pr = pr.localCheckpoint(false)
    }
    pr.select(col("id"),
      (col("prl").cast("double") / lit(Scale.toDouble)).as("pagerank"))
  }

  /** Personalized PageRank: identical scaled-long iteration scheme to
    * [[pageRank]], but the restart mass lands ONLY on `seeds` (one `id`
    * column) — non-seed nodes get score exclusively through propagation.
    * This is the seed-expansion primitive of data curation: "find more
    * documents like this vetted set" over the near-dup / citation graph.
    *
    * Scale design matches [[pageRank]]: each iteration is one edge⋈rank
    * join plus one dst aggregation; the seed flag is node-sized and rides
    * the same rank-table join. Same portable floor(x+0.5) rounding, so
    * every fold is an exact integer sum, bit-equal to the unrolled oracle.
    */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
      iterations: Int = 3, damping: Double = 0.85,
      restart: Double = 0.15): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    // one edge cut for all iterations (see pageRank)
    val e = edges.select(col("src"), col("dst")).distinct()
      .localCheckpoint(false)
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
    val flagged = nodes
      .join(seeds.select(col("id")).distinct().withColumn("__s", lit(1)),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("__s"), lit(0)).as("is_seed"))
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val restartL = math.round(restart * Scale)
    var pr: DataFrame = flagged.select(col("id"),
      when(col("is_seed") === 1, lit(Scale)).otherwise(lit(0L)).as("prl"))
    for (it <- 1 to iterations) {
      val contrib = e
        .join(pr.withColumnRenamed("id", "src"), "src")
        .join(outdeg, "src")
        .select(col("dst"),
          floor(col("prl").cast("double") / col("outdeg") + 0.5)
            .as("c"))
      val inbound = contrib.groupBy(col("dst")).agg(sum(col("c")).as("s"))
      pr = flagged
        .join(inbound.withColumnRenamed("dst", "id"), Seq("id"), "left")
        .select(col("id"),
          (when(col("is_seed") === 1, lit(restartL)).otherwise(lit(0L)) +
            floor(lit(damping) *
              coalesce(col("s"), lit(0L)).cast("double") + 0.5)).as("prl"))
      if (it % 5 == 0 && it < iterations)
        pr = pr.localCheckpoint(false)
    }
    pr.select(col("id"),
      (col("prl").cast("double") / lit(Scale.toDouble)).as("ppr"))
  }

  /** Weighted PageRank: [[pageRank]] with per-edge weights — each node
    * splits its rank proportionally to edge weight instead of uniformly
    * (on a near-dup graph weighted by signature agreement, strong
    * duplicates pull rank harder than borderline matches). Input:
    * (src, dst, w) with integer weights ≥ 1. Same scaled-long scheme;
    * the per-edge share is floor(prl·w/Σw + 0.5), every sum an exact
    * integer fold. prl·w stays < ~2^54 for weights ≤ ~100, inside
    * double's exact-integer range (require()d).
    */
  def weightedPageRank(edges: DataFrame, iterations: Int = 3,
      damping: Double = 0.85, base: Double = 0.15): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val e = edges.select(col("src"), col("dst"), col("w").cast("long"))
      .groupBy(col("src"), col("dst")).agg(max(col("w")).as("w"))
      .localCheckpoint(false) // one edge cut for all iterations (see pageRank)
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
    val outw = e.groupBy(col("src")).agg(sum(col("w")).as("sw"))
    val baseL = math.round(base * Scale)
    var pr: DataFrame = nodes.withColumn("prl", lit(Scale))
    for (it <- 1 to iterations) {
      val contrib = e
        .join(pr.withColumnRenamed("id", "src"), "src")
        .join(outw, "src")
        .select(col("dst"),
          floor(col("prl").cast("double") * col("w") / col("sw") + 0.5)
            .as("c"))
      val inbound = contrib.groupBy(col("dst")).agg(sum(col("c")).as("s"))
      pr = nodes
        .join(inbound.withColumnRenamed("dst", "id"), Seq("id"), "left")
        .select(col("id"),
          (lit(baseL) + floor(lit(damping) *
            coalesce(col("s"), lit(0L)).cast("double") + 0.5)).as("prl"))
      if (it % 5 == 0 && it < iterations)
        pr = pr.localCheckpoint(false)
    }
    pr.select(col("id"),
      (col("prl").cast("double") / lit(Scale.toDouble)).as("wpagerank"))
  }

  /** Synchronous label propagation (community detection): every node
    * starts as its own label; each round, a node adopts the most frequent
    * label among its neighbors, ties broken toward the SMALLEST label, and
    * isolated-in-this-round nodes keep theirs. A fixed `iterations` count
    * (not a convergence loop) keeps it deterministic and oracle-unrollable
    * — communities on a near-dup graph are template families (looser than
    * d08's connected components, which merge through every borderline
    * chain edge; LPA needs a PLURALITY, so one weak edge doesn't glue two
    * dense clusters).
    *
    * Scale design: each round is one edge⋈label join (edges partition on
    * dst once and every round reuses the layout) and two same-key
    * aggregations on src — never a window over the corpus. The tie rule
    * folds into ONE max(struct(n, -lbl)) aggregate, so per-group state is
    * a single struct, map-side combinable. Labels are node-sized; the
    * iterative lineage is cut every 5 rounds like pageRank.
    */
  def labelPropagation(edges: DataFrame, iterations: Int = 3): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    // undirected: propagate across both orientations
    val e = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst")).distinct()
      .localCheckpoint(false) // one edge cut for all rounds (see pageRank)
    val nodes = e.select(col("src").as("id")).distinct()
    var lbl: DataFrame = nodes.withColumn("lbl", col("id"))
    for (it <- 1 to iterations) {
      val neigh = e.join(lbl.withColumnRenamed("id", "dst"), "dst")
        .groupBy(col("src"), col("lbl"))
        .agg(count(lit(1)).as("n"))
      val pick = neigh.groupBy(col("src"))
        .agg(max(struct(col("n"), (-col("lbl")).as("negl"))).as("m"))
        .select(col("src").as("id"), (-col("m.negl")).as("lbl"))
      lbl = nodes.join(pick, Seq("id"), "left")
        .select(col("id"), coalesce(col("lbl"), col("id")).as("lbl"))
      if (it % 5 == 0 && it < iterations)
        lbl = lbl.localCheckpoint(false)
    }
    lbl.select(col("id"), col("lbl").as("community"))
  }

  /** Per-node triangle counts of an undirected graph — the local
    * clustering signal (a near-dup graph whose nodes close many triangles
    * is a dense boilerplate cluster, not a chain of borderline matches).
    *
    * Edges are canonicalized to a < b, so each triangle materializes
    * exactly once as an ordered wedge a < b < c closed by edge (a, c);
    * the count distributes to all three corners. Wedge generation is the
    * classic two-path self-join partitioned on the shared vertex; at
    * 100 TB the canonical orientation already bounds wedge fan-out by
    * each vertex's HIGHER-id degree (the standard degree-orientation
    * trick falls out of the a < b ordering for free on graphs whose hubs
    * have random ids; cap hot vertices upstream like the band caps if the
    * id order correlates with degree). Output: (id, n_triangles), nodes
    * in no triangle omitted.
    */
  /** Bounded-round k-core peel: repeatedly drop nodes whose degree in
    * the SURVIVING subgraph is below `k`, `rounds` times, then report
    * each survivor with its induced-subgraph degree. The k-core is the
    * density filter of graph curation — a near-dup cluster that survives
    * the 3-core is template boilerplate, while chains and pendant
    * borderline matches peel away (triangleCounts' global twin).
    *
    * A fixed round count (the oracle unrolls the same count) bounds the
    * iteration like [[pageRank]]; it equals the true k-core once no
    * round removes a node — GraphSpec asserts convergence on its
    * fixtures, and `core_deg >= k` for every emitted row certifies a
    * converged run (a non-converged peel leaves smaller degrees to spot).
    *
    * Scale: each round is one self-semi-join of the (src-partitioned)
    * adjacency against the alive set plus one degree aggregation —
    * node-sized state, edge-sized work, no windows; lineage cut every
    * 5 rounds.
    */
  def kCore(edges: DataFrame, k: Int, rounds: Int = 3): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val adj = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    // Checkpoint the adjacency ONCE: each peel round references it from
    // TWO semi joins, so without the cut the logical plan doubles per
    // round and re-derives the (possibly expensive) edge input 2^rounds
    // times — measured 198 s for 3 rounds over the minhash-pair graph at
    // sf0.1 vs ~1 s with the cuts. Same for `alive` after every round:
    // it's node-sized, and an uncut round-r plan nests rounds 1..r-1.
    val both = adj.select(col("a").as("z"), col("b").as("x"))
      .union(adj.select(col("b").as("z"), col("a").as("x")))
      .localCheckpoint(false)
    var alive: DataFrame = both.select(col("z").as("id")).distinct()
    def aliveDeg(a: DataFrame): DataFrame = both
      .join(a.withColumnRenamed("id", "z"), Seq("z"), "left_semi")
      .join(a.withColumnRenamed("id", "x"), Seq("x"), "left_semi")
      .groupBy(col("z")).agg(count(lit(1)).as("deg"))
    for (r <- 1 to rounds) {
      alive = aliveDeg(alive).filter(col("deg") >= k)
        .select(col("z").as("id"))
      if (r < rounds) alive = alive.localCheckpoint(false)
    }
    aliveDeg(alive)
      .select(col("z").as("id"), col("deg").as("core_deg"))
  }

  /** Link prediction over an undirected graph: for every NON-adjacent
    * node pair sharing at least one common neighbor, the classic
    * neighborhood-overlap scores — common-neighbor count, Jaccard of
    * the two neighbor sets, and the resource-allocation index
    * (sum over common neighbors z of 1/deg(z)) kept in exact integer
    * micro-units (`1000000 div deg(z)`) so the per-pair aggregation is
    * an order-free integer fold — bit-stable under any partitioning
    * and bit-equal across engines (no floating sums; the one Jaccard
    * division happens last on exact integers).
    *
    * In a near-dup curation graph this ranks probable same-template
    * pairs the banded generators missed: the signal looks two hops out,
    * so it's the recall-repair pass after capped LSH.
    *
    * Scale: every stage keys on the CENTER node z — one self-join
    * shuffle of the adjacency on z, with the center-degree join reusing
    * that key; the leaf-degree attach is one node-keyed join of the
    * edge-sized adjacency. Wedge volume is sum_z deg(z)^2 — quadratic
    * in hub degree and inherent to the metric — so `maxCenterDegree`
    * drops hub CENTERS (standard practice: a hub's RA weight 1/deg(z)
    * is ~zero signal, and hub wedges are exactly the quadratic blowup).
    * Output: (a, b, common_neighbors, ra_micros, jaccard), a < b.
    */
  def linkPrediction(edges: DataFrame,
      maxCenterDegree: Int = 0): DataFrame = {
    val ec = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val adj = ec.select(col("a").as("z"), col("b").as("x"))
      .union(ec.select(col("b").as("z"), col("a").as("x")))
    val deg = adj.groupBy(col("z")).agg(count(lit(1)).as("deg"))
    val centers0 = deg.select(col("z"), col("deg").as("degz"))
    val centers = if (maxCenterDegree > 0)
      centers0.filter(col("degz") <= maxCenterDegree) else centers0
    // leaf degree rides the adjacency row, so the wedge join emits both
    // endpoint degrees for free
    val adjx = adj.join(
      deg.select(col("z").as("x"), col("deg").as("degx")), "x")
    val wedges = adjx
      .select(col("z"), col("x").as("xa"), col("degx").as("dega"))
      .join(adjx.select(col("z"), col("x").as("xb"),
        col("degx").as("degb")), "z")
      .filter(col("xa") < col("xb"))
      .join(centers, "z")
    val cand = wedges
      .groupBy(col("xa"), col("xb"), col("dega"), col("degb"))
      .agg(count(lit(1)).as("common_neighbors"),
        sum(expr("1000000 div degz")).as("ra_micros"))
    cand
      .join(ec, col("xa") === col("a") && col("xb") === col("b"),
        "left_anti")
      .select(col("xa").as("a"), col("xb").as("b"),
        col("common_neighbors"), col("ra_micros"),
        round(col("common_neighbors").cast("double") /
          (col("dega") + col("degb") - col("common_neighbors")), 6)
          .as("jaccard"))
  }

  /** Bipartite co-occurrence projection: project the doc↔token incidence
    * onto a weighted token↔token graph (weight = number of docs where
    * both occur) — the concept-graph builder behind related-terms,
    * topic seeds, and embedding-training co-occurrence counts.
    *
    * The quadratic hazards and their bounds: a hub TOKEN (stopword-like
    * df) is dropped by the [minDf, floor(maxDfRatio·N)] document-
    * frequency band — the classic projection pruner, RELATIVE to corpus
    * size so the same call scales from test SF to production (and minDf
    * kills the long hapax tail before the join); a hub DOC emits pairs
    * quadratic in its DISTINCT eligible tokens, which the df band also
    * shrinks and doc length bounds. Pair generation keys on the doc id
    * (one shuffle), the pair count on (tok_a, tok_b) (second shuffle);
    * the final top-k is TakeOrderedAndProject, never a global sort, and
    * rank is assigned after the cut so the un-partitioned window sees
    * `topK` rows. The corpus count rides in as a broadcast single-row
    * cross join — no driver-side action.
    */
  def cooccurrenceProjection(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", minDf: Int = 3, maxDfRatio: Double = 0.78,
      minCount: Int = 2, topK: Int = 40): DataFrame = {
    require(minDf >= 1, "minDf must be >= 1")
    require(maxDfRatio > 0 && maxDfRatio <= 1, "maxDfRatio in (0, 1]")
    val n = docs.agg(count(lit(1)).as("__n"))
    val tok = docs.select(col(idCol),
        explode(split(col(textCol), "\\s+")).as("tok0"))
      .select(col(idCol), lower(col("tok0")).as("tok"))
      .filter(col("tok").rlike("^[a-z]{4,}$"))
      .distinct()
    val dfs = tok.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(n))
      .filter(col("df") >= minDf &&
        col("df") <= floor(col("__n") * maxDfRatio).cast("long"))
    val el = tok.join(dfs.select(col("tok")), "tok")
    val pairs = el.select(col(idCol), col("tok").as("tok_a"))
      .join(el.select(col(idCol), col("tok").as("tok_b")), Seq(idCol))
      .filter(col("tok_a") < col("tok_b"))
      .groupBy(col("tok_a"), col("tok_b"))
      .agg(count(lit(1)).as("co_docs"))
      .filter(col("co_docs") >= minCount)
    pairs.orderBy(col("co_docs").desc, col("tok_a"), col("tok_b"))
      .limit(topK)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("co_docs").desc, col("tok_a"), col("tok_b"))))
  }

  def triangleCounts(edges: DataFrame): DataFrame = {
    val e = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val wedges = e.as("x").join(e.as("y"), col("x.b") === col("y.a"))
      .select(col("x.a").as("a"), col("x.b").as("b"), col("y.b").as("c"))
    val tris = wedges.join(
      e.select(col("a").as("__ca"), col("b").as("__cc")),
      col("a") === col("__ca") && col("c") === col("__cc"), "left_semi")
    tris.select(explode(array(col("a"), col("b"), col("c"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("n_triangles"))
  }

  /** k-hop reachability counts: for each seed node, how many DISTINCT
    * nodes sit at BFS distance exactly 1, 2, …, `k` — the neighborhood
    * growth profile (contamination blast radius on a near-dup graph,
    * influence reach on an interaction graph). Input: (src, dst) edges
    * (treated as directed; pre-union the reverse for undirected),
    * `seeds` with a `seed` column.
    *
    * Distributed BFS, frontier form: each hop joins the CURRENT frontier
    * (not the visited set) against the edge list, then anti-joins the
    * visited set — per-hop cost |frontier⋈edges|, the textbook
    * level-synchronous formulation. The visited/frontier tables are
    * localCheckpoint'ed each hop so the k-deep lineage never re-executes
    * and the planner sees node-sized leaf tables.
    *
    * The edge set is deduped and cut ONCE, but each hop's join does
    * re-shuffle it: with AQE enabled (the shipped config),
    * localCheckpoint's LogicalRDD does NOT surface its partitioning to
    * the adaptive planner, so pre-repartitioning by `src` buys nothing
    * and costs an extra exchange (verified empirically on this Spark
    * version; it also would pin hub-node skew into the materialized RDD
    * where AQE's skew-join split can no longer reach it). If a future
    * Spark propagates checkpoint partitioning under AQE, the k-hops-one-
    * edge-shuffle layout becomes worth revisiting.
    *
    * Output: (seed, dist, n_nodes), dist in 1..k, rows only where
    * n_nodes > 0. The seed itself (dist 0) is not emitted.
    */
  def kHopCounts(edges: DataFrame, seeds: DataFrame, k: Int = 3): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // one cut for the (possibly join-derived) edge set — every hop joins
    // it on src, and the final union references every hop; plain
    // distinct() keeps the partial aggregate collapsing duplicates
    // map-side before the one dedup shuffle (see scaladoc for why a
    // src-repartition here is a net loss under AQE)
    val e = edges.select(col("src"), col("dst")).distinct()
      .localCheckpoint(false)
    var visited = seeds.select(col("seed"), col("seed").as("node"))
      .distinct().localCheckpoint(false)
    var frontier = visited
    val levels = (1 to k).map { d =>
      val next = frontier.join(e, col("node") === col("src"))
        .select(col("seed"), col("dst").as("node")).distinct()
        .join(visited, Seq("seed", "node"), "left_anti")
        .localCheckpoint(false)
      // visited is a union of already-checkpointed frontiers — k cached
      // leaf scans, constant lineage depth — so re-materializing the
      // whole (growing) visited set each hop would only duplicate
      // blocks already in the block manager
      visited = visited.unionByName(next)
      frontier = next
      next.groupBy(col("seed"))
        .agg(count(lit(1)).as("n_nodes")).withColumn("dist", lit(d))
    }
    levels.reduce(_ unionByName _)
      .select(col("seed"), col("dist"), col("n_nodes"))
  }

  /** Scale-adaptive per-hop checkpoint policy for [[reachSketch]] —
    * the batch analogue of the streaming
    * [[graft.streaming.StreamOps.adaptiveStatePartitions]] discipline
    * (optimization-guide §2: derive the layout decision from input size,
    * not a constant tuned for either local mode or the cluster).
    *
    * Per-hop `localCheckpoint` buys constant lineage depth and hop reuse
    * (hop d's table is read by hop d+1 AND its own read-off), at the
    * price of one materialization JOB per hop — scheduling, a full
    * block-manager write of V×(m+1) longs, and a plan/codegen round.
    * Skipping it fuses the whole k-hop chain into one query whose
    * read-offs re-execute shared hop prefixes (k(k+1)/2 hop-joins
    * instead of k). Which side wins is a pure size question — measured
    * on the order graph (k=3, m=64):
    *
    *   - sf0.1 (17 MB input, E=1.2M): cut 4.90 s vs NO-cut 2.09 s (2.3×)
    *   - sf1  (178 MB input, E=12M):  cut 13.81 s vs NO-cut 5.05 s (2.7×)
    *
    * — per-hop fixed cost dominates hop compute through at least a
    * decade of scale. Checkpoints stay ON from [[HopCheckpointBytes]] of
    * input up (multi-TB production graphs, where re-executing a hop join
    * is minutes and materializing V rows is not). Output is invariant
    * either way — the checkpoint is a lineage boundary, never a
    * semantic. An input of unknown size
    * ([[graft.streaming.StreamOps.UnknownBytes]]) keeps checkpoints on.
    *
    * Depth decides too: each fused hop reads the previous hop's table
    * twice (the merge's union and the edge join), so the fused plan
    * doubles per hop. At g20–g22's k = 3 that is 8 copies of hop 1; at
    * g23's k = 10 it is 1024, and that plan sat more than 5 minutes in
    * Catalyst's analysis before running. A run deeper than
    * [[MaxFusedHops]] cuts every hop whatever its input size.
    */
  def adaptiveHopCheckpoint(inputBytes: Long, k: Int): Boolean =
    k > MaxFusedHops || inputBytes > HopCheckpointBytes

  /** Input size from which [[adaptiveHopCheckpoint]] cuts every hop. */
  private val HopCheckpointBytes = 1L << 30

  /** Deepest run [[adaptiveHopCheckpoint]] fuses: g20–g22's depth. */
  private val MaxFusedHops = 3

  /** Widest seed set [[kHopCountsBitset]] runs as bitsets: 64 words. */
  val MaxBitsetSeeds = 4096

  /** [[kHopCounts]] with the per-seed reach sets held as BITMASK COLUMNS
    * instead of (seed, node) rows — identical output, one decision per
    * bit (optimization-guide §8: decide with small rows).
    *
    * The row form materializes every (seed, node) pair three times per
    * hop: the frontier⋈edges join EXPLODES to |frontier|×avg-degree rows
    * (22M at sf0.1 hop 3, from a 1.7M-pair frontier over 1.2M edges),
    * then a distinct shuffles them, then a left_anti re-shuffles against
    * the (growing) visited set — measured 1.0/1.8/3.2 s for hops 1/2/3
    * at sf0.1. Here a node's reach-from-which-seeds set is ⌈S/64⌉ LONG
    * words on ONE row per reached node, so a hop is: edges ⋈ ball on
    * src (payload = the words, not pairs), `bit_or` partial-aggregated
    * by dst (the dedup is the OR — map-side combined, nothing explodes),
    * one V-row full_outer merge with the previous ball, and the newly-
    * reached bits are `merged & ~previous` per word. Per-seed counts
    * read off the new bits (set-bit explode of V rows, not E). State is
    * V×⌈S/64⌉ longs — 64× smaller than the row form's pair set, and
    * every shuffle is node-sized. The seed set is collected to the
    * driver to assign bit positions (bounded before it runs: at most
    * [[MaxBitsetSeeds]] + 1 seeds come back, and one past the guard
    * sends the call to the row form; it also fixes the column COUNT,
    * which must be known at plan time).
    *
    * Output is bit-identical to [[kHopCounts]] — exact BFS both ways,
    * same (seed, dist, n_nodes) rows, n_nodes > 0 only, seed not
    * counted — Round15Spec asserts equality on the spec fixture and the
    * sf0.001 order graph; the g07/g08/g18 oracles certify it end-to-end.
    *
    * Only CHANGED nodes enter each hop's join, the changed-set rule
    * [[reachSketch]] shares (HyperBall, Boldi & Vigna): OR is idempotent,
    * and a node unchanged since hop j was merged into all its
    * out-neighbors at hop j+1, so bits still arrive exactly one hop after
    * their source gains them. The merge yields the set for free: rows
    * whose new bits `merged & ~previous` are nonzero. Edges are taken as
    * given (a duplicate never changes a mask); every hop's merge is cut.
    */
  def kHopCountsBitset(edges: DataFrame, seeds: DataFrame, k: Int = 3)
      : DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = edges.sparkSession
    val seedArr: Array[Long] = seeds.select(col("seed").cast("long"))
      .distinct().orderBy(col("seed")).limit(MaxBitsetSeeds + 1)
      .collect().map(_.getLong(0))
    val outSchema = StructType(Seq(
      StructField("seed", LongType, nullable = false),
      StructField("dist", IntegerType, nullable = false),
      StructField("n_nodes", LongType, nullable = false)))
    if (seedArr.isEmpty)
      return spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), outSchema)
    // width guard: past MaxBitsetSeeds the mask spans > 64 word COLUMNS and
    // wide-row codegen degrades (method-size splits, per-row copy cost
    // grows with the full width even for sparse masks) — the row form is
    // the right shape when the probe set itself is huge. Identical
    // output either way; the fallback's defensive distinct is the price
    // of its public contract.
    if (seedArr.length > MaxBitsetSeeds)
      return kHopCounts(edges, seeds, k)
        .select(col("seed").cast("long").as("seed"), col("dist"),
          col("n_nodes"))
    val nW = (seedArr.length + 63) >>> 6
    val e = edges.select(col("src"), col("dst"))
    import spark.implicits._
    // driver-local relation (the collected seed set) — no cut needed
    val seedBits = seedArr.zipWithIndex.toSeq.toDF("seed", "bit")
    val ws = (0 until nW).map(i => col(s"w$i"))
    // hop-0 ball: each seed node carries exactly its own bit
    var ball = seedBits.select(col("seed").as("node") +:
      (0 until nW).map(i => expr(
        s"CASE WHEN bit >= ${i * 64} AND bit < ${(i + 1) * 64} " +
        s"THEN shiftleft(CAST(1 AS BIGINT), CAST(bit % 64 AS INT)) " +
        s"ELSE CAST(0 AS BIGINT) END").as(s"w$i")): _*)
    // hop 0: every seed's mask is new (the changed-set rule, scaladoc)
    var changed = ball
    val perHop = (1 to k).map { d =>
      // candidate mask per dst: OR of in-neighbors' current balls — the
      // dedup IS the OR, partial-aggregated map-side; nothing explodes
      val orM = e.join(changed, e("src") === changed("node"))
        .select(e("dst").as("node") +: ws: _*)
        .groupBy(col("node"))
        .agg(expr("bit_or(w0)").as("w0"),
          (1 until nW).map(i => expr(s"bit_or(w$i)").as(s"w$i")): _*)
      // merge with the previous ball; new bits = candidate & ~previous
      val merged =
        ball.as("b").join(orM.as("o"), Seq("node"), "full_outer")
          .select(col("node") +:
            ((0 until nW).map(i => expr(
                s"coalesce(b.w$i, CAST(0 AS BIGINT)) | " +
                s"coalesce(o.w$i, CAST(0 AS BIGINT))").as(s"w$i")) ++
             (0 until nW).map(i => expr(
                s"coalesce(o.w$i, CAST(0 AS BIGINT)) & " +
                s"~coalesce(b.w$i, CAST(0 AS BIGINT))").as(s"n$i"))): _*)
          .localCheckpoint(false)
      ball = merged.select(col("node") +: ws: _*)
      val grown =
        merged.filter((0 until nW).map(i => col(s"n$i") =!= 0L).reduce(_ || _))
      changed = grown.select(col("node") +: ws: _*)
      // per-seed counts of this hop's newly-set bits: set-bit explode of
      // the (node-sized) new masks, then bit → seed via the index table
      val newWords = (0 until nW).map(i => s"n$i").mkString(",")
      val bitsOf =
        s"filter(flatten(transform(sequence(0, ${nW - 1}), i -> " +
        s"transform(sequence(0, 63), j -> CASE WHEN " +
        s"(shiftright(element_at(array($newWords), i + 1), j) & 1) = 1 " +
        s"THEN i * 64 + j ELSE -1 END))), x -> x >= 0)"
      grown.select(explode(expr(bitsOf)).as("bit"))
        .groupBy(col("bit")).agg(count(lit(1)).as("n_nodes"))
        .join(broadcast(seedBits), "bit")
        .select(col("seed"), lit(d).as("dist"), col("n_nodes"))
    }
    perHop.reduce(_ unionByName _)
      .select(col("seed"), col("dist"), col("n_nodes"))
  }

  /** Sketch-based k-hop reach estimation — the 100 TB twin of the exact
    * [[kHopCounts]] BFS (HyperANF/HyperBall's iteration scheme, Boldi,
    * Rosa & Vigna 2011, on a MinHash register family instead of HLL so
    * every arithmetic step is cross-engine exact).
    *
    * Every node keeps `m` registers — register j holds the MINIMUM of the
    * deterministic 40-bit hash `md5Long(j || ':' || node) % 2^40` over the
    * node's current ball. Iteration d min-merges each node's registers
    * with its out-neighbors' previous registers, so after d rounds node
    * v's registers describe ball(v, d) = {nodes reachable from v in <= d
    * hops, v included} WITHOUT ever materializing the ball. The classic
    * min-of-n-uniforms estimator then reads the ball size off the register
    * sum: E[min] = H/(n+1), so n̂ = m·H/Σ − 1 (H = 2^40), relative sd
    * ~1/√m at EVERY cardinality (no HLL small-range regime). All steps are
    * integer min/sum plus ONE IEEE division — the DuckDB oracle builds the
    * IDENTICAL grid from the exact ball membership and lands on the same
    * bits (the t37 cmsEstimates discipline).
    *
    * Scale: this is the replacement for the only superlinear artifact in
    * the suite (VERDICT r9) — exact BFS carries a (seed × frontier) state
    * that grows ~SF^1.9 on this graph, while the sketch carries V·m longs
    * of state and each iteration is ONE edge⋈registers join + ONE
    * elementwise-min aggregation (map-side combined via the
    * [[graft.functions.MinhashUnion]] partial-agg path): O(E·m) per hop,
    * independent of seed count and frontier volume — you get EVERY node's
    * reach profile for the cost of one, with no all-pairs stage anywhere.
    *
    * With per-hop checkpoints only CHANGED rows enter a hop's edge join,
    * [[kHopCountsBitset]]'s rule: min is idempotent, so a row unchanged
    * since hop j already reached its in-neighbors at hop j+1. The merge
    * yields the set: it carries `max(prev)`, the sum of the node's own
    * registers (NULL on neighbor rows), and as min only lowers them, a
    * row changed exactly when its merged sum is below `prev`. (An EXCEPT
    * of the register tables per hop cost 182.7 s vs 96.7 s full hops at
    * sf10.) Each hop's cut is eager and counts its changed rows as an
    * observed metric of the same job; once a hop changes none, every
    * later dist re-reads its table and no further hop runs. Duplicate
    * edges change nothing.
    *
    * Output: (seed, dist, est_reach) for dist in 1..k, est_reach the
    * rounded ball-size estimate (seed itself included, matching
    * 1 + Σ n_nodes of [[kHopCounts]]).
    *
    * `intRegisters` (VERDICT r10 item 2) narrows the registers to
    * H = 2^31 and PACKS TWO per LONG column (m/2 columns, componentwise
    * min via [[graft.functions.PackedMin2]]) — the per-hop shuffle (the
    * node-sized partial-aggregate rows) genuinely halves its register
    * payload, which is the lever behind the single-box sf3 page-cache
    * cliff. Packing, not an INT cast, because UnsafeRow stores every
    * fixed-width field in an 8-byte slot: a plain INT register column
    * measured 0.91x the LONG variant's compressed shuffle bytes (pure
    * lz4 luck), the packed form ~0.6x (Round11Spec measures it). The
    * min-of-uniforms estimate is unchanged in form (n̂ = m·H/Σ − 1) and
    * stays integer-exact cross-engine — componentwise lane-min equals
    * per-register min, and every register value and sum of m of them
    * fits a LONG bit-exactly on both engines; only the estimator's
    * variance floor moves (the coarser grid matters once ball sizes
    * approach H/n resolution — irrelevant below ~10^7 reach at 2^31).
    */
  def reachSketch(edges: DataFrame, seeds: DataFrame, k: Int = 3,
      m: Int = 64, checkpoint: Boolean = true,
      intRegisters: Boolean = false): DataFrame = {
    require(k >= 1 && m >= 1, s"k and m must be >= 1, got k=$k m=$m")
    require(!intRegisters || m % 2 == 0,
      s"intRegisters packs register pairs, so m must be even, got m=$m")
    // hash range: 2^40 (LONG registers) or 2^31 (INT); sums of m mins of
    // either width fit a long
    val H = if (intRegisters) 2147483648L else 1099511627776L
    val e = edges.select(col("src"), col("dst"))
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    // Register state lives as m LONG COLUMNS on one row per node. Also
    // measured: a per-node array with a typed-Aggregator min-merge (19.6 s
    // at sf0.1: ObjectHashAggregate boxes an m-long Seq per row) and
    // exploded (node, j, v) rows (12.8 s at sf0.1 but 568 s at sf1: E·m
    // agg rows defeat map-side partials and spill). Fixed-width min()
    // columns keep every buffer in codegen and each task's partials
    // node-sized, so the hop stays in two-phase HashAggregate at any scale.
    // register j of a singleton {node}: the seeded cross-engine hash
    def hashReg(j: Int): org.apache.spark.sql.Column =
      pmod(graft.functions.CrossHash.md5Long(
        concat(lit(j.toString), lit(":"), col("node").cast("string"))),
        lit(H))
    // packed mode keeps registers (2i, 2i+1) in the hi/lo 31-bit lanes of
    // column i — half the aggregate-buffer columns the hop shuffles carry
    val nCols = if (intRegisters) m / 2 else m
    val regCols =
      if (intRegisters) (0 until nCols).map { i =>
        shiftleft(hashReg(2 * i), 32).bitwiseOR(hashReg(2 * i + 1))
          .as(s"r$i")
      }
      else (0 until m).map(j => hashReg(j).as(s"r$j"))
    val minFn: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      if (intRegisters) graft.functions.PackedMin2.packedMin2 else min
    val rs = (0 until nCols).map(j => col(s"r$j"))
    val ssum =
      if (intRegisters)
        // unpack both 31-bit lanes; m mins of < 2^31 total < 2^37
        rs.map(c => shiftrightunsigned(c, 32) +
          c.bitwiseAND(lit(0x7FFFFFFFL))).reduce(_ + _)
      else rs.reduce(_ + _)
    val mins = (0 until nCols).map(j => minFn(col(s"r$j")).as(s"r$j"))
    var regs = nodes.select(col("node") +: regCols: _*)
    if (checkpoint) regs = regs.localCheckpoint(false)
    var changed = regs // hop 0: every node's row is new
    var converged = false
    val perHop = (1 to k).map { d =>
      if (!converged) {
        val fromNbr = e.join(changed, col("dst") === col("node"))
          .select(col("src").as("node") +: rs: _*)
        if (!checkpoint) {
          // Fused hops join every row: there a filtered read of the
          // previous hop is a second copy of the hop chain that prunes
          // `prev` apart from the plain read, so exchange reuse no longer
          // shares the two (g20 1.57 -> 8.61 s at sf0.1 with the filter).
          regs = regs.unionByName(fromNbr).groupBy(col("node"))
            .agg(mins.head, mins.tail: _*)
          changed = regs
        } else {
          // the eager cut runs the hop and counts its changed rows in the
          // same job; once none changed, later hops equal this one
          val merged = regs.select(col("node") +: rs :+ ssum.as("prev"): _*)
            .unionByName(fromNbr.withColumn("prev", lit(null).cast(LongType)))
            .groupBy(col("node"))
            .agg(mins.head, mins.tail :+ max(col("prev")).as("prev"): _*)
            .observe("reach_changed",
              count(when(ssum < col("prev"), 1)).as("n"))
          val table = merged.localCheckpoint(true)
          regs = table.select(col("node") +: rs: _*)
          changed = table.filter(ssum < col("prev"))
            .select(col("node") +: rs: _*)
          converged = merged.queryExecution.observedMetrics("reach_changed")
            .getLong(0) == 0L
        }
      }
      regs.join(broadcast(seeds.select(col("seed"))),
          col("node") === col("seed"))
        .select(col("seed"), lit(d).as("dist"), ssum.as("ssum"))
    }
    perHop.reduce(_ unionByName _)
      .select(col("seed"), col("dist"),
        floor(lit(m.toLong * H).cast("double") /
          greatest(col("ssum"), lit(1L)).cast("double") - 1.0 + 0.5)
          .cast("long").as("est_reach"))
      .orderBy(col("seed"), col("dist"))
  }
}
