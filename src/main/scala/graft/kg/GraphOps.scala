package graft.kg

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Graph analytics over the materialized KG edge tables — the query
  * layer a knowledge-graph construction pipeline feeds (north star:
  * "materializing node/edge Iceberg tables"; these operators consume
  * them). The reference repo stops at triple emission; ranking /
  * degree / reachability over the built graph is the standard next
  * query a KG serves, so it is implemented here as first-class
  * DataFrame operators with explicit shuffle accounting.
  *
  * All three operators take a generic `(src, dst)` edge DataFrame —
  * canonical entity edges from [[Canonicalize.canonicalEdges]], the
  * token co-occurrence graph from [[GraphOps.bigramEdges]] (the
  * TextRank shape, Mihalcea & Tarau 2004), or any edge table.
  *
  * Determinism contract (the same one `QQueries.dsum` uses): every
  * floating-point SUM in [[pagerank]] runs through exact DECIMAL
  * aggregation, so partial-aggregation order — which changes with
  * partition count — cannot change the result. PageRank here is
  * bit-reproducible across cluster sizes (the N vs 4N identical-output
  * evidence in BASELINE.md rests on exactly this property).
  */
object GraphOps {

  /** Directed token co-occurrence edges (w_i -> w_{i+1}) with counts.
    * Shift-and-zip (`zip_with(w, slice(w, 2, n))`) builds the pairs
    * without a posexplode self-join; the only shuffle is the final
    * (src, dst) groupBy. zip_with pads the shorter side with NULL, so
    * the trailing (last_token, NULL) pair is filtered before explode —
    * single-token and empty docs contribute no edges.
    */
  def bigramEdges(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val w = split(col(textCol), " ")
    val pairs = filter(
      zip_with(w, slice(w, lit(2), size(w)),
        (a, b) => struct(a.as("src"), b.as("dst"))),
      p => p.getField("dst").isNotNull)
    docs
      .select(explode(pairs).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .groupBy("src", "dst")
      .agg(count(lit(1)).as("weight"))
  }

  /** Per-node out/in degree over the DISTINCT edge set (edges are
    * assumed deduplicated per (src, dst), as [[bigramEdges]] emits).
    * Two map-side-combinable groupBys + one full outer merge on node —
    * no row ever carries more than (node, long), so the shuffle is a
    * few bytes per node regardless of corpus size.
    */
  def degrees(edges: DataFrame): DataFrame = {
    val out = edges.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("out_deg"))
    val in = edges.groupBy(col("dst").as("node"))
      .agg(count(lit(1)).as("in_deg"))
    out.join(in, Seq("node"), "full_outer")
      .select(col("node"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"))
  }

  /** Fixed-iteration PageRank as iterative DataFrame joins:
    *
    *   pr_0(v)   = 1/N
    *   pr_t+1(v) = round((1-d)/N + d * S_t(v), scale)
    *   S_t(v)    = Σ_{u→v} decimal(round(pr_t(u)/outdeg(u), scale))
    *
    * Dangling mass (nodes with no out-edges) is NOT redistributed —
    * total rank leaks by the dangling fraction per iteration. That is
    * a deliberate, documented semantics choice: it keeps each
    * iteration a single contribution join + one aggregation, and the
    * oracle replicates it exactly.
    *
    * Scale shape (per iteration): the edge⋈rank join shuffles only the
    * rank side — `eo` is repartitioned on src ONCE and cached, and
    * InMemoryRelation preserves that HashPartitioning, so Catalyst
    * reuses it across all iterations. The contribution aggregation
    * shuffles (dst, decimal) pairs — map-side combinable, a few bytes
    * per edge partition per reducer. Hot dst nodes (celebrity
    * entities) are exactly the partial-aggregation case: each map task
    * pre-sums its contributions, so a 10^8-in-degree node receives one
    * row per map task, not per edge. For iteration counts beyond ~10,
    * pass `checkpointEvery` to cut the growing lineage with an eager
    * localCheckpoint.
    *
    * Determinism: contributions are rounded to `scale` decimal places
    * (an IEEE double op, identical everywhere), then summed as
    * DECIMAL(38,15) — exact, order-independent — so the result is
    * bit-identical at any parallelism. DuckDB replicates the same
    * arithmetic; `kg_pagerank` is hash-oracled.
    *
    * `seeds` switches to PERSONALIZED PageRank (topic-sensitive
    * salience — "entities important relative to THESE"): the reset
    * mass (1-d) concentrates uniformly on the seed set instead of
    * spreading 1/N everywhere, and the walk starts from the seeds.
    * Same arithmetic contract; `kg_ppr` is hash-oracled.
    *
    * `weighted = true` splits each node's outgoing rank proportionally
    * to the LONG `weight` edge column instead of uniformly (the
    * TextRank formulation — co-occurrence counts as transition mass):
    * contribution = round(rank * w / Σw_out, scale), with Σw_out an
    * exact long sum. Same determinism; `kg_pagerank_weighted` is
    * hash-oracled.
    *
    * `danglingRedistribute = true` folds the mass parked on
    * out-degree-0 nodes back in each iteration (classic PageRank on a
    * real crawl graph, where 20-30% of nodes are dangling and the
    * leak-by-default semantics shrink total rank per iteration):
    *
    *   pr_t+1(v) = round(base + d * (S_t(v) + DM_t / N), scale)
    *   DM_t      = Σ_{u: outdeg(u)=0} decimal(pr_t(u))
    *
    * DM_t is an exact DECIMAL(38,15) sum over the dangling node set
    * (computed once, up front, as an anti-join against the out-degree
    * table) that rides into the per-node update as a one-row cross
    * join — one extra scalar aggregation per iteration, never a
    * driver-side action, and the bit-reproducibility contract holds
    * unchanged. With `seeds`, the dangling mass follows the reset
    * distribution (concentrated on the seed set — the standard
    * topic-sensitive formulation) instead of 1/N.
    * `kg_pagerank_dangling` is hash-oracled with the same
    * unrolled-CTE generator plus one scalar CTE per iteration. The
    * default stays the leak semantics (the oracle mode of the other
    * five pagerank queries).
    */
  def pagerank(spark: SparkSession, edges: DataFrame, iters: Int = 3,
      damping: Double = 0.85, scale: Int = 12,
      checkpointEvery: Int = Int.MaxValue,
      seeds: Option[Seq[String]] = None,
      weighted: Boolean = false,
      danglingRedistribute: Boolean = false): DataFrame = {
    val st = prState(edges, damping, scale, seeds, weighted,
      danglingRedistribute)
    // Dangling mode references pr TWICE per step (the DM scalar and the
    // contribution join), so an un-checkpointed lineage doubles the
    // pr_t subplan per iteration — 2^iters recomputations of iteration
    // 1 by the final action (measured r8: kg_pagerank_dangling 5.6 s vs
    // kg_pagerank 2.2 s at identical graph/iters). Checkpoint every
    // iteration in that mode (guide §1.2: don't recompute what you
    // already have); values are unchanged — checkpointing is plan-only.
    val ckptEvery =
      if (danglingRedistribute) 1 else checkpointEvery
    // try/finally: an iteration job that dies must not leave the
    // edge⋈outdeg and node caches pinned in executor memory for the
    // life of the session
    try {
      var pr = st.init
      for (i <- 1 to iters) {
        pr = st.step(pr)
        if (i % ckptEvery == 0) pr = pr.localCheckpoint(true)
      }
      // materialize the final ranks (one (node, double) row per node)
      // before the finally block frees the iteration caches
      pr.localCheckpoint(true)
    } finally st.close()
  }

  /** Convergence-terminated PageRank for production use: iterates
    * [[pagerank]]'s exact step until the L1 rank delta — an exact
    * DECIMAL(38,15) sum of per-node |pr_t+1 - pr_t|, so the stopping
    * decision is itself bit-reproducible at any parallelism — falls to
    * `tol` or `maxIters` is hit. Fixed-iteration mode stays the oracle
    * surface; PagerankTolSpec proves this returns EXACTLY
    * `pagerank(iters = k)` where k is the first iteration whose delta
    * crosses tol. Each iteration eagerly checkpoints (the delta
    * aggregation is an action anyway) so lineage stays flat at any
    * iteration count. Returns (ranks, iterations run).
    */
  def pagerankTol(spark: SparkSession, edges: DataFrame, tol: Double,
      maxIters: Int = 50, damping: Double = 0.85, scale: Int = 12,
      seeds: Option[Seq[String]] = None,
      weighted: Boolean = false,
      danglingRedistribute: Boolean = false): (DataFrame, Int) = {
    require(tol > 0, "tol must be positive")
    val st = prState(edges, damping, scale, seeds, weighted,
      danglingRedistribute)
    try {
      var pr = st.init.localCheckpoint(true)
      var it = 0
      var delta = Double.MaxValue
      while (it < maxIters && delta > tol) {
        val next = st.step(pr).localCheckpoint(true)
        val d = next.as("a")
          .join(pr.as("b"), col("a.node") === col("b.node"))
          .agg(sum(abs(col("a.rank") - col("b.rank"))
            .cast(DecimalType(38, 15))).as("d"))
          .head.getDecimal(0)
        delta = if (d == null) 0.0 else d.doubleValue()
        pr = next
        it += 1
      }
      (pr, it)
    } finally st.close()
  }

  /** The shared iteration machinery behind [[pagerank]] and
    * [[pagerankTol]] — ONE definition of the contribution join, the
    * rounding contract, and the dangling-mass term, so the two modes
    * cannot drift. `close()` frees the caches the step holds.
    */
  private final case class PrState(init: DataFrame,
      step: DataFrame => DataFrame, close: () => Unit)

  private def prState(edges: DataFrame, damping: Double, scale: Int,
      seeds: Option[Seq[String]], weighted: Boolean,
      danglingRedistribute: Boolean): PrState = {
    // cache the edge argument itself for the state build: `edges` is
    // typically a full derivation (bigramEdges = corpus explode +
    // groupBy) and the node set, out-degree table and dangling set
    // each materialize it separately — 2-3 redundant derivations per
    // pagerank call without this (r8; same class as the shortest-path
    // edge cache). Freed in close() with the other state caches.
    val e = edges.cache()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst")))
      .distinct()
      .repartition(col("node"))
      .cache()
    val n = nodes.count()
    val outdeg =
      if (weighted) e.groupBy("src").agg(sum(col("weight")).as("outdeg"))
      else e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    // edge ⋈ outdeg once, up front; cached partitioned on src so each
    // iteration's rank join reuses the partitioning (rank side shuffles,
    // edges do not).
    val eCols = if (weighted) Seq("src", "dst", "weight") else Seq("src", "dst")
    val eo = e.select(eCols.map(col): _*).join(outdeg, "src")
      .repartition(col("src"))
      .cache()
    // dangling node set (no out-edges), computed once: node-keyed
    // anti-join, a few bytes per node
    val dangling =
      if (danglingRedistribute)
        Some(nodes.join(eo.select(col("src").as("node")),
          Seq("node"), "left_anti").cache())
      else None
    val (base, init) = seeds match {
      case None =>
        (lit((1.0 - damping) / n), lit(1.0 / n))
      case Some(s) =>
        require(s.nonEmpty, "personalized pagerank needs ≥1 seed")
        val inSeed = col("node").isin(s.distinct: _*)
        val nS = s.distinct.size
        (when(inSeed, lit((1.0 - damping) / nS)).otherwise(lit(0.0)),
          when(inSeed, lit(1.0 / nS)).otherwise(lit(0.0)))
    }
    def step(pr: DataFrame): DataFrame = {
      val share =
        if (weighted) col("rank") * col("weight") / col("outdeg")
        else col("rank") / col("outdeg")
      val contrib = eo.join(pr, eo("src") === pr("node"))
        .select(col("dst"),
          round(share, scale).cast(DecimalType(38, 15)).as("c"))
        .groupBy("dst").agg(sum(col("c")).as("s"))
      val recv = coalesce(col("s").cast("double"), lit(0.0))
      dangling match {
        case None =>
          nodes.join(contrib, nodes("node") === contrib("dst"), "left")
            .select(col("node"),
              round(base + lit(damping) * recv, scale).as("rank"))
        case Some(dg) =>
          // DM_t as a ONE-ROW frame (exact decimal sum; empty dangling
          // set → 0) cross-joined into the update — no driver action
          val dm = pr.join(dg, Seq("node"), "left_semi")
            .agg(coalesce(sum(col("rank").cast(DecimalType(38, 15))),
              lit(java.math.BigDecimal.ZERO).cast(DecimalType(38, 15)))
              .as("dm"))
          // dangling mass follows the RESET distribution: uniform 1/N
          // unseeded; concentrated on the seed set in personalized mode
          // (standard topic-sensitive PageRank — spreading a PPR's
          // dangling mass uniformly would leak rank to nodes the
          // personalization vector excludes)
          val redist = seeds match {
            case None => col("dm").cast("double") / n
            case Some(s) =>
              when(col("node").isin(s.distinct: _*),
                col("dm").cast("double") / s.distinct.size)
                .otherwise(lit(0.0))
          }
          nodes.join(contrib, nodes("node") === contrib("dst"), "left")
            .crossJoin(dm)
            .select(col("node"),
              round(base + lit(damping) * (recv + redist), scale)
                .as("rank"))
      }
    }
    PrState(
      nodes.select(col("node"), init.as("rank")),
      step,
      () => {
        nodes.unpersist(blocking = false)
        eo.unpersist(blocking = false)
        dangling.foreach(_.unpersist(blocking = false))
        e.unpersist(blocking = false)
      })
  }

  /** Triangle count per node over the UNDIRECTED simple graph induced
    * by the edge list (direction and weight dropped, self-loops
    * removed). Classic compact-forward: orient every undirected edge
    * from the lower-(degree, node) endpoint to the higher one — each
    * triangle then has exactly ONE wedge of two out-edges at its
    * lowest vertex, so one wedge self-join + one edge-membership
    * semi-join counts each triangle once. The degree ordering is the
    * scale lever: a hub's edges all point INTO it, so the wedge join
    * fans out on low-degree vertices only — a 10^6-degree celebrity
    * node contributes ZERO wedges instead of 10^12.
    */
  def triangles(spark: SparkSession, edges: DataFrame): DataFrame = {
    // undirected simple edges as canonical (lo, hi) pairs
    val und = edges.select(col("src").as("a"), col("dst").as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("u"),
        greatest(col("a"), col("b")).as("v"))
      .distinct()
    val deg = und.select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // orient u->v iff (deg, name) of u < (deg, name) of v
    val du = deg.select(col("node").as("u"), col("deg").as("du"))
    val dv = deg.select(col("node").as("v"), col("deg").as("dv"))
    val oriented = und.join(du, "u").join(dv, "v")
      .select(
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")),
          struct(col("u").as("s"), col("v").as("t")))
          .otherwise(struct(col("v").as("s"), col("u").as("t"))).as("e"))
      .select(col("e.s").as("s"), col("e.t").as("t"))
    // wedges at the lowest-ordered vertex; close them against the
    // oriented edge set
    val w1 = oriented.select(col("s"), col("t").as("x"))
    val w2 = oriented.select(col("s"), col("t").as("y"))
    val wedges = w1.join(w2, "s").filter(col("x") < col("y"))
    val closed = wedges.join(
      oriented.select(col("s").as("x"), col("t").as("y"))
        .unionByName(oriented.select(col("t").as("x"), col("s").as("y"))),
      Seq("x", "y"), "left_semi")
    // per-node counts: each closed wedge (s, x, y) is one triangle on
    // all three vertices
    closed.select(explode(array(col("s"), col("x"), col("y"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
  }

  /** Fixed-iteration single-source shortest paths (Bellman-Ford /
    * min-plus relaxation, the Pregel textbook shape) over weighted
    * edges (src, dst, weight:long). `iters` relaxation rounds bound
    * the path length — distances to nodes further than `iters` hops
    * are not final (documented; run V-1 rounds for the full
    * fixed point).
    *
    * DELTA relaxation (the same frontier/visited split as [[nhop]]):
    * each round joins edges against only the nodes whose distance
    * IMPROVED last round, not the whole dist table — a relaxation out
    * of a non-improved node was already applied the round it improved,
    * so re-relaxing it can only reproduce known bounds. Semantics are
    * identical to full Bellman-Ford at any `iters`; work per round is
    * O(frontier ⋈ edges), which on expander-ish graphs shrinks
    * geometrically once distances stabilize. The dist table is eagerly
    * checkpointed per round (it feeds both the min-merge and the
    * frontier diff, so un-checkpointed lineage would double per
    * round). All-long arithmetic — exact, order-independent, oracled
    * by unrolled SQL.
    */
  def shortestPaths(spark: SparkSession, edges: DataFrame, source: String,
      iters: Int): DataFrame =
    shortestPathsWithFrontier(spark, edges, source, iters, null)

  /** [[shortestPaths]] plus per-round frontier sizes appended to
    * `frontierSizes` (spec instrumentation; the extra count() actions
    * run only when the buffer is non-null).
    */
  private[graft] def shortestPathsWithFrontier(spark: SparkSession,
      edges: DataFrame, source: String, iters: Int,
      frontierSizes: scala.collection.mutable.Buffer[Long]): DataFrame = {
    import spark.implicits._
    // cache the edge table for the loop: each round's merge is an
    // ACTION (localCheckpoint), so an uncached `edges` argument — often
    // a full derivation like bigramEdges — would re-run its scan +
    // aggregation once per round (measured r8: 4 redundant corpus
    // scans in kg_shortest_path). Freed before returning; `dist` is
    // checkpointed so the result never re-reads the cache.
    val e = edges.cache()
    try {
      var dist = Seq(source).toDF("node").select(col("node"),
        lit(0L).as("dist"))
        .localCheckpoint(true)
      var frontier = dist
      for (_ <- 1 to iters) {
        if (frontierSizes != null) frontierSizes += frontier.count()
        val relaxed = e.join(frontier, e("src") === frontier("node"))
          .select(col("dst").as("node"),
            (col("dist") + col("weight")).as("dist"))
        val merged = dist.union(relaxed)
          .groupBy("node").agg(min(col("dist")).as("dist"))
          .localCheckpoint(true)
        // next frontier: strictly-improved (or newly reached) nodes only
        frontier = merged.as("m")
          .join(dist.as("o"), col("m.node") === col("o.node"), "left")
          .filter(col("o.dist").isNull || col("m.dist") < col("o.dist"))
          .select(col("m.node").as("node"), col("m.dist").as("dist"))
        dist = merged
      }
      dist
    } finally e.unpersist(blocking = false)
  }

  /** Synchronous label-propagation community detection (Raghavan et
    * al. 2007, the deterministic variant) over the UNDIRECTED graph:
    * every node starts in its own community (label = own name); each
    * round it adopts the most frequent label among its neighbors,
    * breaking frequency ties by SMALLEST label — the determinism
    * device that makes the synchronous schedule reproducible and
    * SQL-replicable (classic LPA breaks ties randomly; any fixed
    * total order gives the same convergence guarantees).
    *
    * Scale shape per round: one join of the (node, label) table
    * against the undirected edge list (shuffles the label side — the
    * same rank-join shape as [[pagerank]]), one map-side-combinable
    * (node, label) count, then the per-node argmax as a
    * `min(struct(-cnt, label))` hash aggregation — (cnt desc, label
    * asc) by struct ordering — which is itself map-side combinable: a
    * hub node's label votes pre-reduce to one candidate per map task
    * instead of sorting inside a window partition (the same
    * argmax-not-sort upgrade as `langGuess`). All string/long ops —
    * exact at any parallelism; `kg_communities` is hash-oracled via
    * unrolled SQL.
    */
  def labelPropagation(spark: SparkSession, edges: DataFrame,
      rounds: Int): DataFrame = {
    val und = edges.select(col("src").as("a"), col("dst").as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("u"),
        greatest(col("a"), col("b")).as("v"))
      .distinct()
    val both = und.select(col("u").as("nbr"), col("v").as("node"))
      .unionByName(und.select(col("v").as("nbr"), col("u").as("node")))
      .cache()
    try {
      var labels = both.select(col("node")).distinct()
        .select(col("node"), col("node").as("label"))
      for (_ <- 1 to rounds) {
        val counts = both.join(labels.withColumnRenamed("node", "nbr"), "nbr")
          .groupBy("node", "label").agg(count(lit(1)).as("cnt"))
        // min over struct(-cnt, label): largest count, ties to the
        // SMALLEST label — the deterministic synchronous-LPA tie-break
        labels = counts.groupBy("node")
          .agg(min(struct((-col("cnt")).as("nc"), col("label").as("l")))
            .as("b"))
          .select(col("node"), col("b.l").as("label"))
      }
      labels.localCheckpoint(true)
    } finally both.unpersist(blocking = false)
  }

  /** Minimum-distance BFS from `seeds`, out to `hops` edge hops.
    * Returns (node, dist) for every node reachable within `hops`
    * (seeds at dist 0). Frontier-only expansion: iteration h joins
    * edges against ONLY the dist=h-1 frontier (not the whole visited
    * set), then a min-merge collapses revisits — the same
    * frontier/visited split every distributed BFS uses, so work per
    * iteration is O(frontier ⋈ edges), not O(visited ⋈ edges).
    */
  def nhop(spark: SparkSession, edges: DataFrame, seeds: Seq[String],
      hops: Int): DataFrame = {
    import spark.implicits._
    var dist = seeds.toDF("node").distinct()
      .select(col("node"), lit(0).as("dist"))
    for (h <- 1 to hops) {
      val frontier = dist.filter(col("dist") === (h - 1))
      val next = edges.join(frontier, edges("src") === frontier("node"))
        .select(col("dst").as("node"), lit(h).as("dist"))
      dist = dist.union(next)
        .groupBy("node").agg(min(col("dist")).as("dist"))
    }
    dist
  }
}
