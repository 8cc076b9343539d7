package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph analytics over operator-derived edge sets — the
  * family beyond [[Dedup.dupComponentsStar]]' connected components. The
  * first member is PageRank over the near-dup pair graph: inside a
  * duplication cluster the highest-rank node is the "hub" copy that
  * everything else points at (mirror roots, template sources), a
  * centrality signal the [[Dedup.canonicalPick]] quality policy can't
  * see. (Page et al. 1999; damping 0.85 is the published default.)
  *
  * All arithmetic is EXACT INTEGER in ppm rank mass: ranks start at
  * 1,000,000 per node; a node's out-contribution is `rank div deg`
  * (integral division — deterministically lossy, identically lossy in
  * DuckDB's `//`), and the update is
  * `150000 + damping·Σcontrib div 1000`. Both engines running this
  * recurrence agree bit-for-bit, so a fixed-iteration PageRank is
  * hash-comparable — no float fixpoint, no tolerance.
  */
object Graph {

  /** The shared loop preamble: symmetrize an undirected (`a_id`,
    * `b_id`) edge list into (src, dst) BOTH ways and persist it for
    * the iterations, optionally laid out (repartitioned + sorted)
    * on the per-round join key so cluster-scale rounds never
    * re-exchange or re-sort the big frame. One definition so the
    * layout optimization and the unpersist discipline cannot drift
    * across the four loop operators. Caller owns the unpersist. */
  private def symEdges(
      edges: DataFrame, layoutKey: Option[String] = None): DataFrame = {
    val sym = edges
      .select(col("a_id").as("src"), col("b_id").as("dst"))
      .unionByName(edges.select(col("b_id").as("src"), col("a_id").as("dst")))
    layoutKey.fold(sym)(k =>
        sym.repartition(col(k)).sortWithinPartitions(col(k)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** Fixed-iteration integer PageRank over an UNDIRECTED edge list
    * (`a_id`, `b_id`). Nodes = edge endpoints (an isolated doc has no
    * rank to receive — callers union it back at the base mass if they
    * need full coverage). Self-loops and duplicate edges are the
    * caller's contract; the near-dup pair sets are already `a < b`
    * distinct.
    *
    * Scale shape: per iteration, ONE shuffle — the contribution
    * groupBy on the destination node (map-side combinable); the
    * edges⋈ranks join keys both sides on `src`, so the directed edge
    * frame's HashPartitioning(src) is established once and REUSED by
    * every iteration's join (edges and degrees are persisted across
    * iterations — at cluster scale these are the big frames, scanned
    * `iters` times). Each iteration materializes its rank frame and
    * releases the previous one, so lineage stays one-iteration deep —
    * the recompute-from-scratch O(iters²) trap of naive loop-built
    * plans. Rank-mass sums stay far inside BIGINT: Σ over a node's
    * in-neighbors of (≤ base·n div deg) is bounded by total mass
    * n·10⁶ — overflow needs ~10¹² nodes on one destination. */
  def pagerank(
      edges: DataFrame, iters: Int = 5, dampingPpt: Int = 850): DataFrame = {
    require(iters >= 1, s"iteration count $iters must be positive")
    require(dampingPpt >= 0 && dampingPpt <= 1000,
      s"dampingPpt $dampingPpt must be in [0, 1000]")
    val directed = symEdges(edges)
    val deg = directed.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var ranks = deg.select(col("src").as("node"), lit(1000000L).as("rank_ppm"))
      var prev: Option[DataFrame] = None
      for (_ <- 1 to iters) {
        val next = directed
          .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
          .join(deg, Seq("src"))
          .select(col("dst").as("node"), expr("rank_ppm DIV deg").as("c"))
          .groupBy(col("node"))
          .agg(sum(col("c")).as("s"))
          .select(col("node"),
            (lit(150000L) + expr(s"$dampingPpt * s DIV 1000")).as("rank_ppm"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        next.count() // materialize before releasing the input lineage
        prev.foreach(_.unpersist(blocking = false))
        prev = Some(next)
        ranks = next
      }
      // detach the result from the per-iteration cache so the finally
      // below can release everything the loop pinned
      val out = ranks.join(deg.withColumnRenamed("src", "node"), Seq("node"))
        .select(col("node"), col("deg"), col("rank_ppm"))
        .localCheckpoint(true)
      prev.foreach(_.unpersist(blocking = false))
      out
    } finally {
      directed.unpersist(blocking = false)
      deg.unpersist(blocking = false)
    }
  }

  /** Fixed-iteration SYNCHRONOUS label propagation over an undirected
    * (`a_id`, `b_id`) edge list — community detection one rung above
    * connected components (Raghavan, Albert & Kumara 2007): components
    * only say "reachable"; propagation's majority vote separates the
    * densely-knit blocks INSIDE one giant component (a template hub
    * chains unrelated doc families into a single component — each
    * family's internal majority outvotes the one bridge edge, so
    * their labels stay apart).
    *
    * Determinism is the design: labels start as the node id; every
    * iteration EVERY node simultaneously adopts the most frequent
    * label among its NEIGHBORS (self excluded), ties to the SMALLEST
    * label — an argmax under the (count desc, label asc) total order,
    * no RNG, no visit order (the published sequential variant is
    * visit-order-dependent; the synchronous form is a pure function
    * of the graph). Iteration depth is FIXED — a convergence test
    * would be data-dependent; a fixed depth is hash-comparable and
    * the DuckDB oracle replays it as chained SQL stages (the X126
    * PageRank convention).
    *
    * Scale shape: per iteration, one map-side-combinable groupBy on
    * (node, label) then one bounded argmax aggregate (max over a
    * (cnt, −label) struct — never a per-node window over raw
    * messages); the symmetric edge frame persists once and every
    * iteration re-joins it; each label frame materializes and
    * releases its predecessor, keeping lineage one iteration deep
    * (the PageRank loop's O(iters²) recompute guard). */
  def labelPropagation(edges: DataFrame, iters: Int = 4): DataFrame = {
    require(iters >= 1, s"iteration count $iters must be positive")
    // cache the symmetric frame ALREADY partitioned and sorted on the
    // per-round join key: every iteration joins on dst, so at cluster
    // scale (labels too big to broadcast) the edge frame — the 100 TB
    // side — is never re-exchanged OR re-sorted in any round; only
    // the nodes-sized label frame moves. When labels DO broadcast
    // (local bench), the layout costs one setup shuffle and the join
    // stays broadcast.
    val sym = symEdges(edges, layoutKey = Some("dst"))
    try {
      var labels = sym.select(col("src").as("node")).distinct()
        .withColumn("label", col("node"))
      var prev: Option[DataFrame] = None
      var prevFp: Option[(Long, Long)] = None
      var converged = false
      for (r <- 1 to iters if !converged) {
        // CONVERGENCE EXIT (r15, result-identical — the kCore
        // discipline): the synchronous update is a pure function of
        // (sym, labels), so an unchanged label FRAME is a proven
        // fixpoint — every further round reproduces it bit-for-bit
        // and the fixed-`iters` contract (the oracle replays all
        // rounds) is untouched. Unlike kCore's monotone edge set, a
        // count can't prove this. r15 LEFT-joined each round's argmax
        // back to the previous labels; that node-sized probe join
        // measured ~0.9 s PER ROUND at fixture scale (r16 A/B: x188
        // 9.1 s with, 6.5 s without) — pure overhead on any
        // non-converging input. The probe is now two-staged:
        //   1. TRIGGER (O(1), rides the materialization action as
        //      observe metrics — no join): an order-independent label
        //      fingerprint, row count + bit_xor of per-row
        //      xxhash64(node, label). An unchanged frame ALWAYS
        //      repeats its fingerprint (necessary condition).
        //   2. CONFIRM (only when the fingerprint repeats): the exact
        //      r15 node-sized left join. xor equality is never
        //      sufficient — a collision costs one wasted join, never
        //      a wrong exit; the exit remains EXACTLY "frame equals
        //      its predecessor".
        // Skipped on the last round (nothing left to save).
        val vote = sym
          .join(labels.select(col("node").as("dst"), col("label")), Seq("dst"))
          .groupBy(col("src"), col("label"))
          .agg(count(lit(1)).as("cnt"))
          .groupBy(col("src"))
          .agg(max(struct(col("cnt"), (-col("label")).as("neg"))).as("m"))
          .select(col("src").as("node"), (-col("m.neg")).as("label"))
        val fpObs = org.apache.spark.sql.Observation()
        val next = vote
          .observe(fpObs, count(lit(1)).as("n"),
            coalesce(expr("bit_xor(xxhash64(node, label))"), lit(0L))
              .as("fp"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        next.count() // materialize before releasing the input lineage
        val fp = (fpObs.get("n").asInstanceOf[Long],
          fpObs.get("fp").asInstanceOf[Long])
        if (r < iters && prevFp.contains(fp)) {
          val changed = next
            .join(labels.withColumnRenamed("label", "label_prev"),
              Seq("node"), "left")
            .filter(col("label_prev").isNull ||
              col("label") =!= col("label_prev"))
            .count()
          converged = changed == 0L
        }
        prevFp = Some(fp)
        prev.foreach(_.unpersist(blocking = false))
        prev = Some(next)
        labels = next
      }
      val out = labels.localCheckpoint(true)
      prev.foreach(_.unpersist(blocking = false))
      out
    } finally sym.unpersist(blocking = false)
  }

  /** k-core decomposition by iterative peeling — the density filter
    * that separates STRUCTURAL duplication (a boilerplate clique
    * where every member near-dups many others survives a high-k core)
    * from incidental pairs (a chain or star peels away immediately):
    * repeatedly delete nodes of degree < k until none remain; what
    * survives is the unique maximal subgraph with every degree ≥ k.
    * The fixpoint is ORDER-INDEPENDENT (the k-core is unique), so
    * `iters` synchronous rounds of "drop under-k nodes, keep edges
    * whose BOTH endpoints survive" replayed identically on both
    * engines hash-gate exactly — the oracle chains the same rounds as
    * CTE stages (the X111/X127 fixed-iteration convention), and the
    * cascade (a node above k that sinks below once its neighbors
    * peel) is what the iteration exists for — spec-pinned on a
    * chain-into-clique construction, with convergence at fixture
    * scale pinned by an iters-vs-iters+1 equality check. Output: each
    * surviving node with its within-remaining-graph degree, under a
    * FINAL deg ≥ k filter — the invariant holds even when `iters`
    * rounds did not converge (an under-peeled graph can only emit a
    * SUPERSET of the true k-core, never an under-k row).
    *
    * Scale shape: per round, one map-side-combinable degree count and
    * two equi-joins keyed on the SAME node columns; the edge frame
    * shrinks monotonically, each round materializes and releases its
    * predecessor so lineage stays one round deep (the PageRank loop
    * discipline). Peeling depth beyond `iters` means a not-yet-
    * converged core — callers size `iters` to the graph's degeneracy
    * ordering depth, which for near-dup graphs is small (cliques
    * converge in one round; the pathological O(n) chain is exactly
    * the structure dedup graphs don't have). */
  def kCore(edges: DataFrame, k: Int = 3, iters: Int = 6): DataFrame = {
    require(k >= 1, s"core order $k must be positive")
    require(iters >= 1, s"iteration count $iters must be positive")
    var live = symEdges(edges)
    var liveN = live.count()
    try {
      var converged = false
      for (_ <- 1 to iters if !converged) {
        val keep = live.groupBy(col("src")).agg(count(lit(1)).as("deg"))
          .filter(col("deg") >= k)
          .select(col("src").as("node"))
        val next = live
          .join(keep.select(col("node").as("src")), Seq("src"))
          .join(keep.select(col("node").as("dst")), Seq("dst"))
          .select(col("src"), col("dst"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val nextN = next.count() // materialize before releasing the previous round
        live.unpersist(blocking = false)
        live = next
        // CONVERGENCE EXIT (r15, result-identical): rounds only REMOVE
        // edges (next ⊆ live), so an unchanged count means an
        // unchanged edge set — every further round is a provable
        // no-op (same degrees → same keep set → same edges). The
        // fixed-`iters` CONTRACT is untouched: outputs equal the
        // full-depth replay bit-for-bit (the oracle runs all rounds);
        // only the dead rounds' jobs are skipped. Dedup cliques
        // converge in 1–2 rounds, so this cuts the typical peel from
        // `iters` rounds to the graph's true peel depth.
        converged = nextN == liveN
        liveN = nextN
      }
      // final deg >= k filter: with a fixed iteration count a
      // not-yet-converged peel could otherwise emit a node whose
      // final degree sank below k — the filter makes the documented
      // invariant hold REGARDLESS of iters (a converged peel is
      // unchanged by it; the oracle applies the same HAVING).
      val out = live.groupBy(col("src")).agg(count(lit(1)).as("core_degree"))
        .filter(col("core_degree") >= k)
        .select(col("src").as("node"), col("core_degree"))
        .localCheckpoint(true)
      out
    } finally live.unpersist(blocking = false)
  }

  /** Per-node triangle counts + exact local clustering coefficient
    * over an undirected `a_id < b_id` edge list — the cluster-density
    * view of the dup graph (a triangle-rich neighborhood is a
    * boilerplate clique, a triangle-free hub is a template touching
    * many unrelated docs; X23's components can't tell those apart).
    * `closure_ppm = 10⁶·2·tri div (deg·(deg−1))` (Watts & Strogatz
    * 1998), exact integer, 0 for degree-<2 nodes.
    *
    * Scale shape: the node-iterator with DEGREE ORIENTATION (the
    * classic √m trick): each edge orients from the (deg, id)-smaller
    * endpoint, wedges pair two out-edges of the same source, and a
    * wedge closes iff its (v, w) is itself an oriented edge —
    * candidate volume is Σ out-deg², bounded by orientation instead
    * of the hot node's full deg² (a 10⁶-degree hub generates no
    * wedges at all unless its neighbors out-rank it). All joins are
    * equi-joins on node keys; each triangle is counted exactly once
    * (orientation is a total order). */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val dir = edges.select(col("a_id").as("x"))
      .unionByName(edges.select(col("b_id").as("x")))
    val deg = dir.groupBy(col("x")).agg(count(lit(1)).as("deg"))
    val withDeg = edges
      .join(deg.select(col("x").as("a_id"), col("deg").as("da")), Seq("a_id"))
      .join(deg.select(col("x").as("b_id"), col("deg").as("db")), Seq("b_id"))
    val aFirst = struct(col("da"), col("a_id")) < struct(col("db"), col("b_id"))
    val oriented = withDeg.select(
      when(aFirst, col("a_id")).otherwise(col("b_id")).as("src"),
      when(aFirst, col("b_id")).otherwise(col("a_id")).as("dst"),
      when(aFirst, col("db")).otherwise(col("da")).as("dd"))
    val e1 = oriented.select(col("src"), col("dst").as("v"), col("dd").as("dv"))
    val e2 = oriented.select(col("src"), col("dst").as("w"), col("dd").as("dw"))
    val tri = e1.join(e2, Seq("src"))
      .filter(struct(col("dv"), col("v")) < struct(col("dw"), col("w")))
      .join(oriented.select(col("src").as("v"), col("dst").as("w")),
        Seq("v", "w"))
      .select(col("src").as("u"), col("v"), col("w"))
    val perNode = tri.select(col("u").as("n"))
      .unionByName(tri.select(col("v").as("n")))
      .unionByName(tri.select(col("w").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("n_triangles"))
    deg.select(col("x").as("node"), col("deg"))
      .join(perNode.withColumnRenamed("n", "node"), Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        when(col("deg") < 2, lit(0L)).otherwise(expr(
          "1000000 * 2 * coalesce(n_triangles, 0) DIV (deg * (deg - 1))"))
          .as("closure_ppm"))
  }

  /** RESOURCE-ALLOCATION LINK PREDICTION over an undirected
    * `a_id < b_id` edge list — "which non-adjacent pairs look like
    * they SHOULD be edges" (Zhou, Lü & Zhang 2009): for every
    * non-edge (v, w) sharing at least one neighbor, `n_common` counts
    * the shared neighbors and `ra_ppm = Σ_u 10⁶ div deg(u)` weights
    * each shared neighbor u by the inverse of its degree — a shared
    * rare neighbor is strong evidence, a shared hub is weak. On the
    * near-dup graph this is the review queue: pairs the detector did
    * NOT flag whose neighborhoods say it probably missed them. Exact
    * integer (each term one integral division, summed in BIGINT).
    *
    * Scale shape: wedges pair two edges of the same CENTER node, so
    * candidate volume is Σ_centers deg² — the head-node fan-out trap.
    * `maxDeg` is the production ceiling: centers with deg > maxDeg
    * generate no wedges (a 10⁶-degree hub's evidence is ~0 ppm per
    * pair anyway — dropping it removes the quadratic blowup and
    * almost none of the signal; spec-pinned cap-above-all ≡ uncapped,
    * and the dropped-center report is [[hubCenters]] per the
    * no-silent-caps rule). The candidate groupBy and the anti-join
    * are equi-keyed on the pair. */
  def linkPredictionRA(
      edges: DataFrame, maxDeg: Option[Long] = None): DataFrame = {
    maxDeg.foreach(c => require(c >= 1, s"maxDeg $c must be positive"))
    val sym = edges.select(col("a_id").as("src"), col("b_id").as("dst"))
      .unionByName(edges.select(col("b_id").as("src"), col("a_id").as("dst")))
    val deg = sym.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val centered = sym.join(
      maxDeg.fold(deg)(c => deg.filter(col("deg") <= c)), Seq("src"))
    val e1 = centered.select(col("src"), col("dst").as("v"), col("deg"))
    val e2 = centered.select(col("src"), col("dst").as("w"))
    e1.join(e2, Seq("src"))
      .filter(col("v") < col("w"))
      .join(edges.select(col("a_id").as("v"), col("b_id").as("w")),
        Seq("v", "w"), "left_anti")
      .groupBy(col("v").as("a_id"), col("w").as("b_id"))
      .agg(count(lit(1)).as("n_common"),
        sum(expr("1000000 DIV deg")).as("ra_ppm"))
  }

  /** The [[linkPredictionRA]] drop report: the hub centers a `maxDeg`
    * ceiling removes from wedge generation, with their degrees —
    * capping must never be silent. */
  def hubCenters(edges: DataFrame, maxDeg: Long): DataFrame = {
    require(maxDeg >= 1, s"maxDeg $maxDeg must be positive")
    edges.select(col("a_id").as("node"))
      .unionByName(edges.select(col("b_id").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      .filter(col("deg") > maxDeg)
  }

  /** BFS HOP DEPTH from a seed set — the blast-radius view of the
    * near-dup graph ("if these documents are contaminated, what is
    * transitively within k hops?"; components say REACHABLE, this
    * says HOW CLOSE): synchronous frontier expansion, depth d = the
    * minimum hop count from any seed, fixed `iters` rounds (the
    * X111/X127/X217 fixed-iteration convention — a convergence test
    * would be data-dependent; fixed rounds replay identically on
    * both engines). Nodes beyond `iters` hops are ABSENT, not
    * NULL-depth: the caller asked for the k-hop ball, and absence
    * distinguishes "outside the ball" from "isolated seed" (depth 0).
    * Seed ids that never appear in the edge list still report depth
    * 0 — contamination of an isolated document is still
    * contamination.
    *
    * Scale shape: per round, one equi-join of the (shrinking)
    * frontier against the symmetric edge frame + one anti-join
    * against the visited set — both keyed on the node; the visited
    * frame grows monotonically but each round materializes and
    * releases its predecessor (the PageRank loop discipline), so
    * lineage stays one round deep. */
  def bfsDepth(
      edges: DataFrame, seeds: DataFrame, iters: Int = 4): DataFrame = {
    require(iters >= 1, s"iteration count $iters must be positive")
    val sym = symEdges(edges)
    try {
      sym.count() // inside try: a failing materialization must not leak
      var vis = seeds.select(col("node")).distinct()
        .withColumn("depth", lit(0L))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        var visN = vis.count()
        var exhausted = false
        for (r <- 1 to iters if !exhausted) {
          val frontier = vis.filter(col("depth") === (r - 1).toLong)
            .select(col("node").as("src"))
          val next = sym.join(frontier, Seq("src"))
            .select(col("dst").as("node")).distinct()
            .join(vis.select(col("node")), Seq("node"), "left_anti")
            .withColumn("depth", lit(r.toLong))
          val grown = vis.unionByName(next)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val grownN = grown.count() // materialize before releasing the input lineage
          vis.unpersist(blocking = false)
          vis = grown
          // FRONTIER-EXHAUSTION EXIT (r15, result-identical): the
          // visited set only GROWS, so an unchanged count means this
          // round's frontier reached nothing new — the next round's
          // frontier (depth = r rows, of which there are none) is
          // empty and every further round is a provable no-op. The
          // k-hop-ball contract is untouched: the output equals the
          // full `iters` replay bit-for-bit; only dead rounds' jobs
          // (a join + distinct + anti-join + union per round) are
          // skipped when the ball saturates early.
          exhausted = grownN == visN
          visN = grownN
        }
        vis.localCheckpoint(true)
      } finally vis.unpersist(blocking = false)
    } finally sym.unpersist(blocking = false)
  }
}
