package graft.operators

import graft.{Ckpt, Op, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph centrality over entity graphs — PageRank (Brin & Page 1998) as a
  * Pregel-style iterative fixpoint, the second member of the engine's
  * iterative-operator family next to Dedup.componentMinLabels.
  *
  * The distinctive design choice: ALL rank arithmetic is FIXED-POINT
  * INTEGER (ranks are BIGINTs at 2^40 scale; every division is a
  * truncating integer division). Floating-point PageRank is
  * partitioning-dependent (the contribution sum re-associates) and can
  * never be hash-compared across engines; the integer formulation is
  * EXACT — deterministic under any partitioning, any merge order, and
  * bit-replayable by a DuckDB recursive CTE, which makes a converging
  * iterative operator oracle-checkable end to end. Quantization error is
  * bounded by one unit (2^-40) per division per round — noise far below
  * ranking resolution — and every quantity stays well inside BIGINT
  * (total mass <= scale + n*tele).
  *
  * Scale shape per round (the componentMinLabels recipe): one equi-join
  * of ranks against the degree-annotated edge list (shuffle keyed on the
  * node id), one keyed SUM aggregate on the destination — both
  * partial-aggregated map-side. The edge list is checkpointed ONCE up
  * front; ranks are cut every `checkpointEvery` rounds by Ckpt.iterate,
  * which releases the previous generation's blocks as soon as the next
  * is materialized, so the fixpoint holds at most two generations of
  * O(nodes) state.
  */
object Graphs {

  /** Both orientations of every edge of `edges` as (src, dst), self-loops
    * dropped, duplicates kept.
    */
  private def bothWays(edges: DataFrame, srcCol: String = "src",
                       dstCol: String = "dst"): DataFrame =
    edges.select(explode(array(
        struct(col(srcCol).as("src"), col(dstCol).as("dst")),
        struct(col(dstCol).as("src"), col(srcCol).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .filter(col("src") =!= col("dst"))

  /** The simple undirected graph spanned by `edges`: [[bothWays]], then
    * dedup, in ONE full-edge exchange. Repartitioning on `by` first
    * clusters every (src, dst) group into one partition, so the dedup
    * aggregate and any later window, aggregate or join keyed on `by` plan
    * without another exchange; distinct() would hash on both columns and
    * make each of those re-shuffle the edge list.
    */
  private def undirected(edges: DataFrame, srcCol: String = "src",
                         dstCol: String = "dst",
                         by: String = "src"): DataFrame =
    bothWays(edges, srcCol, dstCol)
      .repartition(col(by))
      .dropDuplicates(Seq("src", "dst"))

  /** Run `iters` synchronous PageRank rounds over the UNDIRECTED graph
    * spanned by `edges` (symmetrized + deduplicated here, so every node
    * has in-degree >= 1 and the dangling-mass problem vanishes by
    * construction). Returns (node, r) with r at `scale` fixed point:
    *
    *   r0      = scale div n
    *   tele    = (scale * 15 div 100) div n
    *   r'(v)   = tele + (85 * sum_u (r(u) div deg(u))) div 100
    */
  def pageRank(edges: DataFrame, srcCol: String = "src",
               dstCol: String = "dst", iters: Int = 10,
               scale: Long = 1L << 40,
               checkpointEvery: Int = 10): DataFrame = {
    require(iters >= 1, s"iters must be positive, got $iters")
    require(scale >= 1000, s"scale too small for meaningful ranks: $scale")
    require(checkpointEvery >= 1, "checkpointEvery must be positive")
    val sym = undirected(edges, srcCol, dstCol)
    // degree-annotated adjacency, materialized once — every round joins
    // it. Degree comes from a count window over src rather than a
    // groupBy+join-back: that turns three full-edge shuffles (distinct,
    // degree agg, join) into two, and WindowExec buffers one node's
    // edges at a time WITH sort-spill — safe on hub nodes where a
    // collect_set-based one-shuffle variant would hold the whole
    // neighbor set on the heap.
    val adj = Ckpt.cut(sym.withColumn("deg",
      count(lit(1)).over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("src")))))
    val n = adj.agg(count_distinct(col("src"))).head().getLong(0)
    require(n > 0, "edge relation spans no nodes")
    val tele = (scale * 15L / 100L) / n
    val ranks0 = adj.select(col("src").as("node")).distinct()
      .select(col("node"), lit(scale / n).as("r"))
    // Unlike the CC fixpoint (which must materialize each round to read
    // its convergence observation), the round count is FIXED — so cuts
    // exist only to bound plan depth, and per-action scheduling latency,
    // not per-edge throughput, dominates a small-graph fixpoint: K
    // rounds per cut measured 5.2 s (K=1), 4.2 s (K=5), 3.9 s (K=10) at
    // sf0.1 — the remainder is the adjacency build and real edge work.
    val ranks = Ckpt.iterate(ranks0, iters, checkpointEvery) { cur =>
      // shuffle-hash hint on the node-sized ranks side: sort-merge would
      // re-SORT the edge list every round; hashing the per-partition
      // slice of ranks streams the edges unsorted, and adj is already
      // hash-partitioned on src from its build join (LogicalRDD
      // preserves partitioning through the checkpoint)
      adj.join(cur.hint("shuffle_hash"), adj("src") === cur("node"))
        .select(col("dst"), expr("r div deg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
        .select(col("dst").as("node"),
          (lit(tele) + expr("(85 * s) div 100")).as("r"))
    }
    Ckpt.release(adj)
    ranks
  }

  /** Personalized PageRank (Haveliwala 2002): identical fixed-point
    * machinery to [[pageRank]], but ALL teleport mass restarts at the
    * SEED set — rank becomes proximity-to-seeds, the primitive behind
    * graph-based data selection (expand a trusted seed corpus along a
    * similarity/link graph) and related-entity retrieval. `seedPred` is
    * a predicate on the node id column; r0 = scale div |S| on seeds and
    * 0 elsewhere, tele lands only on seeds. Same per-round shape (one
    * keyed join + one keyed aggregate), same BIGINT-exact arithmetic, so
    * a recursive CTE replays every round bit-for-bit.
    */
  def personalizedPageRank(edges: DataFrame,
                           seedPred: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
                           srcCol: String = "src", dstCol: String = "dst",
                           iters: Int = 10, scale: Long = 1L << 40,
                           checkpointEvery: Int = 10): DataFrame = {
    require(iters >= 1, s"iters must be positive, got $iters")
    val sym = undirected(edges, srcCol, dstCol)
    val adj = Ckpt.cut(sym.withColumn("deg",
      count(lit(1)).over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("src")))))
    val nS = adj.select(col("src")).distinct()
      .filter(seedPred(col("src"))).count()
    require(nS > 0, "seed predicate selects no graph nodes")
    val teleS = (scale * 15L / 100L) / nS
    val ranks0 = adj.select(col("src").as("node")).distinct()
      .select(col("node"),
        when(seedPred(col("node")), lit(scale / nS)).otherwise(lit(0L))
          .as("r"))
    val ranks = Ckpt.iterate(ranks0, iters, checkpointEvery) { cur =>
      adj.join(cur.hint("shuffle_hash"), adj("src") === cur("node"))
        .select(col("dst"), expr("r div deg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
        .select(col("dst").as("node"),
          (when(seedPred(col("dst")), lit(teleS)).otherwise(lit(0L)) +
            expr("(85 * s) div 100")).as("r"))
    }
    Ckpt.release(adj)
    ranks
  }

  /** Per-node exact triangle counts via the degree-ordered FORWARD
    * algorithm (Schank & Wagner 2005) — the formulation that survives
    * scale-free degree distributions. Every undirected edge is oriented
    * from the endpoint LOWER in the total order η = (degree, id) to the
    * higher one; a triangle {u,v,w} with η(u)<η(v)<η(w) is then found
    * exactly once, as the wedge u→v, u→w closed by the edge v→w. The
    * payoff is the wedge bound: after orientation every out-degree is
    * O(√m) regardless of how hub-heavy the raw degrees are, so the
    * wedge join materializes O(m^1.5) rows worst-case instead of the
    * Σ deg² of the naive node-iterator — the difference between
    * feasible and not on a power-law graph at 100 TB.
    *
    * Plan shape: one degree aggregate, one join to annotate both
    * endpoints, then the wedge self-equi-join keyed on the pivot node
    * and a closing equi-join keyed on (v,w) — all keyed shuffles with
    * map-side partials, no cartesian anywhere, no driver state. Output
    * is (node, tri) for every node in ≥1 triangle; all-integer, so the
    * DuckDB oracle replays it exactly.
    */
  def triangleCounts(edges: DataFrame, srcCol: String = "src",
                     dstCol: String = "dst"): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    // Degrees via two count windows over the BOTH-DIRECTIONS edge list
    // (every incident edge appears under src once and under dst once, so
    // each window reads a full degree) — the pageRank recipe. This keeps
    // the whole annotate step in ONE plan chain; the groupBy+join-back
    // formulation fed the edge build into three subtrees and needed a
    // second checkpoint to stop re-execution.
    // the [[undirected]] build under a/b names: the `a` window reuses
    // its hash(a) partitioning, so the build takes two full-edge
    // exchanges, not three
    val sym = edges.select(explode(array(
        struct(col(srcCol).as("a"), col(dstCol).as("b")),
        struct(col(dstCol).as("a"), col(srcCol).as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .filter(col("a") =!= col("b"))
      .repartition(col("a"))
      .dropDuplicates(Seq("a", "b"))
      .withColumn("da", count(lit(1)).over(W.partitionBy(col("a"))))
      .withColumn("db", count(lit(1)).over(W.partitionBy(col("b"))))
      .filter(col("a") < col("b")) // back to one row per undirected edge
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    // Materialized ONCE: the oriented edge list feeds THREE subtrees
    // (both wedge sides and the closing join) — without this cut the
    // whole co-occurrence build re-executes per subtree (measured 21s
    // uncut at sf0.1). Same pattern as Mixing.assignContiguousIds.
    val oriented = sym.select(
      when(aFirst, col("a")).otherwise(col("b")).as("src"),
      when(aFirst, col("b")).otherwise(col("a")).as("dst"),
      when(aFirst, col("db")).otherwise(col("da")).as("dd"))
      .transform(Ckpt.cut(_))
    val o1 = oriented.toDF("u", "v", "dv")
    val o2 = oriented.toDF("u", "w", "dw")
    val wedges = o1.join(o2, Seq("u"))
      .filter(col("dv") < col("dw") ||
        (col("dv") === col("dw") && col("v") < col("w")))
      .select(col("u"), col("v"), col("w"))
    val tri = wedges.join(
      oriented.select(col("src").as("v"), col("dst").as("w")), Seq("v", "w"))
    tri.select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("tri"))
  }

  /** Supplier co-order graph: an edge between two suppliers that fulfil
    * lines of at least `minShared` COMMON orders. The weight threshold is
    * the graph's density dial — co-occurrence weight concentrates around
    * (lines/order)²·orders/pairs, so thresholding above that mean keeps
    * the repeat-collaboration structure and sheds the noise clique that
    * one shared order would induce.
    */
  /** coSupplierEdges keeping the co-occurrence weight — the input for
    * weight-aware algorithms (spanning forest, weighted communities).
    */
  def coSupplierWeightedEdges(lineitem: DataFrame,
                              minShared: Int = 6): DataFrame = {
    val perOrder = lineitem
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_suppkey"))).as("ss"))
    perOrder
      .select(explode(expr(
        """flatten(transform(ss, (x, i) ->
          |  transform(slice(ss, i + 2, size(ss)),
          |            y -> struct(x AS sa, y AS sb))))""".stripMargin))
        .as("p"))
      .select(col("p.sa").as("sa"), col("p.sb").as("sb"))
      .groupBy(col("sa"), col("sb")).agg(count(lit(1)).as("w"))
      .filter(col("w") >= minShared)
      .select(col("sa").as("src"), col("sb").as("dst"), col("w"))
  }

  def coSupplierEdges(lineitem: DataFrame, minShared: Int = 6): DataFrame =
    // Pair generation is MAP-SIDE: one keyed combine collects each order's
    // (tiny, bounded-by-lines-per-order) distinct supplier set, then the
    // sa<sb combinations explode from the sorted array without ever
    // joining the pair relation against itself — the self-join variant
    // shuffles the d²-per-order pair relation TWICE (join + count), this
    // shuffles it once, already pair-keyed for the weight count.
    coSupplierWeightedEdges(lineitem, minShared).select(col("src"), col("dst"))

  /** k-core decomposition by synchronous peeling (Batagelj–Zaveršnik
    * semantics, Pregel-style rounds): repeatedly delete every node whose
    * CURRENT degree is below `k` — deletions cascade — until stable; the
    * k-core is what survives. The quality filter of web-graph pipelines
    * (spam and orphan pages fall out of low cores) and the standard
    * community-scaffold preprocessing step.
    *
    * Per round: degree via two count windows over the symmetric edge
    * list (src side and dst side — keyed, sort-spilled, hub-safe) and a
    * filter; each round materializes ONCE with the removed-edge count
    * observed on the same action (the componentMinLabels recipe — no
    * separate convergence job). Rounds cap at `maxRounds`; peeling is
    * idempotent at the fixpoint, so a converged run equals the oracle's
    * fixed-round replay exactly.
    *
    * Returns (node, deg): the k-core members with their in-core degrees.
    */
  def kCore(edges: DataFrame, k: Int, srcCol: String = "src",
            dstCol: String = "dst", maxRounds: Int = 20): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    val W = org.apache.spark.sql.expressions.Window
    // hash(src)-partitioned for round 0's src window
    var cur = Ckpt.cut(undirected(edges, srcCol, dstCol))
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      val obs = org.apache.spark.sql.Observation(s"kcore_removed_r$round")
      // Alternate the window evaluation order per round: the two
      // degree windows key on different columns, so one of them always
      // re-shuffles — but the round's OUTPUT keeps the partitioning of
      // whichever window ran last, so evaluating THAT side first next
      // round makes it exchange-free. One full-edge exchange per round
      // instead of two; the ds/dd values (and thus the peel) are
      // order-independent annotations.
      val srcFirst = round % 2 == 0
      val withDegs =
        if (srcFirst) cur
          .withColumn("ds", count(lit(1)).over(W.partitionBy(col("src"))))
          .withColumn("dd", count(lit(1)).over(W.partitionBy(col("dst"))))
        else cur
          .withColumn("dd", count(lit(1)).over(W.partitionBy(col("dst"))))
          .withColumn("ds", count(lit(1)).over(W.partitionBy(col("src"))))
      val next = Ckpt.cut(withDegs
        .observe(obs,
          count(when(col("ds") < k || col("dd") < k, 1)).as("removed"))
        .filter(col("ds") >= k && col("dd") >= k)
        .select(col("src"), col("dst")))
      converged = obs.get("removed").asInstanceOf[Long] == 0L
      Ckpt.release(cur)
      cur = next
      round += 1
    }
    cur.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .select(col("src").as("node"), col("deg"))
  }

  /** k-truss decomposition (Cohen 2008 "Trusses: cohesive subgraphs for
    * social network analysis") by synchronous support peeling: repeatedly
    * delete every edge whose CURRENT triangle support is below k−2 —
    * deletions cascade — until stable. The k-truss is the edge analog of
    * the k-core and a strictly stronger cohesion filter: every edge of a
    * k-truss lies in ≥ k−2 triangles INSIDE the surviving subgraph, so
    * bridges and barely-attached spokes that survive coreness fall out.
    *
    * Per round, the triangleCounts recipe lifted to edges: degree-ordered
    * FORWARD orientation (out-degrees bounded O(√m) on any degree
    * distribution), one wedge self-equi-join keyed on the pivot, one
    * closing equi-join keyed on (v,w), then each triangle credits its
    * THREE canonical edges via a 3-way explode and a keyed count — all
    * keyed shuffles with map-side partials, no cartesian. Each round
    * materializes ONCE with the removed-edge count observed on the same
    * action (the kCore recipe); the oriented edge list inside a round is
    * checkpointed because it feeds three subtrees. Peeling is idempotent
    * at the fixpoint, so a converged run equals a fixed-round replay —
    * which is exactly what the unrolled DuckDB oracle does.
    *
    * Returns (src, dst, support): the k-truss edge set (src < dst) with
    * each edge's in-truss triangle support. A run that hits `maxRounds`
    * before converging returns the current frontier with the supports
    * measured before the last peel (the caller's depth bound, mirroring
    * kCore's contract).
    */
  def kTruss(edges: DataFrame, k: Int, srcCol: String = "src",
             dstCol: String = "dst", maxRounds: Int = 30): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val W = org.apache.spark.sql.expressions.Window
    // one exchange, hash(a)-partitioned: the orientation build's `a`
    // window below then runs exchange-free (see [[undirected]])
    var cur = Ckpt.cut(edges.select(
        least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .repartition(col("a"))
      .dropDuplicates(Seq("a", "b")))
    // Orient ONCE by INITIAL (degree, id): the forward algorithm is
    // exact under ANY fixed total order η on nodes (each surviving
    // triangle has a unique η-minimum, so it is found exactly once as
    // that node's wedge) — re-orienting by the peeled graph's current
    // degrees each round bought nothing but two count windows and an
    // explode per round. The initial-degree order keeps the O(√m)
    // wedge bound on the round-0 graph; peeling only shrinks it.
    val oriented0 = Ckpt.cut {
      val sym0 = cur.select(explode(array(
          struct(col("a"), col("b")),
          struct(col("b").as("a"), col("a").as("b")))).as("e"))
        .select(col("e.a").as("a"), col("e.b").as("b"))
        .withColumn("da", count(lit(1)).over(W.partitionBy(col("a"))))
        .withColumn("db", count(lit(1)).over(W.partitionBy(col("b"))))
        .filter(col("a") < col("b"))
      val aFirst = col("da") < col("db") ||
        (col("da") === col("db") && col("a") < col("b"))
      sym0.select(col("a"), col("b"),
        when(aFirst, col("a")).otherwise(col("b")).as("src"),
        when(aFirst, col("b")).otherwise(col("a")).as("dst"),
        when(aFirst, col("db")).otherwise(col("da")).as("dd"))
    }
    var out: DataFrame = null
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      // surviving edges keep their frozen orientation: one keyed
      // semi-join against the current edge set per round
      val oriented = Ckpt.cut(oriented0.join(cur, Seq("a", "b"), "left_semi"))
      val o1 = oriented.select(col("src").as("u"), col("dst").as("v"),
        col("dd").as("dv"))
      val o2 = oriented.select(col("src").as("u"), col("dst").as("w"),
        col("dd").as("dw"))
      val tri = o1.join(o2, Seq("u"))
        .filter(col("dv") < col("dw") ||
          (col("dv") === col("dw") && col("v") < col("w")))
        .select(col("u"), col("v"), col("w"))
        .join(oriented.select(col("src").as("v"), col("dst").as("w")),
          Seq("v", "w"))
      val sup = tri.select(explode(array(
          struct(least(col("u"), col("v")).as("a"),
                 greatest(col("u"), col("v")).as("b")),
          struct(least(col("u"), col("w")).as("a"),
                 greatest(col("u"), col("w")).as("b")),
          struct(least(col("v"), col("w")).as("a"),
                 greatest(col("v"), col("w")).as("b")))).as("p"))
        .select(col("p.a").as("a"), col("p.b").as("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("support"))
      val obs = org.apache.spark.sql.Observation(s"ktruss_removed_r$round")
      val kept = Ckpt.cut(cur.join(sup, Seq("a", "b"), "left")
        .withColumn("support", coalesce(col("support"), lit(0L)))
        .observe(obs,
          count(when(col("support") < k - 2, 1)).as("removed"))
        .filter(col("support") >= k - 2))
      Ckpt.release(oriented)
      Ckpt.release(cur)
      converged = obs.get("removed").asInstanceOf[Long] == 0L
      out = kept
      cur = kept.select(col("a"), col("b"))
      round += 1
    }
    Ckpt.release(oriented0)
    if (out == null) cur.select(col("a").as("src"), col("b").as("dst"),
      lit(0L).as("support")).filter(lit(false))
    else out.select(col("a").as("src"), col("b").as("dst"), col("support"))
  }

  /** Synchronous label propagation for community detection (Raghavan et
    * al. 2007), made DETERMINISTIC: every node starts labeled with its own
    * id, and each round adopts the label most frequent among its
    * neighbors, ties broken toward the SMALLEST label — no random node
    * order, no random tie coin, so a fixed round count replays exactly on
    * any engine and any partitioning. A self-loop per node makes the
    * node's own current label vote, which damps the two-coloring
    * oscillation synchronous LPA exhibits on bipartite structure
    * (Raghavan et al. §3 note the asynchronous schedule exists for the
    * same reason; a fixed self-vote keeps determinism where a schedule
    * draw would not).
    *
    * Scale shape per round, the pageRank recipe: one equi-join of labels
    * against the checkpointed edge list (shuffle-hash hinted — never
    * re-sorts the edges) and TWO keyed aggregates — (dst,label) vote
    * counts with map-side partials, then an argmax per dst as
    * max(struct(votes, -label)), which is itself partially aggregable.
    * Labels are one row per node; plan depth is bounded by
    * `checkpointEvery` cuts. No windows, no driver state.
    */
  def labelPropagation(edges: DataFrame, srcCol: String = "src",
                       dstCol: String = "dst", iters: Int = 5,
                       checkpointEvery: Int = 10): DataFrame = {
    require(iters >= 1, s"iters must be positive, got $iters")
    // ONE full-edge exchange: self-loops are unioned in WITH duplicates
    // (one per incident raw edge — the dedup collapses them) so the whole
    // relation takes a single repartition(src) and one exchange-free
    // dedup aggregate. A self-loop key (u, u) can never collide with a
    // real edge (bothWays drops src = dst), so the dedup is exact.
    val raw = bothWays(edges, srcCol, dstCol)
    val adj = Ckpt.cut(raw.unionByName(
        raw.select(col("src"), col("src").as("dst")))
      .repartition(col("src")) // rounds join on src: no re-shuffle
      .dropDuplicates(Seq("src", "dst")))
    val labels0 = adj.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
    val labels = Ckpt.iterate(labels0, iters, checkpointEvery) { cur =>
      adj.join(cur.hint("shuffle_hash"), adj("src") === cur("node"))
        .groupBy(col("dst"), col("label")).agg(count(lit(1)).as("c"))
        .groupBy(col("dst"))
        .agg(max(struct(col("c"), (-col("label")).as("nl"))).as("m"))
        .select(col("dst").as("node"), (-col("m.nl")).as("label"))
    }
    Ckpt.release(adj)
    labels
  }

  /** Weisfeiler–Leman color refinement (1-WL) — the node-feature /
    * graph-fingerprint kernel behind WL graph kernels and GNN
    * expressiveness analyses: start from degree colors, then each round
    * re-colors every node with a hash of (own color | sorted multiset of
    * neighbor colors). Two nodes share a color after r rounds iff 1-WL
    * cannot distinguish their r-hop neighborhoods.
    *
    * Determinism: colors are md5 hex strings; the neighbor multiset is
    * sorted lexicographically before hashing (sort_array / `list(… ORDER
    * BY …)` agree on ASCII hex), so every round is bit-replayable in
    * DuckDB. Scale shape per round: one src-keyed equi-join of colors
    * against the pre-partitioned adjacency + one dst-keyed aggregate —
    * the labelPropagation recipe. The sorted neighbor-color list bounds
    * a row by the node's degree (fine on the minShared-thresholded
    * co-supplier graph; an unbounded power-law graph would swap in an
    * order-invariant multiset-sum combine instead of the sorted list).
    */
  def wlRefinement(edges: DataFrame, srcCol: String = "src",
                   dstCol: String = "dst", rounds: Int = 3): DataFrame = {
    require(rounds >= 1, s"rounds must be positive, got $rounds")
    val adj = Ckpt.cut(undirected(edges, srcCol, dstCol))
    var colors = adj.groupBy(col("src").as("node"))
      .agg(count(lit(1)).cast("string").as("color"))
    for (_ <- 1 to rounds) {
      val nbr = adj
        .join(colors.hint("shuffle_hash"), adj("src") === colors("node"))
        .groupBy(col("dst"))
        .agg(sort_array(collect_list(col("color"))).as("ncs"))
      colors = colors.join(nbr, colors("node") === nbr("dst"))
        .select(col("node"),
          md5(concat(col("color"), lit("|"), array_join(col("ncs"), ",")))
            .as("color"))
    }
    // materialize the final colors BEFORE releasing the adjacency blocks
    // (they are still in the colors lineage until this cut); partitioned
    // on color so the class-size window needs no further exchange
    val cutColors = Ckpt.cut(colors.repartition(col("color")))
    Ckpt.release(adj)
    cutColors.withColumn("class_size",
      count(lit(1)).over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("color"))).cast("long"))
  }

  /** Rich-club coefficients φ(k) = 2·E_k / (N_k·(N_k−1)) for a ladder of
    * degree thresholds: how densely the high-degree "club" interconnects —
    * the classic hub-assortativity diagnostic (Colizza et al. 2006,
    * unnormalized φ). Exact integers (degree census + edge census per
    * threshold via a 4-way literal explode — no inequality join) and one
    * final division. NULL below two club members.
    */
  def richClub(edges: DataFrame,
               thresholds: Seq[Int] = Seq(2, 4, 8, 16)): DataFrame = {
    import edges.sparkSession.implicits._
    // the edge relation feeds three consumers (degree census via sym,
    // and both endpoint joins of the edge census) — cut it ONCE or the
    // upstream pair derivation re-executes per consumer (measured 23 s
    // -> 8 s at sf1)
    val e0 = Ckpt.cut(edges)
    val sym = e0.select(explode(array(
        struct(col("src").as("u"), col("dst").as("v")),
        struct(col("dst").as("u"), col("src").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .filter(col("u") =!= col("v")).distinct()
    val deg = sym.groupBy(col("u").as("node"))
      .agg(count(lit(1)).as("deg"))
    val kArr = array(thresholds.map(k => lit(k.toLong)): _*)
    val nk = deg.select(col("deg"), explode(kArr).as("k"))
      .filter(col("deg") > col("k"))
      .groupBy("k").agg(count(lit(1)).as("n_rich"))
    val ek = e0
      .join(deg.select(col("node"), col("deg").as("da")),
        col("node") === col("src")).drop("node")
      .join(deg.select(col("node"), col("deg").as("db")),
        col("node") === col("dst")).drop("node")
      .select(col("da"), col("db"), explode(kArr).as("k"))
      .filter(col("da") > col("k") && col("db") > col("k"))
      .groupBy("k").agg(count(lit(1)).as("e_rich"))
    thresholds.map(_.toLong).toDF("k")
      .join(nk, Seq("k"), "left").join(ek, Seq("k"), "left")
      .select(col("k"),
        coalesce(col("n_rich"), lit(0L)).as("n_rich"),
        coalesce(col("e_rich"), lit(0L)).as("e_rich"))
      .withColumn("phi",
        when(col("n_rich") >= 2,
          (lit(2L) * col("e_rich")).cast("double") /
            (col("n_rich") * (col("n_rich") - 1)).cast("double")))
  }

  /** The customer–supplier trade graph: an edge for every (customer,
    * supplier) pair connected by an order line — emitted WITH duplicates
    * (one per connecting line): pageRank's symmetrize step deduplicates
    * anyway, so a distinct here would only add a full extra shuffle of
    * the pair relation before the one that already happens. Suppliers
    * are offset into their own id namespace so the bipartite node sets
    * stay disjoint.
    */
  def tradeGraph(orders: DataFrame, lineitem: DataFrame): DataFrame =
    orders.select(col("o_orderkey"), col("o_custkey"))
      .join(lineitem.select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("src"),
        (col("l_suppkey") + 1000000L).as("dst"))

  /** [[tradeGraph]] restricted to REPEAT relationships: pairs connected
    * by at least `minLines` order lines. The threshold is the community
    * dial — the unthresholded bipartite graph is dense enough that any
    * label process collapses it to one block; >= 3 connecting lines keeps
    * the repeat-trade backbone where mesoscale structure lives (same
    * rationale as coSupplierEdges' minShared).
    */
  def tradeGraphWeighted(orders: DataFrame, lineitem: DataFrame,
                         minLines: Int = 3): DataFrame =
    orders.select(col("o_orderkey"), col("o_custkey"))
      .join(lineitem.select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_custkey"), col("l_suppkey"))
      .agg(count(lit(1)).as("w"))
      .filter(col("w") >= minLines)
      .select(col("o_custkey").as("src"),
        (col("l_suppkey") + 1000000L).as("dst"))

  /** Link-prediction scores for same-side node pairs of a bipartite
    * graph (Liben-Nowell & Kleinberg 2003): for every pair of left nodes
    * sharing ≥ `minCommon` right neighbors, the three classic features —
    * common-neighbor count, Jaccard overlap cn/(da+db−cn), and
    * Adamic–Adar Σ_z 1/ln(deg z), which discounts promiscuous shared
    * neighbors. The trade-graph reading: "customers predicted to share a
    * future supplier", the collaborative-filtering primitive.
    *
    * Plan shape: degrees via count windows over the edge list (hub-safe
    * sort-spill, the triangleCounts recipe), one wedge equi-join keyed on
    * the shared right node — never all-pairs; the pair relation is
    * Σ_z deg(z)² bounded and the threshold prunes it before any further
    * work. The Adamic–Adar sum folds in sorted neighbor order through the
    * ieee_ln kernel, so even the float feature hash-replays; cn and the
    * Jaccard operands are integers.
    */
  def linkPredict(edges: DataFrame, srcCol: String = "src",
                  dstCol: String = "dst", minCommon: Int = 2): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct()
      .withColumn("cd", count(lit(1)).over(W.partitionBy(col("src"))))
      .withColumn("dd", count(lit(1)).over(W.partitionBy(col("dst"))))
    val a = e.select(col("src").as("cust_a"), col("dst"),
      col("cd").as("da"), col("dd"))
    val b = e.select(col("src").as("cust_b"), col("dst").as("dst"),
      col("cd").as("db"))
    val term = lit(1.0) /
      graft.functions.GraftFunctions.ieeeLn(col("dd").cast("double"))
    a.join(b, "dst").filter(col("cust_a") < col("cust_b"))
      .select(col("cust_a"), col("cust_b"), col("da"), col("db"),
        col("dst"), term.as("term"))
      .groupBy(col("cust_a"), col("cust_b"), col("da"), col("db"))
      .agg(count(lit(1)).as("cn"),
        aggregate(
          sort_array(collect_list(struct(col("dst"), col("term")))),
          lit(0.0), (acc, x) => acc + x.getField("term")).as("aa"))
      .filter(col("cn") >= minCommon)
      .select(col("cust_a"), col("cust_b"), col("cn"),
        (col("cn").cast("double") /
          (col("da") + col("db") - col("cn")).cast("double")).as("jaccard"),
        col("aa"))
  }

  /** HITS hubs & authorities (Kleinberg 1999) on a DIRECTED graph, in the
    * family's fixed-point integer arithmetic: each half-step pushes scores
    * across the edges (hubs -> authority raw scores, then authorities ->
    * hub raw scores) and renormalizes to total mass `scale` with one
    * truncating division per node — the integer analog of L1
    * normalization, which keeps every value in [0, scale] and the whole
    * run BIGINT-exact, so a recursive CTE replays all 2·iters half-steps
    * bit-for-bit (the power iteration itself, not just its output shape,
    * is oracle-verified).
    *
    * Per half-step: one equi-join of the current side's scores against
    * the direction-flagged edge list + one keyed sum (both
    * partial-aggregated), then a broadcast of the 1-row total — no
    * driver-side action inside the loop; the normalizer rides the plan as
    * a broadcast nested loop of one row. State is one generation of
    * O(nodes) rows, cut every half-step.
    *
    * Headroom & the ADAPTIVE scale: with L1 renormalization every
    * half-step, total mass never exceeds `scale`, so any node's raw
    * push-sum is ≤ scale and the per-node multiply is ≤ scale² — scale
    * up to 2^31 stays BIGINT-exact regardless of degree.
    * The binding constraint is the OTHER direction: the initial state is
    * scale div nh per hub, so a fixed 2^20 scale zeroes the whole state
    * once the graph exceeds 2^20 hubs — the 1.5M-customer sf10 trade
    * graph does (v0 = 0 → S = 0 → division by zero on the first
    * normalize). scale = 0 (the default) therefore means AUTO:
    * min(2^31, max(2^20, nh·2^10)) — ≥ 1024 units of per-node
    * resolution up to 2M hubs, degrading gracefully to 1 unit at 2^31
    * hubs, failing loudly beyond (a 100 TB graph past 2^31 nodes needs
    * the double-domain variant, not more integer bits).
    *
    * Returns (kind, node, v): kind 'hub' for source-side nodes after the
    * final backward half-step, 'auth' for destination-side nodes after
    * the final forward half-step.
    */
  def hits(edges: DataFrame, srcCol: String = "src",
           dstCol: String = "dst", iters: Int = 4,
           scale: Long = 0L): DataFrame = {
    require(iters >= 1, s"iters must be positive, got $iters")
    // both orientations materialized once, each partitioned on ITS round
    // join key - the standard store-both-directions trade (2x edge
    // storage buys zero edge shuffles across all 2*iters half-steps).
    // The forward orientation dedups exchange-free after its single
    // repartition (see [[undirected]]) and the backward one derives from
    // it: two full-edge exchanges and two cuts in all.
    val eF = Ckpt.cut(edges.select(col(srcCol).as("s"), col(dstCol).as("d"))
      .repartition(col("s"))
      .dropDuplicates(Seq("s", "d")))
    val eB = Ckpt.cut(eF.select(col("d").as("s"), col("s").as("d"))
      .repartition(col("s")))
    val hubs = eF.select(col("s").as("node")).distinct()
    val nh = hubs.count()
    require(nh > 0, "edge relation spans no hub nodes")
    val sc = if (scale > 0L) scale
             else math.min(1L << 31, math.max(1L << 20, nh << 10))
    require(nh <= sc,
      s"$nh hubs exceed the fixed-point scale $sc: the initial state " +
        "would truncate to all-zero mass. Use the double-domain scorer " +
        "for graphs past 2^31 nodes.")
    var state = hubs.select(col("node"), lit(sc / nh).as("v"))
    var prev = state
    // Every half-step materializes its raw sum aggregate ONCE (a cut):
    // each half-step references that aggregate twice — the rows and the
    // L1 normalizer built from them — so an uncut chain re-executes the
    // prefix 2^steps times (measured: 34s vs ~1s for 8 half-steps at
    // sf0.1). The normalizer total rides the SAME cut action as an
    // Observation and is folded into the projection as a LITERAL, so no
    // half-step runs a scalar-aggregate job or a broadcast exchange (the
    // same exact integer division DuckDB's replay computes per round).
    // `prev` is a projection over the PREVIOUS half-step's cut,
    // so two raw generations stay alive at a time.
    val rawGens = scala.collection.mutable.Queue.empty[DataFrame]
    var half = 0
    while (half < 2 * iters) {
      val forward = half % 2 == 0 // hubs feed authorities
      val dir = if (forward) eF else eB
      val obs = org.apache.spark.sql.Observation(s"hits_norm_$half")
      val rawCut = Ckpt.cut(dir
        .join(state.hint("shuffle_hash"), col("s") === col("node"))
        .groupBy(col("d")).agg(sum(col("v")).as("raw_v"))
        .observe(obs, sum(col("raw_v")).as("S")))
      // null only when raw is EMPTY — then the projection below is empty
      // too and the literal is never evaluated, so any placeholder works
      val sTot = Option(obs.get("S")).map(_.asInstanceOf[Long])
        .getOrElse(1L)
      prev = state
      state = rawCut.select(col("d").as("node"),
        expr(s"($sc * raw_v) div $sTot").as("v"))
      rawGens.enqueue(rawCut)
      if (rawGens.size > 2) Ckpt.release(rawGens.dequeue())
      half += 1
    }
    // materialize the output BEFORE releasing the raw/edge checkpoints —
    // prev and state are lazy projections over the last two cuts
    val out = Ckpt.cut(
      prev.select(lit("auth").as("kind"), col("node"), col("v"))
        .unionByName(
          state.select(lit("hub").as("kind"), col("node"), col("v"))))
    rawGens.foreach(Ckpt.release)
    Ckpt.release(eF)
    Ckpt.release(eB)
    out
  }

  /** Multi-source BFS: exact shortest hop distance from the seed set,
    * bounded to `iters` rounds, over the symmetrized edge relation. The
    * relaxation dist'(v) = min over in-steps (dist(u) + w) uses an edge
    * relation augmented with 0-weight self-loops, which folds "keep your
    * current distance" into the SAME keyed min-aggregate — one join + one
    * aggregate per round, and a form a single-reference recursive CTE
    * replays directly. Distances are integers; the whole run is exact.
    * Unreached nodes are absent from the output (no sentinel).
    */
  def shortestHops(edges: DataFrame,
                   seedPred: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
                   srcCol: String = "src", dstCol: String = "dst",
                   iters: Int = 6, checkpointEvery: Int = 6): DataFrame = {
    require(iters >= 1, s"iters must be positive, got $iters")
    // ONE full-edge exchange: symmetrized edges (w=1, with duplicates)
    // and per-incident-edge self-loops (w=0) union BEFORE the single
    // repartition(src); the min-w aggregate then runs exchange-free under
    // hash(src) and collapses both duplicate kinds. A self-loop key
    // (u, u) can never collide with a real edge (bothWays drops
    // src = dst), so min(w) is a pure dedup.
    val raw = bothWays(edges, srcCol, dstCol)
    val step = Ckpt.cut(raw.select(col("src"), col("dst"), lit(1L).as("w"))
      .unionByName(raw.select(col("src"), col("src").as("dst"),
        lit(0L).as("w")))
      .repartition(col("src")) // rounds join on src: no re-shuffle
      .groupBy(col("src"), col("dst")).agg(min(col("w")).as("w")))
    // exactly one w=0 self-loop row per node — the node set, for free
    val d0 = step.filter(col("w") === 0L && seedPred(col("src")))
      .select(col("src").as("node"), lit(0L).as("dist"))
    val d = Ckpt.iterate(d0, iters, checkpointEvery)(relaxHops(step, _))
    Ckpt.release(step)
    d
  }

  /** Bounded-hop Bellman-Ford: exact shortest WEIGHTED distance from
    * the seed set over ≤ `iters`-edge paths — [[shortestHops]] with the
    * unit hop replaced by a positive integer edge cost (wCol). Same
    * 0-cost self-loop trick, so each round stays one keyed join + one
    * keyed min-aggregate and the whole run is replayed by a
    * single-reference recursive CTE. Integer costs make every round
    * exact; with non-negative costs the bounded relaxation equals the
    * true shortest distance for any node whose optimal path uses
    * ≤ iters edges (Bellman-Ford's invariant). Parallel edges collapse
    * to their cheapest cost up front. State is one (node, dist) row
    * per reached node, two checkpoint generations max.
    */
  def weightedHops(edges: DataFrame,
                   seedPred: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
                   srcCol: String = "src", dstCol: String = "dst",
                   wCol: String = "w",
                   iters: Int = 6, checkpointEvery: Int = 6): DataFrame = {
    require(iters >= 1, s"iters must be positive, got $iters")
    // one full-edge exchange — the shortestHops step-build shape with a
    // weight column: self-loops (w=0) union in pre-dedup, one
    // repartition(src), and the min-w aggregate collapses parallel
    // edges AND duplicate self-loops exchange-free.
    val raw = edges.select(explode(array(
        struct(col(srcCol).as("src"), col(dstCol).as("dst"),
          col(wCol).as("w")),
        struct(col(dstCol).as("src"), col(srcCol).as("dst"),
          col(wCol).as("w")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"),
        col("e.w").as("w"))
      .filter(col("src") =!= col("dst"))
    val step = Ckpt.cut(raw.unionByName(raw.select(col("src"),
        col("src").as("dst"), lit(0L).as("w")))
      .repartition(col("src")) // rounds join on src: no re-shuffle
      .groupBy(col("src"), col("dst")).agg(min(col("w")).as("w")))
    // node-set recovery keys on src === dst (exactly the injected
    // self-loops — a real edge can't have src === dst, the filter above
    // removed them), NOT on w === 0: a zero-cost real edge in the input
    // must not inject duplicate seed rows (with positive costs the two
    // predicates select the same rows).
    val d0 = step.filter(col("src") === col("dst") && seedPred(col("src")))
      .select(col("src").as("node"), lit(0L).as("dist"))
    val d = Ckpt.iterate(d0, iters, checkpointEvery)(relaxHops(step, _))
    Ckpt.release(step)
    d
  }

  /** One relaxation round of [[shortestHops]] / [[weightedHops]]:
    * dist'(v) = min over (u, v, w) in `step` of dist(u) + w. The 0-cost
    * self-loops in `step` keep every reached node's current distance. */
  private def relaxHops(step: DataFrame, d: DataFrame): DataFrame =
    step.join(d.hint("shuffle_hash"), col("src") === col("node"))
      .groupBy(col("dst")).agg(min(col("dist") + col("w")).as("dist"))
      .withColumnRenamed("dst", "node")

  /** Per-source bounded BFS: [[shortestHops]] semantics with the state
    * keyed by (source, node) so every seed advances in the same keyed
    * join+agg per round — k seeds cost k× state rows, not k× rounds
    * (the [[betweenness]] forward-pass distribution argument). Returns
    * (s, node, dist) for every node within `iters` hops of seed s.
    * Exact integer distances.
    *
    * Unlike the single-source-set [[shortestHops]] (whose state is one
    * row per node — relaxing everything every round costs nothing),
    * this state is seeds × reached and full relaxation re-joins ALL of
    * it against the edge list every round. So this variant is
    * FRONTIER-driven: on an unweighted graph a node's distance is
    * settled the round it is first reached, so only the newly-reached
    * rows propagate (edges ⋈ frontier), and an anti-join against the
    * settled set drops re-reached nodes. Each edge is traversed once
    * per seed across the whole run instead of once per seed PER ROUND
    * — graph_closeness at sf0.1 warm-probed 15.4 s → 10.2 s (the
    * bipartite trade graph saturates by hop ~3, so middle-round
    * frontiers stay near-full and bound the win) — and
    * the round's fresh count rides the checkpoint action as an
    * Observation (the componentMinLabels protocol), so an exhausted
    * frontier short-circuits the remaining rounds with no extra job.
    * The final settled set equals the relaxation fixpoint the
    * recursive-CTE oracle replays (min over ≤iters-hop paths = BFS
    * first-reach depth), which is what the hash compare pins.
    *
    * When the seed set fits 128 bits the whole run switches to
    * MULTI-SOURCE BFS over bitmasks (MS-BFS, Then et al. VLDB 2014):
    * state collapses from (seed, node) PAIRS to one 128-bit mask pair
    * per node, a round is one edge⋈frontier join plus a bit_or
    * aggregate — |edges| rows of work per round instead of
    * |edges|×|seeds-on-frontier| — and the (s, node, dist) rows are
    * exploded from the per-round fresh masks ONCE at the end (that
    * expansion is the output itself, not per-round state). The seed
    * list is collected to the driver for the bit assignment — bounded
    * by 128 BY THE DISPATCH TEST, the legitimate collect case. Larger
    * seed sets fall back to the pair-state frontier path above; both
    * produce identical (s, node, dist) relations. graph_closeness at
    * sf0.1 (99 seeds): 15.4 s full-relaxation → 10.2 s pair-frontier →
    * 4.8 s masks (warm probes).
    */
  def perSourceHops(edges: DataFrame,
                    seedPred: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
                    srcCol: String = "src", dstCol: String = "dst",
                    iters: Int = 6): DataFrame = {
    require(iters >= 1, s"iters must be positive, got $iters")
    // rounds join on src: no re-shuffle
    val sym = Ckpt.cut(undirected(edges, srcCol, dstCol))
    val seedFrame = sym.select(col("src").as("node")).distinct()
      .filter(seedPred(col("node")))
    val out =
      if (seedFrame.limit(129).count() <= 128L)
        maskHops(sym, seedFrame, iters)
      else pairHops(sym, seedFrame, iters)
    Ckpt.release(sym)
    out
  }

  /** MS-BFS core: masks (m0, m1) = settled seeds per node, (f0, f1) =
    * seeds that reached the node THIS round. One full-outer merge of
    * the bit_or'd neighbor masks into the state per round, one action
    * per round (the fresh count rides the checkpoint via observe). */
  private def maskHops(sym: DataFrame, seedFrame: DataFrame,
                       iters: Int): DataFrame = {
    val spark = sym.sparkSession
    import spark.implicits._
    val seeds = seedFrame.as[Long].collect().sorted // <= 128 by dispatch
    val bitMap = seeds.zipWithIndex.map { case (s, b) => (s, b) }
    val seedBits = bitMap.toSeq.toDF("s", "b")
    var state = Ckpt.cut(seedBits
      .select(col("s").as("node"),
        expr("IF(b < 64, shiftleft(1L, b), 0L)").as("m0"),
        expr("IF(b >= 64, shiftleft(1L, b - 64), 0L)").as("m1"))
      .withColumn("f0", col("m0")).withColumn("f1", col("m1")))
    val perRound = scala.collection.mutable.ArrayBuffer(
      state.select(col("node"), col("f0"), col("f1"),
        lit(0L).as("dist")))
    var round = 1
    var exhausted = false
    while (!exhausted && round <= iters) {
      val cand = sym
        .join(state.filter(col("f0") =!= 0 || col("f1") =!= 0)
          .hint("shuffle_hash"), col("src") === col("node"))
        .groupBy(col("dst"))
        .agg(expr("bit_or(f0)").as("c0"), expr("bit_or(f1)").as("c1"))
      val obs = org.apache.spark.sql.Observation(s"mask_fresh_$round")
      val next = Ckpt.cut(state.select(col("node"), col("m0"), col("m1"))
        .join(cand, col("node") === col("dst"), "full")
        .select(coalesce(col("node"), col("dst")).as("node"),
          coalesce(col("m0"), lit(0L)).as("m0"),
          coalesce(col("m1"), lit(0L)).as("m1"),
          coalesce(col("c0"), lit(0L)).as("c0"),
          coalesce(col("c1"), lit(0L)).as("c1"))
        .select(col("node"),
          expr("c0 & ~m0").as("f0"), expr("c1 & ~m1").as("f1"),
          col("m0"), col("m1"))
        .select(col("node"), (col("m0") bitwiseOR col("f0")).as("m0"),
          (col("m1") bitwiseOR col("f1")).as("m1"), col("f0"), col("f1"))
        .observe(obs, count(when(col("f0") =!= 0 || col("f1") =!= 0, 1))
          .as("fresh")))
      exhausted = obs.get("fresh").asInstanceOf[Long] == 0L
      // every round's checkpoint stays ALIVE: the deferred perRound
      // frames read their fresh masks from these blocks when the caller
      // materializes the expansion (releasing them here surfaced as
      // CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND). Total footprint is bounded
      // by rounds × nodes × 4 longs — the masks, not the pair rows.
      state = next
      if (!exhausted)
        perRound += next.filter(col("f0") =!= 0 || col("f1") =!= 0)
          .select(col("node"), col("f0"), col("f1"),
            lit(round.toLong).as("dist"))
      round += 1
    }
    // one end-of-run expansion: fresh masks -> (s, node, dist) rows
    perRound.reduce(_ unionByName _)
      .select(col("node"), col("dist"),
        explode(expr("""filter(transform(sequence(0, 127), b ->
          CASE WHEN b < 64 THEN IF(((f0 >> b) & 1) = 1, b, -1)
               ELSE IF(((f1 >> (b - 64)) & 1) = 1, b, -1) END),
          b -> b >= 0)""")).as("b"))
      .join(broadcast(seedBits), "b")
      .select(col("s"), col("node"), col("dist"))
  }

  /** Pair-state frontier path (seeds × reached rows) — the fallback
    * when the seed set exceeds 128 bits. */
  private def pairHops(sym: DataFrame, seedFrame: DataFrame,
                       iters: Int): DataFrame = {
    var settled = Ckpt.cut(seedFrame
      .select(col("node").as("s"), col("node"), lit(0L).as("dist")))
    var frontier = settled
    var round = 1
    var exhausted = false
    while (!exhausted && round <= iters) {
      val reached = sym
        .join(frontier.hint("shuffle_hash"), col("src") === col("node"))
        .select(col("s"), col("dst").as("node")).distinct()
        .join(settled.select(col("s"), col("node")), Seq("s", "node"),
          "left_anti")
        .select(col("s"), col("node"), lit(round.toLong).as("dist"))
      val obs = org.apache.spark.sql.Observation(s"hops_fresh_$round")
      val next = Ckpt.cut(settled.unionByName(reached)
        .observe(obs, count(when(col("dist") === round, 1)).as("fresh")))
      exhausted = obs.get("fresh").asInstanceOf[Long] == 0L
      Ckpt.release(settled)
      settled = next
      frontier = next.filter(col("dist") === round)
      round += 1
    }
    settled
  }

  /** Betweenness centrality from a sampled source set (Brandes 2001;
    * the sampling estimator of Brandes & Pich 2007): for each seed s,
    * a level-synchronous BFS counts shortest paths σ_s(v), then a
    * backward sweep over the BFS DAG accumulates dependencies
    *   δ_s(v) = Σ_{w : v ∈ preds(w)}  σ_s(v)/σ_s(w) · (1 + δ_s(w)),
    * and bc(v) = Σ_s δ_s(v) over the sample. Exact Brandes runs one
    * sweep per NODE — quadratic work no cluster survives on a big
    * graph; the pinned-seed sample is the standard scalable estimator
    * (scale by |V|/|S| for an unbiased total).
    *
    * Distribution: ALL sources advance together — state is keyed by
    * (source, node), so one keyed join+agg per BFS level serves the
    * whole sample (k sources cost k× state, not k× rounds). Forward:
    * frontier ⋈ edges, σ summed per (s, node), anti-join against
    * settled. Backward: per level L, the level-L rows join their
    * predecessors through the edge list and the (s, v) contribution
    * aggregate updates δ. Rounds are bounded by the diameter; every
    * round cuts lineage with the componentMinLabels checkpoint/observe
    * protocol (one action per round). σ are exact BIGINTs; δ is the
    * one inherently rational quantity (σ ratios), carried as double
    * with BOTH accumulation sums folded in a pinned order (per-(s, v)
    * by predecessor node, final bc by seed) — a fixed IEEE sequence the
    * DuckDB oracle replays bit-for-bit; GraphsSpec additionally pins it
    * against a plain Scala Brandes replay.
    */
  def betweenness(edges: DataFrame,
                  seedPred: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
                  srcCol: String = "src", dstCol: String = "dst",
                  maxRounds: Int = 12): DataFrame = {
    // both passes keyed differently: forward probes by src, backward by
    // dst - one orientation each, partitioned on its own join key (the
    // HITS recipe), so neither pass ever re-shuffles the edge list. The
    // dst orientation derives from the src one: two full-edge exchanges
    // in all.
    val sym = Ckpt.cut(undirected(edges, srcCol, dstCol))
    val symB = Ckpt.cut(sym.repartition(col("dst")))
    val seeds = sym.select(col("src").as("node")).distinct()
      .filter(seedPred(col("node")))
    // forward: settled (s, node, dist, sigma); frontier = last level
    var info = Ckpt.cut(seeds.select(col("node").as("s"), col("node"),
      lit(0L).as("dist"), lit(1L).as("sigma")))
    var frontier = info
    var maxDist = 0L
    var done = false
    while (!done && maxDist < maxRounds) {
      val cand = frontier
        .join(sym.hint("shuffle_hash"), frontier("node") === sym("src"))
        .groupBy(col("s"), col("dst"))
        .agg(sum(col("sigma")).as("sigma"))
        .select(col("s"), col("dst").as("node"),
          lit(maxDist + 1).as("dist"), col("sigma"))
      val obs = org.apache.spark.sql.Observation(s"bc_fwd_$maxDist")
      val newly = Ckpt.cut(cand
        .join(info.select(col("s"), col("node")), Seq("s", "node"),
          "left_anti")
        .observe(obs, count(lit(1)).as("n")))
      if (obs.get("n").asInstanceOf[Long] == 0L) {
        Ckpt.release(newly)
        done = true
      } else {
        val grown = Ckpt.cut(info.unionByName(newly))
        Ckpt.release(info)
        Ckpt.release(frontier)
        info = grown
        frontier = newly
        maxDist += 1
      }
    }
    // backward: level-descending dependency accumulation
    var state = Ckpt.cut(info.withColumn("delta", lit(0.0)))
    Ckpt.release(info)
    var level = maxDist
    while (level >= 1) {
      val wside = state.filter(col("dist") === level)
        .select(col("s"), col("node").as("wn"),
          col("sigma").as("ws"), col("delta").as("wd"))
      // the per-(s, v) dependency sum folds in wn order — δ is the one
      // float quantity here, and an unordered sum(double) would make the
      // result partitioning-luck; the sorted fold makes the whole δ
      // computation a fixed IEEE sequence, which is what lets the DuckDB
      // oracle replay it bit-for-bit (the knn_cosine ordered-fold rule)
      val contrib = wside
        .join(symB.hint("shuffle_hash"), col("wn") === col("dst"))
        .select(col("s"), col("src").as("vn"), col("wn"), col("ws"),
          col("wd"))
        .join(state.filter(col("dist") === level - 1)
            .select(col("s"), col("node").as("vn"), col("sigma").as("vs")),
          Seq("s", "vn"))
        .groupBy(col("s"), col("vn"))
        .agg(aggregate(
          array_sort(collect_list(struct(col("wn"),
            (col("vs").cast("double") / col("ws").cast("double") *
              (lit(1.0) + col("wd"))).as("t")))),
          lit(0.0), (acc, x) => acc + x.getField("t")).as("c"))
        .withColumnRenamed("vn", "node")
      val next = Ckpt.cut(state.join(contrib, Seq("s", "node"), "left")
        .select(col("s"), col("node"), col("dist"), col("sigma"),
          (col("delta") + coalesce(col("c"), lit(0.0))).as("delta")))
      Ckpt.release(state)
      state = next
      level -= 1
    }
    val out = state.filter(col("dist") > 0) // δ_s(s) never counts
      .groupBy(col("node"))
      .agg(aggregate( // bc = Σ_s δ folded in s order (see contrib note)
          array_sort(collect_list(struct(col("s"), col("delta")))),
          lit(0.0), (acc, x) => acc + x.getField("delta")).as("bc"),
        count(lit(1)).as("n_sources_reaching"))
      .transform(Ckpt.cut(_))
    Ckpt.release(state)
    Ckpt.release(sym)
    Ckpt.release(symB)
    out
  }

  /** Deterministic random-walk corpus (the DeepWalk/node2vec input —
    * Perozzi et al. KDD 2014): from every seed node, `steps` steps of a
    * uniform neighbor walk, where step t's draw from node u is the
    * neighbor v minimizing the 32-bit md5 hash of (walk, t, v) — a
    * uniform choice among neighbors that is DETERMINISTIC, so the walk
    * table is bit-replayable by a recursive CTE and hash-compares
    * end-to-end (the f_bootstrap_ci portable-draw convention applied
    * to graph traversal). Output (walk, step, node): the sequence
    * corpus an embedding trainer (skip-gram over walks) consumes.
    *
    * Scale shape: walk state is one row per walk; each step is one
    * broadcast join of the state against the checkpointed symmetric
    * edge list (map-side — the edge relation never shuffles) plus one
    * walk-keyed min-struct aggregate over the selected neighbor rows
    * (partial-aggregated; fanout is Σ deg(current node) per step).
    * With corpus-scale walk counts the broadcast flips to a keyed
    * shuffle-hash join on src — same plan family as pageRank's rounds.
    * State is cut every step (tiny), the edge list once.
    */
  def randomWalks(edges: DataFrame,
                  seedPred: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
                  srcCol: String = "src", dstCol: String = "dst",
                  steps: Int = 8): DataFrame = {
    require(steps >= 1, s"steps must be positive, got $steps")
    val sym = Ckpt.cut(bothWays(edges, srcCol, dstCol).distinct())
    var state = Ckpt.cut(sym.select(col("src").as("node")).distinct()
      .filter(seedPred(col("node")))
      .select(col("node").as("walk"), lit(0L).as("step"), col("node")))
    val frames = scala.collection.mutable.ArrayBuffer(state)
    var t = 1
    while (t <= steps) {
      val hv = graft.functions.GraftFunctions.md5Bits(
        concat(lit("walk:"), col("walk").cast("string"), lit(":"),
          lit(t.toString), lit(":"), col("dst").cast("string")), 1, 8)
      val next = Ckpt.cut(sym.join(broadcast(state), col("src") === col("node"))
        .select(col("walk"), hv.as("hv"), col("dst"))
        .groupBy(col("walk"))
        .agg(min(struct(col("hv"), col("dst"))).as("p"))
        .select(col("walk"), lit(t.toLong).as("step"),
          col("p.dst").as("node")))
      frames += next
      state = next
      t += 1
    }
    val out = Ckpt.cut(frames.reduce(_ unionByName _))
    frames.foreach(Ckpt.release)
    Ckpt.release(sym)
    out
  }

  /** MAXIMUM spanning forest by distributed Borůvka WITH CONTRACTION
    * (Borůvka 1926; the only spanning-tree algorithm whose rounds are
    * data-parallel): each round every component picks its best
    * incident cross edge — here the HIGHEST weight (backbone
    * extraction: the strongest skeleton of a collaboration graph),
    * ties broken by (src, dst) so the edge order is total and the
    * forest UNIQUE — then components linked by chosen edges merge and
    * the edge list is CONTRACTED onto the new component space:
    * intra-component edges drop, and parallel edges between the same
    * component pair collapse to their min-struct (max weight under the
    * total order). Contraction preserves the pick exactly — a dropped
    * intra edge can never be a cross pick, and the per-component
    * argmin over per-pair argmins equals the global argmin — while the
    * working relation shrinks geometrically instead of re-joining the
    * full edge table against the label map every round. Each edge
    * carries its ORIGINAL
    * (src, dst, w) through relabeling, so the output and the tie
    * order never change. Per round: one per-component min-struct
    * aggregate over the CURRENT (contracted) edges, a component merge
    * on the picked label pairs (≤ #components rows) via
    * componentMinLabels, and one relabel+collapse of the contracted
    * edges against that small map. The forest is unique by total edge
    * order, so GraphsSpec pins it edge-for-edge against a sequential
    * Kruskal replay.
    */
  def maxSpanningForest(edges: DataFrame, srcCol: String = "src",
                        dstCol: String = "dst", wCol: String = "w",
                        maxRounds: Int = 20): DataFrame = {
    val base = Ckpt.cut(edges.select(
        least(col(srcCol), col(dstCol)).as("src"),
        greatest(col(srcCol), col(dstCol)).as("dst"), col(wCol).as("w"))
      .filter(col("src") =!= col("dst"))
      .groupBy(col("src"), col("dst")).agg(max(col("w")).as("w")))
    // contracted working set: endpoints in component space, original
    // edge kept inside the min-struct; one row per component pair
    var cur = Ckpt.cut(base.select(col("src").as("ca"), col("dst").as("cb"),
      struct((-col("w")).as("nw"), col("src"), col("dst")).as("e")))
    val picks = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var round = 0
    var done = false
    while (!done && round < maxRounds) {
      val obs = org.apache.spark.sql.Observation(s"msf_cross_$round")
      // No per-round distinct: both endpoints' components may pick the
      // same edge, but every consumer tolerates the duplicate row — the
      // observation only tests n == 0, componentMinLabels dedups its
      // pair input itself, the contraction relabel is keyed on the label
      // map, and the FINAL distinct() below collapses the chosen set
      // once, saving one exchange + one AQE stage per Borůvka round.
      val pick = Ckpt.cut(cur.select(
          explode(array(col("ca"), col("cb"))).as("c"),
          struct(col("e").as("e"), col("ca"), col("cb")).as("p"))
        .groupBy(col("c")).agg(min(col("p")).as("p"))
        .select(col("p.e.src").as("src"), col("p.e.dst").as("dst"),
          (-col("p.e.nw")).as("w"), col("p.ca").as("ca"),
          col("p.cb").as("cb"))
        .observe(obs, count(lit(1)).as("n")))
      if (obs.get("n").asInstanceOf[Long] == 0L) {
        Ckpt.release(pick)
        done = true
      } else {
        // The chosen forest is read only once, after convergence, so its
        // union is deferred to the end of the run rather than cut (one
        // action plus its AQE stages) every round. The per-round pick
        // checkpoints stay alive until the final union materializes (the
        // maskHops perRound protocol); total footprint is rounds × picked
        // edges, bounded by the forest size.
        picks += pick
        // merge on the CONTRACTED graph: labels linked by chosen edges
        val merged = graft.llm.Dedup.componentMinLabels(
          pick.select(col("ca").as("id_a"), col("cb").as("id_b")))
        val relabel = merged.select(col("node").as("old"),
          col("label").as("nu"))
        // contract: relabel endpoints, drop intra edges, collapse
        // parallel edges to the per-pair min-struct
        val nextCur = Ckpt.cut(cur
          .join(relabel.withColumnRenamed("old", "ca")
            .withColumnRenamed("nu", "na"), Seq("ca"), "left")
          .join(relabel.withColumnRenamed("old", "cb")
            .withColumnRenamed("nu", "nb"), Seq("cb"), "left")
          .select(coalesce(col("na"), col("ca")).as("a"),
            coalesce(col("nb"), col("cb")).as("b"), col("e"))
          .filter(col("a") =!= col("b"))
          .select(least(col("a"), col("b")).as("ca"),
            greatest(col("a"), col("b")).as("cb"), col("e"))
          .groupBy(col("ca"), col("cb")).agg(min(col("e")).as("e")))
        Ckpt.release(cur)
        Ckpt.release(merged)
        cur = nextCur
        round += 1
      }
    }
    Ckpt.release(cur)
    Ckpt.release(base)
    if (picks.isEmpty)
      base.filter(lit(false)).select(col("src"), col("dst"), col("w"))
    else {
      // one action collapses all rounds' picks (dupes from the dropped
      // per-round distinct included); only then release the pick blocks
      val forest = Ckpt.cut(picks.reduce(_ unionByName _)
        .select(col("src"), col("dst"), col("w")).distinct())
      picks.foreach(Ckpt.release)
      forest
    }
  }

  /** Full core decomposition — coreness per node — by H-INDEX ITERATION
    * (Lü et al., Nature Communications 2016): c_0(v) = deg(v), then
    * c_{t+1}(v) = H(neighbor c_t values), where H is the Hirsch index
    * (max h with ≥ h neighbors valued ≥ h). The sequence decreases
    * monotonically to coreness — the whole decomposition in O(rounds)
    * keyed windows, where the textbook peeling (graph_kcore's shape)
    * answers only ONE k per run and needs a round per peel wave. The
    * H-index per node is one count window: rank neighbor values
    * descending, h = max(min(rank, value)) — tie order among equal
    * values cannot change the result (the min is over the sorted value
    * sequence). All integer; a fixed `rounds` replay hash-compares.
    */
  def coreness(edges: DataFrame, srcCol: String = "src",
               dstCol: String = "dst", rounds: Int = 10): DataFrame = {
    // rounds join on dst: no re-shuffle
    val sym = Ckpt.cut(undirected(edges, srcCol, dstCol, by = "dst"))
    var c = Ckpt.cut(sym.groupBy(col("src"))
      .agg(count(lit(1)).cast("long").as("c"))
      .withColumnRenamed("src", "node"))
    val byV = org.apache.spark.sql.expressions.Window
      .partitionBy(col("v")).orderBy(col("c").desc)
    var r = 0
    while (r < rounds) {
      val next = Ckpt.cut(sym.join(c.hint("shuffle_hash"),
          sym("dst") === c("node"))
        .select(sym("src").as("v"), col("c"))
        .withColumn("rn", row_number().over(byV).cast("long"))
        .groupBy(col("v"))
        .agg(max(least(col("rn"), col("c"))).as("c"))
        .withColumnRenamed("v", "node"))
      Ckpt.release(c)
      c = next
      r += 1
    }
    Ckpt.release(sym)
    c
  }

  private val S = 1L << 40

  /** Shared DuckDB replay of coSupplierEdges(minShared = 6) — the
    * triangle and k-core oracles both build on it.
    */
  private val coSupplierCte: String =
    """pairs AS (
      |  SELECT DISTINCT l_orderkey AS ok, l_suppkey AS s FROM lineitem),
      |e0 AS (
      |  SELECT p1.s AS a, p2.s AS b
      |  FROM pairs p1 JOIN pairs p2 ON p1.ok = p2.ok AND p1.s < p2.s
      |  GROUP BY 1, 2 HAVING count(*) >= 6)""".stripMargin

  /** Both orientations of e0's co-supplier edges as the CTE `name`. */
  private def coSupplierSymCte(name: String): String =
    s"""$name AS (
       |  SELECT a AS src, b AS dst FROM e0
       |  UNION ALL SELECT b, a FROM e0)""".stripMargin

  /** DuckDB replay of tradeGraph's distinct (customer, supplier) pairs. */
  private val tradeRawCte: String =
    """raw AS (
      |  SELECT DISTINCT o_custkey AS src, l_suppkey + 1000000 AS dst
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey)""".stripMargin

  /** The simple undirected graph over the CTE `raw`, as the CTE `name`. */
  private def undirectedCte(name: String): String =
    s"""$name AS (
       |  SELECT src, dst FROM raw WHERE src <> dst
       |  UNION SELECT dst, src FROM raw WHERE src <> dst)""".stripMargin

  /** The undirected trade graph: CTEs `raw` and `edges`. */
  private val tradeEdgesCte: String =
    s"$tradeRawCte,\n${undirectedCte("edges")}"

  private val nodesCte: String =
    "nodes AS (SELECT DISTINCT src AS node FROM edges)"

  /** The undirected trade graph with its degrees and node set: CTEs
    * `raw`, `edges`, `deg`, `nodes` (the PageRank replays' prologue). */
  private val tradeDegreeCtes: String =
    s"""$tradeEdgesCte,
       |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
       |$nodesCte""".stripMargin

  /** The BFS relaxation step over `edges`: unit-weight edges plus one
    * 0-weight self-loop per node, so "keep the current distance" folds
    * into the same min-aggregate. CTEs `nodes` and `step`. */
  private val hopStepCtes: String =
    s"""$nodesCte,
       |step AS (
       |  SELECT src, dst, CAST(1 AS BIGINT) AS w FROM edges
       |  UNION ALL SELECT node, node, 0 FROM nodes)""".stripMargin

  /** DuckDB replay of perSourceHops(tradeGraph, node < 100, iters): the
    * (s, node, dist) relaxation is the CTE `d`, final at iter = `iters`.
    */
  private def perSourceHopsCtes(iters: Int): String =
    s"""$tradeEdgesCte,
       |$hopStepCtes,
       |d AS (
       |  SELECT 0 AS iter, node AS s, node, CAST(0 AS BIGINT) AS dist
       |  FROM nodes WHERE node < 100
       |  UNION ALL
       |  SELECT d.iter + 1, d.s, st.dst AS node, min(d.dist + st.w)
       |  FROM d JOIN step st ON st.src = d.node
       |  WHERE d.iter < $iters
       |  GROUP BY 1, 2, 3)""".stripMargin

  /** DuckDB replay of five labelPropagation rounds over
    * tradeGraphWeighted (>= 3 lines): the repeat-trade pairs `raw`, the
    * symmetric `edges` with one stability self-loop per node, `nodes`,
    * and the rounds `lp`, final at iter = 5.
    */
  private val labelPropCtes: String =
    s"""raw AS (
       |  SELECT o_custkey AS src, l_suppkey + 1000000 AS dst
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |  GROUP BY 1, 2 HAVING count(*) >= 3),
       |edges AS (
       |  SELECT src, dst FROM raw WHERE src <> dst
       |  UNION SELECT dst, src FROM raw WHERE src <> dst
       |  UNION SELECT node, node FROM (
       |    SELECT DISTINCT src AS node FROM (
       |      SELECT src FROM raw UNION ALL SELECT dst FROM raw))),
       |$nodesCte,
       |lp(iter, node, label) AS (
       |  SELECT 0, node, node FROM nodes
       |  UNION ALL
       |  SELECT iter + 1, node, label FROM (
       |    SELECT l.iter AS iter, e.dst AS node, l.label AS label,
       |           row_number() OVER (PARTITION BY l.iter, e.dst
       |                              ORDER BY count(*) DESC, l.label)
       |             AS rn
       |    FROM lp l JOIN edges e ON e.src = l.node
       |    WHERE l.iter < 5
       |    GROUP BY l.iter, e.dst, l.label)
       |  WHERE rn = 1)""".stripMargin

  /** Unrolled k-truss oracle: `rounds` support-then-peel rounds as PLAIN
    * (non-recursive) CTE chains over e0. A recursive CTE cannot express
    * the peel — each round's support join references the working table
    * three times, and recursive SQL allows one — but the round body is
    * ordinary SQL, so a fixed unroll replays the whole peel and the
    * final (src, dst, support) relation hash-compares. Peeling is
    * idempotent at the fixpoint; the engine converges-and-stops while
    * the oracle runs all `rounds`, so equality holds whenever the data
    * converges within `rounds` (asserted by the KTrussSpec round census).
    */
  private def kTrussOracleSql(k: Int, rounds: Int): String = {
    // Every per-round CTE is MATERIALIZED: DuckDB inlines plain CTEs as
    // subqueries, and each round references the previous round's edge
    // set three times — an inlined unroll expands 3^rounds scans of
    // lineitem (observed as fd exhaustion at rounds = 8).
    val sb = new StringBuilder(s"WITH $coSupplierCte")
    for (i <- 0 until rounds) {
      sb.append(s""",
        |d$i AS MATERIALIZED (SELECT a AS u, b AS v FROM e$i
        |        UNION ALL SELECT b AS u, a AS v FROM e$i),
        |s$i AS MATERIALIZED (
        |  SELECT e.a, e.b, CAST(count(*) AS BIGINT) AS sup
        |  FROM e$i e
        |  JOIN d$i x ON x.u = e.a
        |  JOIN d$i y ON y.u = e.b AND y.v = x.v
        |  GROUP BY 1, 2),
        |e${i + 1} AS MATERIALIZED (
        |  SELECT e.a, e.b FROM e$i e
        |  LEFT JOIN s$i s ON s.a = e.a AND s.b = e.b
        |  WHERE coalesce(s.sup, 0) >= ${k - 2})""".stripMargin)
    }
    val r = rounds
    sb.append(s""",
      |dF AS MATERIALIZED (SELECT a AS u, b AS v FROM e$r
      |       UNION ALL SELECT b AS u, a AS v FROM e$r),
      |sF AS MATERIALIZED (
      |  SELECT e.a, e.b, CAST(count(*) AS BIGINT) AS sup
      |  FROM e$r e
      |  JOIN dF x ON x.u = e.a
      |  JOIN dF y ON y.u = e.b AND y.v = x.v
      |  GROUP BY 1, 2)
      |SELECT e.a AS src, e.b AS dst,
      |       CAST(coalesce(s.sup, 0) AS BIGINT) AS support
      |FROM e$r e LEFT JOIN sF s ON s.a = e.a AND s.b = e.b""".stripMargin)
    sb.toString
  }

  /** Pointer-doubling depth of the graph_mst oracle's per-round
    * contraction: K doublings resolve pointer chains up to 2^(K-1)
    * labels — 18 covers 131072-label chains, far beyond any supplier
    * graph here (sf1 ≈ 10^4 nodes), and each doubling is one tiny
    * label-sized self-join.
    */
  private val MstJumpK = 18
  private val mstJumpCtes: String =
    (2 to MstJumpK).map { i =>
      s"""   ptr$i AS MATERIALIZED (
         |     SELECT p.lab, q.tgt FROM ptr${i - 1} p
         |     JOIN ptr${i - 1} q ON q.lab = p.tgt)""".stripMargin
    }.mkString(",\n")

  /** Maximum spanning forest (the collaboration backbone) of the
    * weighted co-supplier graph by distributed Borůvka. The forest is
    * UNIQUE under the total (weight desc, src, dst) edge order, so any
    * algorithm that respects that order produces the same edge set —
    * and the oracle replays BORŮVKA ROUNDS too: O(log V) recursion
    * steps, where an edge-per-step Kruskal replay takes O(|E|) steps ×
    * a full node relabel each and outruns DuckDB's 900 s budget at
    * sf1. Each recursion step is ONE round: every component label
    * picks its minimum-rank crossing edge (per-label min over the
    * crossing-edge census), chosen edges are emitted as kind=1 rows,
    * and the merged components contract by pointer DOUBLING over the
    * chosen-edge pointer forest — 2-cycles resolve to the smaller
    * label as root, then ptr_{i+1} = ptr_i ∘ ptr_i, so MstJumpK = 18
    * doublings reach roots of chains up to 2^17 labels
    * (far above any component count here; the per-round label count
    * at least halves, so rounds ≤ log2 V). Every per-round CTE is
    * MATERIALIZED — DuckDB inlines plain CTEs per reference, and the
    * doubling chain references each level twice, which would expand
    * 2^K copies of the census.
    * Borůvka under a total edge order yields the same unique forest
    * as Kruskal (cut property with all-distinct ranks), so the edge
    * set hash-compares against the engine's contracted Borůvka.
    */
  private val mstOp: Op =
      Op("graph_mst",
         s"""WITH RECURSIVE pairs AS (
           |  SELECT DISTINCT l_orderkey AS ok, l_suppkey AS s FROM lineitem),
           |e0 AS (
           |  SELECT p1.s AS src, p2.s AS dst, CAST(count(*) AS BIGINT) AS w
           |  FROM pairs p1 JOIN pairs p2 ON p1.ok = p2.ok AND p1.s < p2.s
           |  GROUP BY 1, 2 HAVING count(*) >= 6),
           |er AS MATERIALIZED (
           |  SELECT src, dst, w,
           |         CAST(row_number() OVER (ORDER BY w DESC, src, dst)
           |              AS BIGINT) AS rk
           |  FROM e0),
           |nd AS (SELECT DISTINCT node FROM (
           |  SELECT src AS node FROM e0 UNION ALL SELECT dst FROM e0)),
           |bor(round, kind, node, label, src, dst, w) AS (
           |  SELECT CAST(0 AS BIGINT), 0, node, node,
           |         CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           |         CAST(NULL AS BIGINT)
           |  FROM nd
           |  UNION ALL
           |  (WITH cur AS MATERIALIZED (
           |     SELECT round, node, label FROM bor WHERE kind = 0),
           |   xe AS MATERIALIZED (
           |     SELECT e.rk, e.src, e.dst, e.w, a.label AS la, b.label AS lb
           |     FROM er e JOIN cur a ON a.node = e.src
           |               JOIN cur b ON b.node = e.dst
           |     WHERE a.label <> b.label),
           |   best AS MATERIALIZED (
           |     SELECT lab, min(rk) AS rk FROM (
           |       SELECT la AS lab, rk FROM xe
           |       UNION ALL SELECT lb, rk FROM xe)
           |     GROUP BY 1),
           |   chosen AS MATERIALIZED (
           |     SELECT DISTINCT x.rk, x.src, x.dst, x.w, x.la, x.lb
           |     FROM xe x JOIN best b ON b.rk = x.rk),
           |   ptr0 AS MATERIALIZED (
           |     SELECT b.lab,
           |            CASE WHEN c.la = b.lab THEN c.lb ELSE c.la END AS tgt
           |     FROM best b JOIN chosen c ON c.rk = b.rk),
           |   ptr1 AS MATERIALIZED (
           |     SELECT p.lab,
           |            CASE WHEN q.tgt = p.lab AND p.lab < p.tgt THEN p.lab
           |                 ELSE p.tgt END AS tgt
           |     FROM ptr0 p JOIN ptr0 q ON q.lab = p.tgt),
           |$mstJumpCtes
           |   SELECT u.round, u.kind, u.node, u.label, u.src, u.dst, u.w
           |   FROM (
           |     SELECT c.round + 1 AS round, 0 AS kind, c.node,
           |            coalesce(p.tgt, c.label) AS label,
           |            CAST(NULL AS BIGINT) AS src,
           |            CAST(NULL AS BIGINT) AS dst,
           |            CAST(NULL AS BIGINT) AS w
           |     FROM cur c LEFT JOIN ptr$MstJumpK p ON p.lab = c.label
           |     UNION ALL
           |     SELECT mr.round + 1, 1, NULL, NULL, ch.src, ch.dst, ch.w
           |     FROM chosen ch, (SELECT max(round) AS round FROM cur) mr
           |   ) u
           |   WHERE (SELECT count(*) FROM chosen) > 0))
           |SELECT DISTINCT src, dst, w FROM bor
           |WHERE kind = 1""".stripMargin) { (s, d) =>
        maxSpanningForest(coSupplierWeightedEdges(Tables.lineitem(s, d)))
      }

  val ops: Seq[Op] = Seq(
    // Ten exact fixed-point rounds over the trade graph; the recursive
    // CTE replays every truncating division bit-for-bit, so an ITERATIVE
    // operator gets a full hash compare (r is BIGINT — no float anywhere).
    Op("graph_pagerank",
       s"""WITH RECURSIVE
          |$tradeDegreeCtes,
          |nn AS (SELECT count(*) AS n FROM nodes),
          |pr AS (
          |  SELECT 0 AS iter, node, CAST($S // n AS BIGINT) AS r
          |  FROM nodes, nn
          |  UNION ALL
          |  SELECT iter + 1, dst AS node,
          |         CAST((SELECT ($S * 15 // 100) // n FROM nn)
          |              + (85 * s) // 100 AS BIGINT) AS r
          |  FROM (
          |    SELECT p.iter AS iter, e.dst AS dst,
          |           CAST(sum(p.r // d.deg) AS BIGINT) AS s
          |    FROM pr p
          |    JOIN edges e ON e.src = p.node
          |    JOIN deg d ON d.src = p.node
          |    WHERE p.iter < 10
          |    GROUP BY 1, 2))
          |SELECT node, r FROM pr WHERE iter = 10""".stripMargin) { (s, d) =>
      pageRank(tradeGraph(Tables.orders(s, d), Tables.lineitem(s, d)),
        iters = 10)
    },

    // Exact per-node triangle counts on the supplier co-order graph.
    // The oracle replays the SAME degree-ordered orientation, so the
    // wedge-bounded algorithm itself — not just its output shape — is
    // verified: a mis-oriented edge double- or zero-counts a triangle
    // and the integer hash compare catches it.
    Op("graph_triangles",
       s"""WITH $coSupplierCte,
         |deg AS (
         |  SELECT node, count(*) AS deg FROM (
         |    SELECT a AS node FROM e0 UNION ALL SELECT b FROM e0)
         |  GROUP BY 1),
         |o AS (
         |  SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND a < b)
         |              THEN a ELSE b END AS src,
         |         CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND a < b)
         |              THEN b ELSE a END AS dst,
         |         CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND a < b)
         |              THEN db.deg ELSE da.deg END AS dd
         |  FROM e0 JOIN deg da ON da.node = a JOIN deg db ON db.node = b),
         |tri AS (
         |  SELECT o1.src AS u, o1.dst AS v, o2.dst AS w
         |  FROM o o1
         |  JOIN o o2 ON o1.src = o2.src
         |   AND (o1.dd < o2.dd OR (o1.dd = o2.dd AND o1.dst < o2.dst))
         |  JOIN o e ON e.src = o1.dst AND e.dst = o2.dst)
         |SELECT node, count(*) AS tri FROM (
         |  SELECT u AS node FROM tri
         |  UNION ALL SELECT v FROM tri
         |  UNION ALL SELECT w FROM tri)
         |GROUP BY 1""".stripMargin) { (s, d) =>
      triangleCounts(coSupplierEdges(Tables.lineitem(s, d)))
    },

    // Local clustering coefficients (Watts & Strogatz 1998): per node,
    // what fraction of its neighbor pairs are themselves connected —
    // tri(v) over deg(v)-choose-2, in truncating ppm so the whole
    // profile hash-compares. Reuses the degree-ordered triangle core
    // (each triangle counted once, wedges never materialized beyond the
    // oriented join) plus one degree aggregate and a left join for the
    // triangle-free nodes; the expensive co-occurrence build is
    // checkpointed once and feeds both.
    Op("graph_clustering",
       s"""WITH $coSupplierCte,
         |e0m AS MATERIALIZED (SELECT a, b FROM e0),
         |deg AS MATERIALIZED (
         |  SELECT node, count(*) AS deg FROM (
         |    SELECT a AS node FROM e0m UNION ALL SELECT b FROM e0m)
         |  GROUP BY 1),
         |o AS MATERIALIZED (
         |  SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND a < b)
         |              THEN a ELSE b END AS src,
         |         CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND a < b)
         |              THEN b ELSE a END AS dst,
         |         CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND a < b)
         |              THEN db.deg ELSE da.deg END AS dd
         |  FROM e0m JOIN deg da ON da.node = a JOIN deg db ON db.node = b),
         |tri AS MATERIALIZED (
         |  SELECT o1.src AS u, o1.dst AS v, o2.dst AS w
         |  FROM o o1
         |  JOIN o o2 ON o1.src = o2.src
         |   AND (o1.dd < o2.dd OR (o1.dd = o2.dd AND o1.dst < o2.dst))
         |  JOIN o e ON e.src = o1.dst AND e.dst = o2.dst),
         |tc AS (
         |  SELECT node, CAST(count(*) AS BIGINT) AS tri FROM (
         |    SELECT u AS node FROM tri
         |    UNION ALL SELECT v FROM tri
         |    UNION ALL SELECT w FROM tri)
         |  GROUP BY 1)
         |SELECT d.node, CAST(d.deg AS BIGINT) AS deg,
         |       coalesce(tc.tri, 0) AS tri,
         |       CASE WHEN d.deg >= 2
         |            THEN coalesce(tc.tri, 0) * 1000000
         |                 // (d.deg * (d.deg - 1) // 2) END AS cc_ppm
         |FROM deg d LEFT JOIN tc USING (node)""".stripMargin) { (s, d) =>
      val edges = coSupplierEdges(Tables.lineitem(s, d)).transform(Ckpt.cut(_))
      val deg = edges.select(explode(array(
          struct(col("src").as("node")),
          struct(col("dst").as("node")))).as("e"))
        .select(col("e.node").as("node"))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      val tri = triangleCounts(edges)
      deg.join(tri, Seq("node"), "left")
        .select(col("node"), col("deg").cast("long").as("deg"),
          coalesce(col("tri"), lit(0L)).as("tri"),
          when(col("deg") >= 2,
            expr("coalesce(tri, 0) * 1000000" +
              " div (deg * (deg - 1) div 2)")).as("cc_ppm"))
    },

    // Weakly connected components over the co-supplier graph — the
    // standalone graph-clustering primitive (the same fixpoint the dedup
    // pipeline runs over its near-dup pair graph, surfaced as a graph
    // operator in its own right: community pre-segmentation, reachability
    // audits, "is this network one economy or several"). Iterated
    // min-label propagation WITH pointer jumping (label := label's
    // label), so convergence is O(log diameter) keyed join/agg rounds —
    // see Dedup.componentMinLabels for the per-round Ckpt.cut /
    // observe() convergence protocol (one action per round, state
    // bounded by the node table, never the edge multiplicity). The
    // oracle replays full transitive reachability with a recursive CTE
    // and labels each node with the minimum id it can reach — equal to
    // the fixpoint's min-label by definition, so the per-node component
    // map hash-compares exactly.
    Op("graph_wcc",
       s"""WITH RECURSIVE $coSupplierCte,
         |${coSupplierSymCte("edges")},
         |${graft.llm.Dedup.walkCte}
         |SELECT node, least(node, min(reach)) AS component
         |FROM walk GROUP BY node""".stripMargin) { (s, d) =>
      graft.llm.Dedup.componentMinLabels(
          coSupplierEdges(Tables.lineitem(s, d))
            .select(col("src").as("id_a"), col("dst").as("id_b")))
        .select(col("node"), col("label").as("component"))
    },

    mstOp,

    // Coreness of every co-supplier node by 10 h-index rounds; the
    // recursive CTE replays each round's count window bit-for-bit
    // (all integer), so the full decomposition hash-compares — and
    // GraphsSpec cross-checks it against graph_kcore's peeling.
    Op("graph_coreness",
       s"""WITH RECURSIVE $coSupplierCte,
         |${coSupplierSymCte("e")},
         |h(it, node, c) AS (
         |  SELECT 0, src, CAST(count(*) AS BIGINT) FROM e GROUP BY 2
         |  UNION ALL
         |  SELECT it + 1, v, max(least(CAST(rn AS BIGINT), c)) FROM (
         |    SELECT h.it, e.src AS v, h.c,
         |           row_number() OVER (PARTITION BY e.src
         |                              ORDER BY h.c DESC) AS rn
         |    FROM h JOIN e ON e.dst = h.node
         |    WHERE h.it < 10)
         |  GROUP BY 1, 2)
         |SELECT node, c AS coreness FROM h WHERE it = 10""".stripMargin) {
      (s, d) =>
        coreness(coSupplierEdges(Tables.lineitem(s, d)))
          .select(col("node"), col("c").as("coreness"))
    },

    // Sampled-source betweenness centrality on the co-supplier graph:
    // seeds = supplier nodes with id <= 10 (the pinned-sample
    // convention of graph_bfs/graph_ppr). Oracle-exact: δ ratios are
    // rational, but with BOTH dependency sums folded in a
    // pinned order (per-(s,v) by predecessor node, final bc by seed —
    // see the ordered-fold note in `betweenness`), the whole δ
    // computation is one fixed IEEE sequence, so a recursive CTE
    // replays Brandes exactly: settled-carry BFS with exact BIGINT σ
    // (12-step cap = the engine's maxRounds), then a level-descending
    // dependency recursion whose per-level contribution is the same
    // sorted list_reduce. GraphsSpec still pins the scores against a
    // plain Scala Brandes replay.
    Op("graph_betweenness",
       """WITH RECURSIVE
         |pairs AS (
         |  SELECT DISTINCT l_orderkey AS ok, l_suppkey AS s FROM lineitem),
         |e0 AS MATERIALIZED (
         |  SELECT p1.s AS src, p2.s AS dst
         |  FROM pairs p1 JOIN pairs p2 ON p1.ok = p2.ok AND p1.s < p2.s
         |  GROUP BY 1, 2 HAVING count(*) >= 6),
         |sym AS MATERIALIZED (
         |  SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
         |seeds AS (SELECT DISTINCT src AS s FROM sym WHERE src <= 10),
         |fwd(step, s, node, dist, sigma) AS (
         |  SELECT 0, s, s, CAST(0 AS BIGINT), CAST(1 AS BIGINT)
         |  FROM seeds
         |  UNION ALL
         |  SELECT u.step, u.s, u.node, u.dist, u.sigma FROM (
         |    SELECT r.step + 1 AS step, r.s, r.node, r.dist, r.sigma
         |    FROM fwd r
         |    UNION ALL
         |    SELECT t.step, t.s, t.node, t.dist, t.sigma FROM (
         |      SELECT f.step + 1 AS step, f.s, e.dst AS node,
         |             f.dist + 1 AS dist, sum(f.sigma) AS sigma
         |      FROM fwd f JOIN sym e ON e.src = f.node
         |      WHERE f.dist = f.step
         |      GROUP BY 1, 2, 3, 4) t
         |    WHERE NOT EXISTS (SELECT 1 FROM fwd x
         |                      WHERE x.s = t.s AND x.node = t.node)
         |  ) u
         |  WHERE u.step <= 12),
         |ffin AS MATERIALIZED (
         |  SELECT s, node, dist, sigma FROM fwd WHERE step = 12),
         |md AS MATERIALIZED (SELECT max(dist) AS m FROM ffin),
         |bwd(step, s, node, dist, sigma, delta) AS (
         |  SELECT 0, s, node, dist, sigma, CAST(0.0 AS DOUBLE)
         |  FROM ffin
         |  UNION ALL
         |  SELECT b.step + 1, b.s, b.node, b.dist, b.sigma,
         |         b.delta + coalesce(c.c, CAST(0.0 AS DOUBLE))
         |  FROM bwd b
         |  LEFT JOIN (
         |    SELECT w.s, e.src AS vn,
         |           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |             list(CAST(v.sigma AS DOUBLE)
         |                  / CAST(w.sigma AS DOUBLE)
         |                  * (CAST(1.0 AS DOUBLE) + w.delta)
         |                  ORDER BY w.node)),
         |             (a, x) -> a + x) AS c
         |    FROM bwd w
         |    JOIN sym e ON e.dst = w.node
         |    JOIN bwd v ON v.s = w.s AND v.node = e.src
         |              AND v.dist = w.dist - 1
         |    WHERE w.dist = (SELECT m FROM md) - w.step
         |    GROUP BY 1, 2) c
         |    ON c.s = b.s AND c.vn = b.node
         |  WHERE b.step < (SELECT m FROM md))
         |SELECT node,
         |       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |                                list(delta ORDER BY s)),
         |                   (a, x) -> a + x) AS bc,
         |       CAST(count(*) AS BIGINT) AS n_sources_reaching
         |FROM bwd
         |WHERE step = (SELECT m FROM md) AND dist > 0
         |GROUP BY node""".stripMargin) { (s, d) =>
      betweenness(coSupplierEdges(Tables.lineitem(s, d)), _ <= 10)
    },

    // Personalized PageRank from the seed set {customer nodes < 100} on
    // the trade graph: all teleport restarts at seeds, so rank is
    // proximity-to-seeds. Ten exact fixed-point rounds, replayed by the
    // same recursive-CTE idiom as graph_pagerank.
    Op("graph_ppr", {
      val seed = "node < 100"
      s"""WITH RECURSIVE
         |$tradeDegreeCtes,
         |ns AS (SELECT count(*) AS n FROM nodes WHERE $seed),
         |pr AS (
         |  SELECT 0 AS iter, node,
         |         CAST(CASE WHEN $seed THEN $S // n ELSE 0 END AS BIGINT)
         |           AS r
         |  FROM nodes, ns
         |  UNION ALL
         |  SELECT iter + 1, node,
         |         CAST(CASE WHEN node < 100
         |                   THEN (SELECT ($S * 15 // 100) // n FROM ns)
         |                   ELSE 0 END
         |              + (85 * s) // 100 AS BIGINT) AS r
         |  FROM (
         |    SELECT p.iter AS iter, e.dst AS node,
         |           CAST(sum(p.r // d.deg) AS BIGINT) AS s
         |    FROM pr p
         |    JOIN edges e ON e.src = p.node
         |    JOIN deg d ON d.src = p.node
         |    WHERE p.iter < 10
         |    GROUP BY 1, 2))
         |SELECT node, r FROM pr WHERE iter = 10""".stripMargin
    }) { (s, d) =>
      personalizedPageRank(
        tradeGraph(Tables.orders(s, d), Tables.lineitem(s, d)),
        seedPred = _ < 100)
    },

    // Five deterministic label-propagation rounds over the repeat-trade
    // graph. The recursive CTE replays the per-round vote count and the
    // (votes DESC, label ASC) argmax exactly — all-integer, full hash
    // compare on every node's final community label. The three scale
    // factors land in three regimes (one block / 77 communities / a
    // shattered fringe) and all replay.
    Op("graph_label_prop",
       s"""WITH RECURSIVE $labelPropCtes
         |SELECT node, label FROM lp WHERE iter = 5""".stripMargin) {
      (s, d) =>
        labelPropagation(
          tradeGraphWeighted(Tables.orders(s, d), Tables.lineitem(s, d)),
          iters = 5)
    },

    // 1-WL color refinement on the co-supplier graph: 3 rounds from
    // degree colors; md5 colors + lexicographically sorted neighbor
    // multisets make every round bit-replayable (unrolled CTE chain —
    // each round is one join + one sorted list aggregate).
    Op("graph_wl_refinement",
       s"""WITH $coSupplierCte,
         |sym AS MATERIALIZED (SELECT a AS u, b AS v FROM e0
         |        UNION ALL SELECT b, a FROM e0),
         |c0 AS MATERIALIZED (SELECT u AS node, CAST(count(*) AS VARCHAR) AS color
         |       FROM sym GROUP BY 1),
         |n1 AS MATERIALIZED (SELECT e.v AS node,
         |              array_to_string(list(u.color ORDER BY u.color), ',')
         |                AS ncs
         |       FROM sym e JOIN c0 u ON u.node = e.u GROUP BY 1),
         |c1 AS MATERIALIZED (SELECT c.node, md5(c.color || '|' || n.ncs) AS color
         |       FROM c0 c JOIN n1 n USING (node)),
         |n2 AS MATERIALIZED (SELECT e.v AS node,
         |              array_to_string(list(u.color ORDER BY u.color), ',')
         |                AS ncs
         |       FROM sym e JOIN c1 u ON u.node = e.u GROUP BY 1),
         |c2 AS MATERIALIZED (SELECT c.node, md5(c.color || '|' || n.ncs) AS color
         |       FROM c1 c JOIN n2 n USING (node)),
         |n3 AS MATERIALIZED (SELECT e.v AS node,
         |              array_to_string(list(u.color ORDER BY u.color), ',')
         |                AS ncs
         |       FROM sym e JOIN c2 u ON u.node = e.u GROUP BY 1),
         |c3 AS MATERIALIZED (SELECT c.node, md5(c.color || '|' || n.ncs) AS color
         |       FROM c2 c JOIN n3 n USING (node))
         |SELECT node, color,
         |       CAST(count(*) OVER (PARTITION BY color) AS BIGINT)
         |         AS class_size
         |FROM c3""".stripMargin) { (s, d) =>
      wlRefinement(coSupplierEdges(Tables.lineitem(s, d)), rounds = 3)
    },

    // Rich-club coefficients over the co-supplier graph: exact degree and
    // edge censuses per threshold, one final division.
    Op("graph_rich_club",
       s"""WITH $coSupplierCte,
         |sym AS (SELECT a AS u, b AS v FROM e0
         |        UNION ALL SELECT b, a FROM e0),
         |deg AS (SELECT u AS node, CAST(count(*) AS BIGINT) AS deg
         |        FROM sym GROUP BY 1),
         |ks AS (SELECT CAST(unnest([2, 4, 8, 16]) AS BIGINT) AS k),
         |nk AS (SELECT k, CAST(count(*) AS BIGINT) AS n_rich
         |       FROM ks JOIN deg ON deg.deg > ks.k GROUP BY 1),
         |ek AS (SELECT k, CAST(count(*) AS BIGINT) AS e_rich
         |       FROM ks JOIN e0 ON true
         |       JOIN deg da ON da.node = e0.a
         |       JOIN deg db ON db.node = e0.b
         |       WHERE da.deg > k AND db.deg > k GROUP BY 1)
         |SELECT ks.k, coalesce(nk.n_rich, 0) AS n_rich,
         |       coalesce(ek.e_rich, 0) AS e_rich,
         |       CASE WHEN coalesce(nk.n_rich, 0) >= 2 THEN
         |         CAST(2 * coalesce(ek.e_rich, 0) AS DOUBLE)
         |           / CAST(nk.n_rich * (nk.n_rich - 1) AS DOUBLE)
         |       END AS phi
         |FROM ks LEFT JOIN nk USING (k)
         |LEFT JOIN ek USING (k)""".stripMargin) { (s, d) =>
      richClub(coSupplierEdges(Tables.lineitem(s, d)))
    },

    // Common-neighbor / Jaccard / Adamic-Adar link features for customer
    // pairs of the repeat-trade bipartite graph. cn and the Jaccard
    // operands are integers; the Adamic-Adar fold is sorted-order
    // sequential through ieee_ln on both engines — all three features
    // hash-compare.
    Op("graph_link_predict",
       """WITH e AS (
         |  SELECT o_custkey AS src, l_suppkey AS dst
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |  GROUP BY 1, 2 HAVING count(*) >= 3),
         |cd AS (SELECT src, count(*) AS cd FROM e GROUP BY 1),
         |dd AS (SELECT dst, count(*) AS dd FROM e GROUP BY 1),
         |p AS (
         |  SELECT e1.src AS cust_a, e2.src AS cust_b, e1.dst AS dst, dd.dd
         |  FROM e e1 JOIN e e2 ON e1.dst = e2.dst AND e1.src < e2.src
         |  JOIN dd ON dd.dst = e1.dst),
         |g AS (
         |  SELECT cust_a, cust_b, CAST(count(*) AS BIGINT) AS cn,
         |         list_reduce(list_prepend(0.0,
         |             list(1.0 / ln(CAST(dd AS DOUBLE)) ORDER BY dst)),
         |           (a, b) -> a + b) AS aa
         |  FROM p GROUP BY 1, 2),
         |j AS (
         |  SELECT g.cust_a, g.cust_b, g.cn, g.aa,
         |         ca.cd AS da, cb.cd AS db
         |  FROM g JOIN cd ca ON ca.src = g.cust_a
         |  JOIN cd cb ON cb.src = g.cust_b)
         |SELECT cust_a, cust_b, cn,
         |       CAST(cn AS DOUBLE) / CAST(da + db - cn AS DOUBLE)
         |         AS jaccard,
         |       aa
         |FROM j WHERE cn >= 2""".stripMargin) { (s, d) =>
      linkPredict(tradeGraphWeighted(Tables.orders(s, d),
        Tables.lineitem(s, d)))
    },

    // 12-core of the supplier co-order graph. The recursive CTE replays
    // 20 synchronous peel rounds; at sf0.001 the whole graph cascades to
    // empty (K10 has degree 9), at sf0.01 the complete K100 is a stable
    // fixpoint, at sf0.1 the low-degree fringe peels — all three regimes
    // hash-compare, converged rounds being no-ops on both sides.
    Op("graph_kcore",
       s"""WITH RECURSIVE $coSupplierCte,
         |${coSupplierSymCte("ed")},
         |kc(iter, src, dst) AS (
         |  SELECT 0, src, dst FROM ed
         |  UNION ALL
         |  SELECT iter + 1, src, dst FROM (
         |    SELECT iter, src, dst,
         |           count(*) OVER (PARTITION BY iter, src) AS ds,
         |           count(*) OVER (PARTITION BY iter, dst) AS dd
         |    FROM kc WHERE iter < 20)
         |  WHERE ds >= 12 AND dd >= 12)
         |SELECT src AS node, count(*) AS deg
         |FROM kc WHERE iter = 20 GROUP BY 1""".stripMargin) { (s, d) =>
      kCore(coSupplierEdges(Tables.lineitem(s, d)), k = 12)
    },

    // 4-truss of the co-supplier graph: every surviving edge closes >= 2
    // triangles among survivors. The oracle unrolls 8 support-and-peel
    // rounds as plain CTEs (see kTrussOracleSql) so the ITERATIVE edge
    // peel — not just its end state's shape — hash-compares; KTrussSpec
    // asserts the engine converges within those 8 rounds at test scales
    // and pins a closed-form fixture.
    Op("graph_ktruss", kTrussOracleSql(k = 4, rounds = 8)) { (s, d) =>
      kTruss(coSupplierEdges(Tables.lineitem(s, d)), k = 4)
    },

    // HITS on the directed customer->supplier trade graph: 4 full power
    // iterations = 8 alternating half-steps, each renormalized to 2^20
    // total mass in integer arithmetic. The recursive CTE replays every
    // half-step (odd iters = authorities, even = hubs), including the
    // window-sum normalizer — the division order is pinned, so scores
    // hash-compare exactly.
    Op("graph_hits",
       s"""WITH RECURSIVE
         |$tradeRawCte,
         |dir AS (
         |  SELECT src AS s, dst AS d, 0 AS par FROM raw
         |  UNION ALL SELECT dst, src, 1 FROM raw),
         |hub0 AS (SELECT DISTINCT src AS node FROM raw),
         |sc AS MATERIALIZED (
         |  SELECT least(1::BIGINT << 31,
         |               greatest(1::BIGINT << 20,
         |                        count(*)::BIGINT << 10)) AS s
         |  FROM hub0),
         |state AS (
         |  SELECT 0 AS iter, node,
         |         CAST((SELECT s FROM sc) // (SELECT count(*) FROM hub0)
         |              AS BIGINT) AS v
         |  FROM hub0
         |  UNION ALL
         |  SELECT iter, node,
         |         CAST(((SELECT s FROM sc) * raw_v) //
         |              (CAST(sum(raw_v) OVER () AS BIGINT)) AS BIGINT)
         |  FROM (
         |    SELECT st.iter + 1 AS iter, di.d AS node,
         |           CAST(sum(st.v) AS BIGINT) AS raw_v
         |    FROM state st JOIN dir di
         |      ON di.s = st.node AND di.par = st.iter % 2
         |    WHERE st.iter < 8
         |    GROUP BY 1, 2))
         |SELECT CASE WHEN iter = 7 THEN 'auth' ELSE 'hub' END AS kind,
         |       node, v
         |FROM state WHERE iter IN (7, 8)""".stripMargin) { (s, d) =>
      hits(tradeGraph(Tables.orders(s, d), Tables.lineitem(s, d)),
        iters = 4)
    },

    // Degree distribution of the symmetrized trade graph — the shape
    // diagnostic (power-law vs uniform) that picks between salting, AQE
    // skew handling, and plain hash joins downstream. Two keyed
    // aggregates, output bounded by the distinct-degree count.
    Op("graph_degree_dist",
       s"""WITH $tradeEdgesCte,
         |degs AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
         |         FROM edges GROUP BY 1)
         |SELECT deg, count(*) AS n_nodes FROM degs GROUP BY 1""".stripMargin) {
      (s, d) =>
        bothWays(tradeGraph(Tables.orders(s, d), Tables.lineitem(s, d)))
          .distinct()
          .groupBy(col("src")).agg(count(lit(1)).as("deg"))
          .groupBy(col("deg")).agg(count(lit(1)).as("n_nodes"))
    },

    // Exact hop distances from the seed customers {node < 100} in six
    // BFS rounds over the symmetrized trade graph. The 0-weight
    // self-loop trick makes each round a single join + min-aggregate,
    // which is also the only shape a single-reference recursive CTE can
    // express — the oracle replays the relaxation itself.
    Op("graph_bfs",
       s"""WITH RECURSIVE
         |$tradeEdgesCte,
         |$hopStepCtes,
         |d AS (
         |  SELECT 0 AS iter, node, CAST(0 AS BIGINT) AS dist
         |  FROM nodes WHERE node < 100
         |  UNION ALL
         |  SELECT d.iter + 1, s.dst AS node, min(d.dist + s.w) AS dist
         |  FROM d JOIN step s ON s.src = d.node
         |  WHERE d.iter < 6
         |  GROUP BY 1, 2)
         |SELECT node, dist FROM d WHERE iter = 6""".stripMargin) { (s, d) =>
      shortestHops(tradeGraph(Tables.orders(s, d), Tables.lineitem(s, d)),
        node => node < 100, iters = 6)
    },

    // Walk corpus from the seed customers {node < 100}: 8 deterministic
    // uniform-neighbor steps over the symmetrized trade graph — the
    // DeepWalk input sequence table. The md5 argmin draw is replayed by
    // the recursive CTE verbatim (min over (hash, neighbor) structs),
    // so every hop of every walk hash-compares.
    Op("graph_random_walks",
       s"""WITH RECURSIVE
         |$tradeEdgesCte,
         |$nodesCte,
         |w(walk, step, node) AS (
         |  SELECT node, CAST(0 AS BIGINT), node FROM nodes WHERE node < 100
         |  UNION ALL
         |  SELECT w.walk, w.step + 1,
         |         (min(struct_pack(h := CAST('0x' || substr(md5(concat(
         |              'walk:', CAST(w.walk AS VARCHAR), ':',
         |              CAST(w.step + 1 AS VARCHAR), ':',
         |              CAST(e.dst AS VARCHAR))), 1, 8) AS BIGINT),
         |              d := e.dst))).d
         |  FROM w JOIN edges e ON e.src = w.node
         |  WHERE w.step < 8
         |  GROUP BY w.walk, w.step)
         |SELECT walk, step, node FROM w""".stripMargin) { (s, d) =>
      randomWalks(tradeGraph(Tables.orders(s, d), Tables.lineitem(s, d)),
        node => node < 100, steps = 8)
    },

    // Shortest WEIGHTED distances from the seed customers over ≤6-edge
    // paths: bounded Bellman-Ford on the repeat-trade graph, edge cost
    // 1 + 1000 div lines — inverse trade intensity, so the "distance"
    // is a supply-chain remoteness measure (strong relationships are
    // short). All-integer relaxation, replayed by the recursive CTE.
    Op("graph_sssp",
       """WITH RECURSIVE
         |raw AS (
         |  SELECT o_custkey AS src, l_suppkey + 1000000 AS dst,
         |         CAST(count(*) AS BIGINT) AS lines
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |  GROUP BY 1, 2 HAVING count(*) >= 3),
         |edges AS (
         |  SELECT src, dst, 1 + 1000 // lines AS w FROM raw
         |  UNION ALL SELECT dst, src, 1 + 1000 // lines FROM raw),
         |nodes AS (SELECT DISTINCT src AS node FROM edges),
         |step AS (
         |  SELECT src, dst, CAST(w AS BIGINT) AS w FROM edges
         |  UNION ALL SELECT node, node, 0 FROM nodes),
         |d AS (
         |  SELECT 0 AS iter, node, CAST(0 AS BIGINT) AS dist
         |  FROM nodes WHERE node < 100
         |  UNION ALL
         |  SELECT d.iter + 1, s.dst AS node, min(d.dist + s.w) AS dist
         |  FROM d JOIN step s ON s.src = d.node
         |  WHERE d.iter < 6
         |  GROUP BY 1, 2)
         |SELECT node, dist FROM d WHERE iter = 6""".stripMargin) { (s, d) =>
      val weighted = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"))
        .join(Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_custkey"), col("l_suppkey"))
        .agg(count(lit(1)).as("lines"))
        .filter(col("lines") >= 3)
        .select(col("o_custkey").as("src"),
          (col("l_suppkey") + 1000000L).as("dst"),
          (lit(1L) + expr("1000 div lines")).as("w"))
      weightedHops(weighted, node => node < 100, iters = 6)
    },

    // Butterfly counting (Sanei-Mehri, Sariyüce & Tirthapura, KDD'18):
    // the bipartite analog of triangle counting — a butterfly is a
    // (2,2)-biclique c1–p–c2–q–c1, THE motif whose density drives
    // bipartite community metrics and k-bitruss peeling. Exact census on
    // the customer–supplier trade graph: wedges Σ_p C(deg_p, 2) come
    // from the degree table alone; butterflies Σ_{c1<c2} C(w, 2) need
    // the per-pair common-neighbor counts, materialized by one
    // supplier-keyed self-join of the edge list. All integers, one row,
    // hash-compared.
    //
    // Scale shape: the wedge fan-out is Σ_pivot deg² — the quantity the
    // KDD'18 paper bounds by processing wedges FROM THE SPARSER SIDE.
    // The butterfly total is pivot-symmetric (choosing 2 common
    // suppliers of a customer pair enumerates exactly the same quads as
    // choosing 2 common customers of a supplier pair), so the op
    // measures Σ C(deg,2) on BOTH sides (two degree-table aggregates, a
    // 2-long driver compare — bounded, not corpus-sized) and runs the
    // one expensive self-join on whichever side fans out less. On the
    // trade graph at sf0.1 that is the customer side, and the measured
    // warm probe drops 60.8 s (bench, supplier pivot) → 2.4 s.
    // The reported n_wedges stays the SUPPLIER-side census (the motif
    // convention), read off the degree table alone. The distinct edge
    // list is checkpointed once (it feeds four subtrees); the degree
    // census and edge count are tiny keyless aggregates attached as
    // 1-row broadcasts.
    Op("graph_butterflies",
       """WITH e AS (
         |  SELECT DISTINCT o_custkey AS c, l_suppkey AS p
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |deg AS (SELECT p, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY 1),
         |pairs AS (
         |  SELECT a.c AS c1, b.c AS c2, CAST(count(*) AS BIGINT) AS w
         |  FROM e a JOIN e b ON a.p = b.p AND a.c < b.c
         |  GROUP BY 1, 2)
         |SELECT (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
         |       (SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT) FROM deg)
         |         AS n_wedges,
         |       (SELECT CAST(coalesce(sum(w * (w - 1) // 2), 0) AS BIGINT)
         |        FROM pairs) AS n_butterflies""".stripMargin) { (s, d) =>
      val e = Ckpt.cut(Tables.orders(s, d)
        .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c"), col("l_suppkey").as("p"))
        .distinct())
      def wedgeSum(side: String): Long =
        e.groupBy(col(side)).agg(count(lit(1)).as("d"))
          .agg(coalesce(sum(expr("d * (d - 1) div 2")), lit(0L)))
          .head().getLong(0)
      val (nwSupplier, nwCustomer) = (wedgeSum("p"), wedgeSum("c"))
      // pivot on the side with the smaller wedge fan-out; the butterfly
      // total is identical either way
      val (pivot, leaf) =
        if (nwCustomer < nwSupplier) ("c", "p") else ("p", "c")
      val pairs = e.select(col(pivot), col(leaf).as("x1"))
        .join(e.select(col(pivot), col(leaf).as("x2")), Seq(pivot))
        .filter(col("x1") < col("x2"))
        .groupBy(col("x1"), col("x2")).agg(count(lit(1)).as("w"))
      val ne = e.agg(count(lit(1)).as("n_edges"))
        .withColumn("n_wedges", lit(nwSupplier))
      val nb = pairs.agg(coalesce(sum(expr("w * (w - 1) div 2")), lit(0L))
        .as("n_butterflies"))
      ne.crossJoin(broadcast(nb))
    },

    // Closeness centrality from a sampled seed set (Bavelas 1950;
    // sampled exactly as betweenness is — exact closeness needs one BFS
    // per NODE): for each seed s, C(s) = (r_s − 1) / Σ_v d(s, v) over
    // the nodes reached within the hop cap. Both sufficient statistics
    // (reached count, distance sum) are exact BIGINTs from the
    // perSourceHops state; the division is the only float. Same
    // fixed-round min-aggregate BFS as graph_bfs, keyed by (source,
    // node), so the recursive CTE replays all seeds at once.
    Op("graph_closeness",
       s"""WITH RECURSIVE ${perSourceHopsCtes(6)}
         |SELECT s AS source, CAST(count(*) - 1 AS BIGINT) AS n_reached,
         |       CAST(sum(dist) AS BIGINT) AS sum_dist,
         |       CAST(count(*) - 1 AS DOUBLE) / CAST(sum(dist) AS DOUBLE)
         |         AS closeness
         |FROM d WHERE iter = 6 GROUP BY 1""".stripMargin) { (s, d) =>
      perSourceHops(tradeGraph(Tables.orders(s, d), Tables.lineitem(s, d)),
          node => node < 100, iters = 6)
        .groupBy(col("s").as("source"))
        .agg((count(lit(1)) - 1L).as("n_reached"),
          sum(col("dist")).as("sum_dist"))
        .select(col("source"), col("n_reached"), col("sum_dist"),
          (col("n_reached").cast("double") / col("sum_dist").cast("double"))
            .as("closeness"))
    },

    // Harmonic centrality (Boldi & Vigna 2014, "Axioms for centrality"):
    // sum of 1/d over reached nodes — the closeness variant that stays
    // meaningful on DISCONNECTED graphs (unreached nodes contribute 0
    // instead of poisoning the mean distance). Same perSourceHops mask
    // kernel and the same recursive-CTE replay as graph_closeness; the
    // readout is one integer aggregate of (10^6 div d) truncating
    // reciprocals, so the whole profile hash-compares with no float.
    Op("graph_harmonic",
       s"""WITH RECURSIVE ${perSourceHopsCtes(6)}
         |SELECT s AS source, CAST(count(*) - 1 AS BIGINT) AS n_reached,
         |       CAST(sum(CASE WHEN dist > 0 THEN 1000000 // dist
         |                     ELSE 0 END) AS BIGINT) AS harmonic_ppm
         |FROM d WHERE iter = 6 GROUP BY 1""".stripMargin) { (s, d) =>
      perSourceHops(tradeGraph(Tables.orders(s, d), Tables.lineitem(s, d)),
          node => node < 100, iters = 6)
        .groupBy(col("s").as("source"))
        .agg((count(lit(1)) - 1L).as("n_reached"),
          sum(when(col("dist") > 0, expr("1000000 div dist"))
            .otherwise(0L)).as("harmonic_ppm"))
    },

    // Distance distribution from the seed sample — the neighbourhood
    // function N(k) whose knee is the EFFECTIVE DIAMETER (the smallest
    // k reaching ≥90% of reachable pairs; the quantity HyperANF
    // approximates at web scale, Boldi-Rosa-Vigna 2011 — here exact on
    // the sampled seeds). One groupBy(dist) count over the same
    // perSourceHops run as closeness/diameter, plus a cumulative window
    // over ≤ iters+1 rows; cum_ppm is a truncating division of exact
    // BIGINTs, so the whole curve hash-compares.
    Op("graph_distance_dist",
       s"""WITH RECURSIVE ${perSourceHopsCtes(6)},
         |h AS (
         |  SELECT dist, CAST(count(*) AS BIGINT) AS n_pairs
         |  FROM d WHERE iter = 6 AND dist > 0 GROUP BY 1)
         |SELECT dist, n_pairs,
         |       CAST(sum(n_pairs) OVER (ORDER BY dist) AS BIGINT) AS cum_pairs,
         |       CAST(sum(n_pairs) OVER (ORDER BY dist) AS BIGINT) * 1000000
         |         // (SELECT CAST(sum(n_pairs) AS BIGINT) FROM h) AS cum_ppm
         |FROM h""".stripMargin) { (s, d) =>
      val hops = perSourceHops(
          tradeGraph(Tables.orders(s, d), Tables.lineitem(s, d)),
          node => node < 100, iters = 6)
        .filter(col("dist") > 0)
        .groupBy(col("dist")).agg(count(lit(1)).as("n_pairs"))
        .transform(Ckpt.cut(_)) // ≤ iters rows; feeds cum AND total
      val W = org.apache.spark.sql.expressions.Window
      val cum = W.orderBy(col("dist"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
      val total = hops.agg(sum(col("n_pairs")).as("t"))
      hops.select(col("dist"), col("n_pairs"),
          sum(col("n_pairs")).over(cum).as("cum_pairs"))
        .crossJoin(broadcast(total))
        .select(col("dist"), col("n_pairs"), col("cum_pairs"),
          expr("cum_pairs * 1000000 div t").as("cum_ppm"))
    },

    // Sampled-eccentricity diameter bound (the double-sweep family of
    // lower bounds, e.g. Magnien, Latapy & Habib 2009): ecc(s) =
    // max_v d(s, v) from each pinned seed, diameter ≥ max ecc. Exact
    // diameter needs all-pairs BFS — quadratic, off the table at scale;
    // the seed sample rides the SAME perSourceHops mask kernel as
    // graph_closeness, so this whole readout costs one extra aggregate
    // over that run. Hop cap 8 > the trade graph's observed
    // eccentricities, so within-component distances are converged (the
    // oracle replays the identical 8 relaxation rounds). One all-BIGINT
    // row: seed count, the diameter bound, min eccentricity (a center
    // candidate), and the eccentricity sum.
    Op("graph_diameter",
       s"""WITH RECURSIVE ${perSourceHopsCtes(8)},
         |ecc AS (
         |  SELECT s, CAST(max(dist) AS BIGINT) AS ecc
         |  FROM d WHERE iter = 8 GROUP BY 1)
         |SELECT CAST(count(*) AS BIGINT) AS n_seeds,
         |       CAST(max(ecc) AS BIGINT) AS diameter_lb,
         |       CAST(min(ecc) AS BIGINT) AS min_ecc,
         |       CAST(sum(ecc) AS BIGINT) AS sum_ecc
         |FROM ecc""".stripMargin) { (s, d) =>
      perSourceHops(tradeGraph(Tables.orders(s, d), Tables.lineitem(s, d)),
          node => node < 100, iters = 8)
        .groupBy(col("s")).agg(max(col("dist")).as("ecc"))
        .agg(count(lit(1)).as("n_seeds"),
          max(col("ecc")).as("diameter_lb"),
          min(col("ecc")).as("min_ecc"),
          sum(col("ecc")).as("sum_ecc"))
    },

    // Degree assortativity (Newman 2002): the Pearson correlation of
    // endpoint degrees over the symmetrized edge list — do hubs attach
    // to hubs (r > 0, social nets) or to leaves (r < 0, bipartite/
    // infrastructure nets, which this customer-supplier graph is)? All
    // five moments are exact BIGINT sums over edges; the final formula
    // is pinned-order arithmetic whose only irrationals are two sqrt
    // calls — and IEEE-754 sqrt is CORRECTLY ROUNDED on every operand
    // (unlike ln/exp), so the double hash-compares without quantization.
    // Moment magnitudes: sum(dx*dy) <= m*degmax^2 — BIGINT-safe through
    // sf100 for this graph family; the FORMULA cross products (m·sxx,
    // sx²) are not (they pass 2^63 at sf1) and run
    // 128-bit on both engines. A web-scale hub graph would center
    // first (the profile_corr_matrix route).
    //
    // Scale shape: degree via count window keyed on the endpoint (the
    // triangleCounts hub-safe recipe), one map-side moment fold, one
    // single-row reduce. No join beyond the degree attach.
    Op("graph_assortativity",
       s"""WITH $tradeRawCte,
         |${undirectedCte("sym")},
         |deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
         |        FROM sym GROUP BY 1),
         |e AS (
         |  SELECT da.deg AS dx, db.deg AS dy
         |  FROM sym JOIN deg da ON da.node = sym.src
         |           JOIN deg db ON db.node = sym.dst),
         |s AS (
         |  SELECT CAST(count(*) AS BIGINT) AS m,
         |         CAST(sum(dx) AS BIGINT) AS sx,
         |         CAST(sum(dy) AS BIGINT) AS sy,
         |         CAST(sum(dx * dy) AS BIGINT) AS sxy,
         |         CAST(sum(dx * dx) AS BIGINT) AS sxx,
         |         CAST(sum(dy * dy) AS BIGINT) AS syy
         |  FROM e)
         |SELECT m, sxy, sx,
         |       CAST(CAST(m::HUGEINT * sxy - sx::HUGEINT * sy
         |                 AS VARCHAR) AS DOUBLE)
         |       / (sqrt(CAST(CAST(m::HUGEINT * sxx - sx::HUGEINT * sx
         |                    AS VARCHAR) AS DOUBLE))
         |          * sqrt(CAST(CAST(m::HUGEINT * syy - sy::HUGEINT * sy
         |                      AS VARCHAR) AS DOUBLE)))
         |         AS assortativity
         |FROM s""".stripMargin) { (s, d) =>
      assortativity(
        tradeGraph(Tables.orders(s, d), Tables.lineitem(s, d)).distinct())
    },

    // Newman modularity of the label-propagation partition — the
    // standard "was that community structure real?" readout (Newman &
    // Girvan 2004). Q = sum_c [ e_c/m - (d_c/2m)^2 ] over the SIMPLE
    // undirected graph (label_prop's stability self-loops excluded from
    // the edge statistics). Kept INTEGER end to end by clearing
    // denominators: Q * 4m^2 = sum_c (4m*e_c - d_c^2), so both engines
    // hash-compare q_num/q_den exactly and the float Q is one division.
    // d_c <= 2m bounds every term by 4m^2 — BIGINT-safe far past sf100.
    //
    // Scale shape: degrees and d_c are keyed aggs on the edge list;
    // e_c is the edge list joined twice against the (node, label) map
    // (shuffle keyed on node id, the PageRank round shape); the
    // per-community table is |labels|-bounded and the final reduce is
    // one row. Nothing beyond the label_prop cost it audits.
    Op("graph_modularity",
       s"""WITH RECURSIVE $labelPropCtes,
         |lab AS (SELECT node, label FROM lp WHERE iter = 5),
         |${undirectedCte("sym")},
         |canon AS (SELECT src, dst FROM sym WHERE src < dst),
         |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM canon),
         |deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
         |        FROM sym GROUP BY 1),
         |intra AS (
         |  SELECT la.label, CAST(count(*) AS BIGINT) AS ec
         |  FROM canon c
         |  JOIN lab la ON la.node = c.src
         |  JOIN lab lb ON lb.node = c.dst AND lb.label = la.label
         |  GROUP BY 1),
         |degc AS (
         |  SELECT la.label, CAST(sum(d.deg) AS BIGINT) AS dc
         |  FROM deg d JOIN lab la ON la.node = d.node GROUP BY 1),
         |per AS (
         |  SELECT degc.label, coalesce(intra.ec, 0) AS ec, degc.dc
         |  FROM degc LEFT JOIN intra USING (label))
         |SELECT mm.m AS m_edges, CAST(count(*) AS BIGINT) AS n_comms,
         |       CAST(sum(4 * mm.m * per.ec - per.dc * per.dc) AS BIGINT)
         |         AS q_num,
         |       4 * mm.m * mm.m AS q_den,
         |       CAST(sum(4 * mm.m * per.ec - per.dc * per.dc) AS DOUBLE)
         |         / CAST(4 * mm.m * mm.m AS DOUBLE) AS modularity
         |FROM per, mm GROUP BY mm.m""".stripMargin) { (s, d) =>
      val edges = tradeGraphWeighted(Tables.orders(s, d), Tables.lineitem(s, d))
      modularity(edges, labelPropagation(edges, iters = 5))
    }
  )

  /** Degree assortativity of the undirected simple graph spanned by
    * `edges` (see the graph_assortativity op for protocol and scale
    * notes). Returns one row (m, sxy, sx, assortativity).
    */
  def assortativity(edges: DataFrame): DataFrame = {
    val sym = Ckpt.cut(bothWays(edges).distinct())
    val deg = sym.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg"))
    val e = sym
      .join(deg.select(col("node").as("src"), col("deg").as("dx")),
        Seq("src"))
      .join(deg.select(col("node").as("dst"), col("deg").as("dy")),
        Seq("dst"))
    // the final-formula cross products (m·sxx, sx², …) pass 2^63 around
    // sf1 for this graph family (m ~ 2×10^6 sym edges × sxx ~ 10^13),
    // so they run in
    // DECIMAL(38,0); the five moment sums themselves stay BIGINT-safe
    // far longer and keep their output type
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    def w(c: org.apache.spark.sql.Column) = c.cast(d38)
    e.agg(count(lit(1)).as("m"),
        sum(col("dx")).as("sx"), sum(col("dy")).as("sy"),
        sum(col("dx") * col("dy")).as("sxy"),
        sum(col("dx") * col("dx")).as("sxx"),
        sum(col("dy") * col("dy")).as("syy"))
      .select(col("m"), col("sxy"), col("sx"),
        ((w(col("m")) * w(col("sxy")) - w(col("sx")) * w(col("sy")))
          .cast("double") /
          (sqrt((w(col("m")) * w(col("sxx")) - w(col("sx")) * w(col("sx")))
            .cast("double")) *
           sqrt((w(col("m")) * w(col("syy")) - w(col("sy")) * w(col("sy")))
             .cast("double")))).as("assortativity"))
  }

  /** Newman modularity of a node partition over the simple undirected
    * graph spanned by `edges` (see the graph_modularity op above for the
    * integer protocol and scale notes). `labels` is (node, label) as
    * produced by [[labelPropagation]]; every non-isolated node must
    * carry a label.
    */
  def modularity(edges: DataFrame, labels: DataFrame): DataFrame = {
    // one materialization feeding degree, canonical-edge, and m subtrees:
    // three re-executions of the distinct would triple the dominant
    // shuffle
    val sym = Ckpt.cut(bothWays(edges).distinct())
    val canon = sym.filter(col("src") < col("dst"))
    val mDf = canon.agg(count(lit(1)).as("m"))
    val deg = sym.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg"))
    val lab = labels.select(col("node"), col("label"))
    val intra = canon
      .join(lab.select(col("node").as("src"), col("label").as("la")),
        Seq("src"))
      .join(lab.select(col("node").as("dst"), col("label").as("lb")),
        Seq("dst"))
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("label")).agg(count(lit(1)).as("ec"))
    val degc = deg.join(lab, Seq("node"))
      .groupBy(col("label")).agg(sum(col("deg")).as("dc"))
    val per = degc.join(intra, Seq("label"), "left")
      .select(col("label"), coalesce(col("ec"), lit(0L)).as("ec"),
        col("dc"))
    per.crossJoin(broadcast(mDf))
      .groupBy(col("m"))
      .agg(count(lit(1)).as("n_comms"),
        sum(lit(4) * col("m") * col("ec") - col("dc") * col("dc"))
          .as("q_num"))
      .select(col("m").as("m_edges"), col("n_comms"),
        col("q_num"),
        (lit(4) * col("m") * col("m")).as("q_den"),
        (col("q_num").cast("double") /
          (lit(4) * col("m") * col("m")).cast("double")).as("modularity"))
  }
}
