package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Fixed-point PageRank: structural sanity on a known topology, exact
  * determinism under repartitioning (the property the integer
  * formulation buys), and bounded mass loss from truncation.
  */
class GraphsSpec extends SparkSpec {

  test("star graph: the hub outranks the leaves; symmetric leaves tie " +
       "exactly") {
    import spark.implicits._
    val star = (1L to 20L).map(i => (0L, i)).toDF("src", "dst")
    val r = Graphs.pageRank(star, iters = 10).collect()
      .map(row => row.getLong(0) -> row.getLong(1)).toMap
    assert(r.size == 21)
    val leafRanks = (1L to 20L).map(r)
    assert(leafRanks.distinct.size == 1, "symmetric leaves must tie exactly")
    assert(r(0L) > leafRanks.head * 5,
      s"hub ${r(0L)} should dominate leaf ${leafRanks.head}")
  }

  test("exact determinism under repartitioning, and truncation-bounded " +
       "total mass") {
    val edges = Graphs.tradeGraph(
      graft.Tables.orders(spark, "/root/testdata/sf0.001"),
      graft.Tables.lineitem(spark, "/root/testdata/sf0.001"))
    val a = Graphs.pageRank(edges, iters = 5).collect()
      .map(row => row.getLong(0) -> row.getLong(1)).toMap
    val b = Graphs.pageRank(edges.repartition(13), iters = 5).collect()
      .map(row => row.getLong(0) -> row.getLong(1)).toMap
    assert(a == b, "integer fixed-point must be partitioning-invariant")
    // every truncating division loses < 1 unit: per round that is one
    // per directed edge (r div deg splits) + two per node (damping and
    // teleport rounding) — total loss is bounded by rounds*(2E + 2n)
    val scale = 1L << 40
    val n = a.size.toLong
    val e2 = edges.selectExpr("src", "dst").distinct().count() * 2
    val mass = a.values.sum
    assert(mass <= scale + n, s"mass $mass above scale $scale")
    assert(scale - mass <= 5L * (e2 + 2 * n) + n,
      s"mass $mass lost more than truncation can explain " +
        s"(bound ${5L * (e2 + 2 * n) + n})")
  }

  test("reliable-checkpoint mode (the cluster path) produces identical " +
       "ranks to localCheckpoint, including mid-run cuts") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L))
      .toDF("src", "dst")
    def ranks(every: Int) =
      Graphs.pageRank(edges, iters = 6, checkpointEvery = every)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val local = ranks(every = 6) // before any checkpoint dir exists
    val dir = useDurableCuts("pr_durable")
    assert(ranks(every = 6) == local)
    // mid-run cuts (every=2) must not change the fixed-point arithmetic
    assert(ranks(every = 2) == local)
    assert(wroteCheckpoints(dir), "the durable run never wrote a cut")
  }

  test("triangles: K4 counts each node in 3 triangles; duplicate and " +
       "reversed edges collapse; a path closes nothing") {
    import spark.implicits._
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
        (2L, 1L), (4L, 3L)) // dup + reversed noise rows
      .toDF("src", "dst")
    val tri = Graphs.triangleCounts(k4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tri == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    assert(Graphs.triangleCounts(path).isEmpty)
  }

  test("triangles: hub-plus-rim (wheel) matches the closed form under " +
       "the degree ordering's worst case") {
    import spark.implicits._
    // wheel W8: hub 0 joined to rim 1..8, rim a cycle — hub degree 8,
    // rim degree 3; every rim edge closes exactly one triangle with the
    // hub, so hub tri = 8, each rim node tri = 2 (its two rim edges).
    val rim = (1L to 8L).map(i => (i, if (i == 8L) 1L else i + 1L))
    val spokes = (1L to 8L).map(i => (0L, i))
    val tri = Graphs.triangleCounts((rim ++ spokes).toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tri(0L) == 8L)
    (1L to 8L).foreach(i => assert(tri(i) == 2L, s"rim node $i"))
  }

  test("personalized PageRank: rank drains toward the seed side; a " +
       "component with no seeds holds zero mass; exact determinism") {
    import spark.implicits._
    // two disjoint 4-cycles; seeds only in the first
    val compA = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
    val compB = Seq((11L, 12L), (12L, 13L), (13L, 14L), (14L, 11L))
    val g = (compA ++ compB).toDF("src", "dst")
    val r = Graphs.personalizedPageRank(g, seedPred = _ <= 2, iters = 8)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    // no teleport and no initial mass ever reaches component B
    Seq(11L, 12L, 13L, 14L).foreach(n => assert(r(n) == 0L, s"node $n"))
    // seeds keep more rank than the far side of component A
    assert(r(1L) > r(3L) && r(2L) > r(4L) || r(1L) + r(2L) > r(3L) + r(4L),
      s"seed side must outrank the far side: $r")
    val re = Graphs.personalizedPageRank(g.repartition(5),
        seedPred = _ <= 2, iters = 8)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(re == r)
  }

  test("kCore: a pendant chain cascades away round by round, the clique " +
       "survives with in-core degrees; k above the clique empties it") {
    import spark.implicits._
    // triangle {1,2,3} with a 4-node tail 3-4-5-6-7: the 2-core is the
    // triangle alone, and the tail must peel ITERATIVELY (7, then 6, then
    // 5, then 4 — each deletion exposes the next), proving the cascade.
    val g = Seq((1L, 2L), (2L, 3L), (1L, 3L),
        (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L))
      .toDF("src", "dst")
    val core2 = Graphs.kCore(g, k = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core2 == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    assert(Graphs.kCore(g, k = 3).isEmpty) // no 3-core anywhere
    // a star peels to empty for k >= 2 (leaves first, then the hub)
    val star = (1L to 6L).map(i => (0L, i)).toDF("src", "dst")
    assert(Graphs.kCore(star, k = 2).isEmpty)
    // determinism across partitionings
    val re = Graphs.kCore(g.repartition(5), k = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(re == core2)
  }

  test("label propagation: two cliques joined by one bridge edge resolve " +
       "to two communities labeled by their minima; deterministic under " +
       "partitioning") {
    import spark.implicits._
    // K5 on {0..4}, K5 on {10..14}, bridge 4-10
    val cliqueA = for (i <- 0L to 4L; j <- (i + 1) to 4L) yield (i, j)
    val cliqueB = for (i <- 10L to 14L; j <- (i + 1) to 14L) yield (i, j)
    val edges = (cliqueA ++ cliqueB :+ (4L, 10L)).toDF("src", "dst")
    def run(parts: Int): Map[Long, Long] =
      Graphs.labelPropagation(edges.repartition(parts), iters = 5)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lab = run(3)
    assert((0L to 4L).forall(lab(_) == 0L),
      s"clique A must converge to label 0: $lab")
    assert((10L to 14L).forall(lab(_) == 10L),
      s"clique B must keep its own minimum 10 across the bridge: $lab")
    assert(run(1) == lab && run(7) == lab,
      "labels must be partitioning-invariant")
  }

  test("label propagation: an isolated edge pair and a triangle settle " +
       "to per-component minima after one round and stay fixed") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (5L, 6L), (6L, 7L), (5L, 7L)).toDF("src", "dst")
    val one = Graphs.labelPropagation(edges, iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val five = Graphs.labelPropagation(edges, iters = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(five == Map(1L -> 1L, 2L -> 1L, 5L -> 5L, 6L -> 5L, 7L -> 5L))
    assert(one == five, "tiny components reach the fixpoint in one round")
  }

  test("link prediction: closed-form scores on a crafted bipartite graph; " +
       "threshold prunes single-neighbor pairs; partitioning-invariant") {
    import spark.implicits._
    // customers 1,2 share items 10,11; customer 3 shares only item 10;
    // item 10 has degree 3, item 11 degree 2
    val edges = Seq((1L, 10L), (1L, 11L), (2L, 10L), (2L, 11L), (3L, 10L),
      (3L, 12L)).toDF("src", "dst")
    def run(df: org.apache.spark.sql.DataFrame) =
      Graphs.linkPredict(df).collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          (r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    val got = run(edges)
    // only (1,2) survives minCommon=2: cn=2, deg1=deg2=2 -> jaccard =
    // 2/(2+2-2)=1, aa = 1/ln(3) + 1/ln(2)
    assert(got.keySet == Set((1L, 2L)))
    val (cn, jac, aa) = got((1L, 2L))
    assert(cn == 2L && jac == 1.0)
    assert(math.abs(aa - (1.0 / math.log(3) + 1.0 / math.log(2))) < 1e-12)
    assert(run(edges.repartition(5)) == got)
  }

  test("triangles: the bipartite trade graph is triangle-free") {
    val edges = Graphs.tradeGraph(
      graft.Tables.orders(spark, "/root/testdata/sf0.001"),
      graft.Tables.lineitem(spark, "/root/testdata/sf0.001"))
    assert(Graphs.triangleCounts(edges).isEmpty)
  }

  test("HITS: the broad hub dominates hub scores, its targets dominate " +
       "authority scores; mass normalized; partitioning-invariant") {
    import spark.implicits._
    // hub 1 cites authorities 10..14; hubs 2,3 cite only authority 10
    val edges = (Seq((2L, 10L), (3L, 10L)) ++
      (10L to 14L).map(a => (1L, a))).toDF("src", "dst")
    def run(df: org.apache.spark.sql.DataFrame) =
      Graphs.hits(df, iters = 4).collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val got = run(edges)
    val hubScores = got.collect { case (("hub", n), v) => n -> v }
    val authScores = got.collect { case (("auth", n), v) => n -> v }
    assert(hubScores.keySet == Set(1L, 2L, 3L))
    assert(authScores.keySet == (10L to 14L).toSet)
    assert(hubScores(1L) > hubScores(2L) && hubScores(2L) == hubScores(3L))
    // authority 10 gets all three hubs' mass, 11..14 only hub 1's
    assert(authScores(10L) > authScores(11L))
    assert((11L to 14L).map(authScores).toSeq.distinct.size == 1)
    // L1-normalized halves: each side sums to scale minus truncation
    val scale = 1L << 20
    Seq(hubScores, authScores).foreach { side =>
      val mass = side.values.sum
      assert(mass <= scale && scale - mass <= side.size,
        s"mass $mass vs scale $scale")
    }
    assert(run(edges.repartition(7)) == got)
  }

  test("BFS: exact hop distances on a path graph, round bound truncates " +
       "the frontier, unreached nodes absent, partitioning-invariant") {
    import spark.implicits._
    // path 0-1-2-...-9 plus disconnected pair 100-101
    val edges = ((0L to 8L).map(i => (i, i + 1)) :+ (100L, 101L))
      .toDF("src", "dst")
    def run(iters: Int, df: org.apache.spark.sql.DataFrame =
        edges) =
      Graphs.shortestHops(df, n => n === 0L, iters = iters).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = run(6)
    assert(got == (0L to 6L).map(i => i -> i).toMap,
      s"6-round BFS from 0 over a path must reach exactly 0..6: $got")
    assert(run(9) == (0L to 9L).map(i => i -> i).toMap)
    assert(run(6, edges.repartition(5)) == got)
  }

  test("modularity: two disjoint cliques under the perfect partition " +
       "score exactly 1/2; one merged community scores exactly 0") {
    import spark.implicits._
    // two K4s: 6 intra edges each, m = 12, every node degree 3
    val cliqueA = for (i <- 0L to 3L; j <- (i + 1) to 3L) yield (i, j)
    val cliqueB = for (i <- 10L to 13L; j <- (i + 1) to 13L) yield (i, j)
    val edges = (cliqueA ++ cliqueB).toDF("src", "dst")
    val perfect = ((0L to 3L).map(_ -> 0L) ++ (10L to 13L).map(_ -> 1L))
      .toDF("node", "label")
    val q = Graphs.modularity(edges, perfect).head()
    assert(q.getAs[Long]("m_edges") == 12L)
    assert(q.getAs[Long]("n_comms") == 2L)
    // per community: e_c = 6, d_c = 12 -> 4*12*6 - 144 = 144; x2 = 288
    assert(q.getAs[Long]("q_num") == 288L)
    assert(q.getAs[Long]("q_den") == 576L)
    assert(q.getAs[Double]("modularity") == 0.5)
    val merged = ((0L to 3L) ++ (10L to 13L)).map(_ -> 0L)
      .toDF("node", "label")
    val q1 = Graphs.modularity(edges, merged).head()
    assert(q1.getAs[Long]("q_num") == 0L)
    assert(q1.getAs[Double]("modularity") == 0.0)
  }

  test("assortativity: a star is perfectly disassortative (r = -1 " +
       "exactly, sqrt being correctly rounded); a clique is degenerate") {
    import spark.implicits._
    val star = (1L to 5L).map(leaf => (0L, leaf)).toDF("src", "dst")
    val r = Graphs.assortativity(star).head()
    assert(r.getAs[Long]("m") == 10L, "5 undirected edges, symmetrized")
    assert(r.getAs[Double]("assortativity") == -1.0)
  }

  /** Reference Brandes (2001) on an undirected edge list: per seed, BFS
    * with path counting, then dependency accumulation in reverse BFS
    * order. Returns Σ_s δ_s(v) for v not a seed-row (v ≠ s).
    */
  private def bruteBrandes(edges: Seq[(Long, Long)],
                           seeds: Seq[Long]): Map[Long, Double] = {
    val adj = (edges ++ edges.map(e => (e._2, e._1)))
      .filter(e => e._1 != e._2).distinct
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) }
    val bc = scala.collection.mutable.Map[Long, Double]().withDefaultValue(0.0)
    seeds.foreach { s =>
      val dist = scala.collection.mutable.Map(s -> 0L)
      val sigma = scala.collection.mutable.Map(s -> 1L).withDefaultValue(0L)
      val order = scala.collection.mutable.ArrayBuffer[Long]()
      var frontier = Seq(s)
      while (frontier.nonEmpty) {
        order ++= frontier
        val next = scala.collection.mutable.LinkedHashMap[Long, Long]()
        frontier.foreach { v =>
          adj.getOrElse(v, Nil).foreach { w =>
            if (!dist.contains(w) || dist(w) == dist(v) + 1) {
              if (!dist.contains(w)) dist(w) = dist(v) + 1
              if (dist(w) == dist(v) + 1)
                next(w) = next.getOrElse(w, 0L) + sigma(v)
            }
          }
        }
        // de-dup: a node may be reached from several frontier nodes
        val fresh = next.keys.filterNot(order.contains).toSeq
        fresh.foreach(w => sigma(w) = next(w))
        frontier = fresh
      }
      val delta = scala.collection.mutable.Map[Long, Double]()
        .withDefaultValue(0.0)
      order.reverse.foreach { w =>
        adj.getOrElse(w, Nil).foreach { v =>
          if (dist.contains(v) && dist(v) == dist(w) - 1)
            delta(v) += sigma(v).toDouble / sigma(w).toDouble *
              (1.0 + delta(w))
        }
      }
      delta.foreach { case (v, dl) => if (v != s) bc(v) += dl }
    }
    bc.toMap
  }

  test("betweenness: distributed Brandes equals the plain Scala replay " +
       "on a closed-form path graph and on the sf0.001 co-supplier graph") {
    import spark.implicits._
    // P4 path 1-2-3-4 from seed 1: delta(2) = 2, delta(3) = 1, delta(4)=0
    val p4 = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val got4 = Graphs.betweenness(p4, _ <= 1).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got4(2L) == 2.0 && got4(3L) == 1.0 && got4(4L) == 0.0)
    // the real entry vs brute force over the same seeds
    val sf = "/root/testdata/sf0.001"
    val edges = Graphs.coSupplierEdges(graft.Tables.lineitem(spark, sf))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val seeds = nodes.filter(_ <= 10)
    assert(seeds.nonEmpty, "pinned seed set must exist in the graph")
    val want = bruteBrandes(edges, seeds)
    val got = graft.SparkEntry.queries("graph_betweenness")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    assert(got.nonEmpty)
    got.foreach { case (node, bc, nReach) =>
      assert(math.abs(bc - want.getOrElse(node, 0.0)) < 1e-9,
        s"node $node: got $bc want ${want.getOrElse(node, 0.0)}")
      assert(nReach >= 1 && nReach <= seeds.length)
    }
    // every node the replay scored appears in the distributed output
    want.keys.foreach(n => assert(got.exists(_._1 == n), s"missing $n"))
  }

  /** Sequential Kruskal under the same (weight desc, src, dst) total
    * order — the unique maximum spanning forest.
    */
  private def kruskalMax(edges: Seq[(Long, Long, Long)]): Set[(Long, Long, Long)] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    val out = Set.newBuilder[(Long, Long, Long)]
    edges.map { case (a, b, w) => (math.min(a, b), math.max(a, b), w) }
      .distinct
      .sortBy { case (s, d, w) => (-w, s, d) }
      .foreach { case (s, d, w) =>
        val (rs, rd) = (find(s), find(d))
        if (rs != rd) { parent(rs) = rd; out += ((s, d, w)) }
      }
    out.result()
  }

  test("max spanning forest: Boruvka equals sequential Kruskal on a " +
       "closed-form fixture and on the sf0.001 co-supplier graph") {
    import spark.implicits._
    // square with one strong diagonal: unique max forest
    val fix = Seq((1L, 2L, 5L), (2L, 3L, 4L), (3L, 4L, 5L), (1L, 4L, 2L),
      (1L, 3L, 9L)).toDF("src", "dst", "w")
    val got = Graphs.maxSpanningForest(fix).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 3L, 9L), (1L, 2L, 5L), (3L, 4L, 5L)),
      s"got $got") // (2,3,4) closes a cycle; 4 nodes -> 3 edges
    val sf = "/root/testdata/sf0.001"
    val edges = Graphs.coSupplierWeightedEdges(
        graft.Tables.lineitem(spark, sf))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val want = kruskalMax(edges)
    val msf = graft.SparkEntry.queries("graph_mst")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(msf == want,
      s"forest mismatch: extra=${msf -- want} missing=${want -- msf}")
    // forest invariant: |E| = |V| - #components
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.size
    val comps = graft.SparkEntry.queries("graph_wcc")(spark, sf)
      .collect().map(_.getLong(1)).distinct.length
    assert(msf.size == nodes - comps)
  }

  /** Sequential synchronous k-truss peel; returns the surviving edges
    * with in-truss support, and how many peels CHANGED the edge set
    * (the unrolled oracle is valid iff that count fits its rounds).
    */
  private def seqKTruss(edges: Set[(Long, Long)], k: Int)
      : (Map[(Long, Long), Long], Int) = {
    var cur = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter(e => e._1 != e._2)
    var sup = Map.empty[(Long, Long), Long]
    var changedRounds = 0
    var changed = true
    while (changed) {
      val adj = cur.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupBy(_._1).map { case (n, vs) => n -> vs.map(_._2).toSet }
      sup = cur.map { case (a, b) =>
        (a, b) -> (adj(a) intersect adj(b)).size.toLong }.toMap
      val next = cur.filter(e => sup(e) >= k - 2)
      changed = next != cur
      if (changed) { cur = next; changedRounds += 1 }
    }
    (cur.map(e => e -> sup(e)).toMap, changedRounds)
  }

  test("k-truss: closed form on K4 plus a pendant triangle, sequential " +
       "replay on the sf0.001 co-supplier graph, convergence within the " +
       "oracle's unroll") {
    import spark.implicits._
    // K4 on {1,2,3,4} (every edge closes 2 triangles) + pendant triangle
    // {4,5,6} (each edge closes 1): the 4-truss is exactly K4, support 2
    // everywhere; at k=3 all 9 edges survive.
    val fix = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (4L, 6L), (5L, 6L)).toDF("src", "dst")
    val t4 = Graphs.kTruss(fix, k = 4).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(t4.keySet == Set((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L),
      (2L, 4L), (3L, 4L)) && t4.values.forall(_ == 2L), s"got $t4")
    assert(Graphs.kTruss(fix, k = 3).count() == 9)
    // empty-graph and everything-peels edge cases return empty, not crash
    assert(Graphs.kTruss(fix, k = 5).count() == 0)
    val sf = "/root/testdata/sf0.001"
    val edges = Graphs.coSupplierEdges(graft.Tables.lineitem(spark, sf))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val (want, changedRounds) = seqKTruss(edges, k = 4)
    assert(changedRounds <= 8,
      s"peel took $changedRounds changing rounds; oracle unrolls 8")
    val got = graft.SparkEntry.queries("graph_ktruss")(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(got == want,
      s"extra=${got.keySet -- want.keySet} missing=${want.keySet -- got.keySet}")
  }

  test("coreness: closed form on a triangle-with-tail, and the h-index " +
       "fixpoint agrees with k-core peeling at every k on sf0.001") {
    import spark.implicits._
    // triangle 1-2-3 plus tail 3-4-5: triangle nodes have coreness 2,
    // the tail nodes coreness 1
    val fix = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    val got = Graphs.coreness(fix).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 2L, 4L -> 1L, 5L -> 1L))
    val sf = "/root/testdata/sf0.001"
    val edges = Graphs.coSupplierEdges(graft.Tables.lineitem(spark, sf))
      .localCheckpoint()
    val cor = Graphs.coreness(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cor.nonEmpty)
    val maxC = cor.values.max
    (1L to maxC).foreach { k =>
      val core = Graphs.kCore(edges, k.toInt).collect()
        .map(_.getLong(0)).toSet
      val byCoreness = cor.filter(_._2 >= k).keySet
      assert(core == byCoreness, s"k=$k: peel=$core vs h-index=$byCoreness")
    }
  }

  test("wcc: every co-supplier edge joins nodes of one component, the " +
       "label is the component's own minimum member, and the node set " +
       "is exactly the edge endpoints") {
    val sf = "/root/testdata/sf0.001"
    val wcc = graft.SparkEntry.queries("graph_wcc")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(wcc.nonEmpty)
    val edges = Graphs.coSupplierEdges(graft.Tables.lineitem(spark, sf))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(wcc.keySet == edges.flatMap(e => Seq(e._1, e._2)).toSet,
      "labeled node set == edge endpoint set")
    edges.foreach { case (a, b) =>
      assert(wcc(a) == wcc(b), s"edge ($a,$b) straddles components")
    }
    wcc.groupBy(_._2).foreach { case (label, members) =>
      assert(members.keySet.min == label,
        s"component $label labeled by a non-minimum id")
    }
  }

  test("perSourceHops: each source's slice equals an independent " +
       "single-seed shortestHops, and closeness reconciles on a path " +
       "graph") {
    import spark.implicits._
    // path 1-2-3-4-5 plus isolated pair 10-11
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
      .toDF("src", "dst")
    val multi = Graphs.perSourceHops(edges, n => n.isin(1L, 3L, 10L),
        iters = 4)
      .as[(Long, Long, Long)].collect().toSet
    Seq(1L, 3L, 10L).foreach { s =>
      val single = Graphs.shortestHops(edges, n => n === s, iters = 4)
        .as[(Long, Long)].collect().map { case (n, d) => (s, n, d) }.toSet
      assert(multi.filter(_._1 == s) == single, s"slice for seed $s")
    }
    // hand closeness: from node 3 on the path, dists 0+1+1+2+2 = 6 over
    // 4 reached; from 1: 0+1+2+3+4 = 10; from 10: just 11 at dist 1
    val sums = multi.groupBy(_._1).map { case (s, rs) =>
      s -> (rs.size - 1, rs.toSeq.map(_._3).sum)
    }
    assert(sums(3L) == (4, 6L) && sums(1L) == (4, 10L) &&
      sums(10L) == (1, 1L))
    // the registered op at sf0.001: closeness == (r-1)/sum_dist row-wise
    val rows = graft.SparkEntry.queries("graph_closeness")(spark,
      "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getDouble(3) ==
        r.getLong(1).toDouble / r.getLong(2).toDouble)
    }
  }

  test("perSourceHops mask and pair paths agree: a >128-seed run (pair " +
       "fallback) restricted to 128 seeds equals the mask-path run") {
    import spark.implicits._
    // ring of 140 nodes: every node reaches 2*iters neighbors
    val n = 140L
    val edges = (0L until n).map(i => (i, (i + 1) % n)).toDF("src", "dst")
    // 130 seeds -> pair-state fallback
    val pair = Graphs.perSourceHops(edges, c => c < 130L, iters = 3)
      .as[(Long, Long, Long)].collect().toSet
    // 120 seeds -> mask path
    val mask = Graphs.perSourceHops(edges, c => c < 120L, iters = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(mask == pair.filter(_._1 < 120L),
      "restricting the pair run to the mask run's seeds must coincide")
    // per-seed census on the ring: 1 + 2*iters nodes, dist sum 2*(1+2+3)
    mask.groupBy(_._1).foreach { case (s, rs) =>
      assert(rs.size == 1 + 2 * 3, s"seed $s reach")
      assert(rs.toSeq.map(_._3).sum == 2L * (1 + 2 + 3), s"seed $s sum")
    }
  }

  test("butterflies: K(2,2) has exactly one, a path has none, and the " +
       "registered op matches a brute-force quad census at sf0.001") {
    import spark.implicits._
    def census(edges: Seq[(Long, Long)]): (Long, Long, Long) = {
      val ds = edges.distinct
      val wedges = ds.groupBy(_._2).values
        .map(g => g.size.toLong * (g.size - 1) / 2).sum
      val pairs = ds.groupBy(_._2).values.flatMap { g =>
        val cs = g.map(_._1).sorted
        for (i <- cs.indices; j <- i + 1 until cs.size)
          yield (cs(i), cs(j))
      }.groupBy(identity).values.map(_.size.toLong)
      (ds.size.toLong, wedges, pairs.map(w => w * (w - 1) / 2).sum)
    }
    // K(2,2): 4 edges, 2 wedges (one per supplier), 1 butterfly
    assert(census(Seq((1L, 10L), (1L, 11L), (2L, 10L), (2L, 11L))) ==
      (4L, 2L, 1L))
    // path c1-p1-c2-p2: 4 nodes, 3 edges, wedges but no closed quad
    assert(census(Seq((1L, 10L), (2L, 10L), (2L, 11L))) == (3L, 1L, 0L))
    val Array(row) = graft.SparkEntry.queries("graph_butterflies")(spark,
      "/root/testdata/sf0.001").collect()
    val edges = graft.Tables.orders(spark, "/root/testdata/sf0.001")
      .join(graft.Tables.lineitem(spark, "/root/testdata/sf0.001"),
        $"o_orderkey" === $"l_orderkey")
      .select($"o_custkey", $"l_suppkey").as[(Long, Long)].collect().toSeq
    val (ne, nw, nb) = census(edges)
    assert((row.getLong(0), row.getLong(1), row.getLong(2)) == (ne, nw, nb))
  }

  test("randomWalks: every hop is a graph edge, every walk starts at its " +
       "seed and has full length, and reruns are bit-identical") {
    import spark.implicits._
    val edges = Graphs.tradeGraph(
      graft.Tables.orders(spark, "/root/testdata/sf0.001"),
      graft.Tables.lineitem(spark, "/root/testdata/sf0.001"))
    val w = Graphs.randomWalks(edges, n => n < 100, steps = 5)
      .as[(Long, Long, Long)].collect().sorted
    val seeds = w.filter(_._2 == 0L)
    assert(seeds.forall { case (walk, _, node) => walk == node },
      "step 0 must sit at the seed")
    val byWalk = w.groupBy(_._1)
    assert(byWalk.values.forall(_.length == 6),
      "every walk must have steps 0..5")
    val sym = edges.as[(Long, Long)].collect()
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.toSet
    val hops = byWalk.values.flatMap { rows =>
      val seq = rows.sortBy(_._2).map(_._3)
      seq.zip(seq.tail)
    }
    assert(hops.forall(sym.contains), "every consecutive pair is an edge")
    val w2 = Graphs.randomWalks(edges.repartition(7), n => n < 100,
      steps = 5).as[(Long, Long, Long)].collect().sorted
    assert(w.sameElements(w2),
      "md5 draws must make the corpus partitioning-invariant")
  }

  test("weightedHops: the cheap detour beats the expensive direct edge, " +
       "parallel edges collapse to the cheapest, and the hop bound binds") {
    import spark.implicits._
    // 0-1 direct costs 10; 0-2-1 costs 2+3=5; parallel 0-2 edge costs 9
    val g = Seq((0L, 1L, 10L), (0L, 2L, 2L), (0L, 2L, 9L), (2L, 1L, 3L),
      (1L, 3L, 1L)).toDF("src", "dst", "w")
    val d = Graphs.weightedHops(g, n => n === 0L, iters = 6)
      .as[(Long, Long)].collect().toMap
    assert(d == Map(0L -> 0L, 1L -> 5L, 2L -> 2L, 3L -> 6L), s"got $d")
    // iters=1 can only take single edges: node 3 unreachable, 1 pays 10
    val d1 = Graphs.weightedHops(g, n => n === 0L, iters = 1)
      .as[(Long, Long)].collect().toMap
    assert(d1 == Map(0L -> 0L, 1L -> 10L, 2L -> 2L), s"got $d1")
    val dr = Graphs.weightedHops(g.repartition(5), n => n === 0L, iters = 6)
      .as[(Long, Long)].collect().toMap
    assert(dr == d, "integer relaxation must be partitioning-invariant")
  }

  test("harmonic centrality: the path-graph center dominates the ends, " +
       "truncating reciprocals are exact, and n_reached matches closeness") {
    import spark.implicits._
    // path 0-1-2-3-4: center 2 has H = 2*(1/1 + 1/2) = 3.0 -> 3_000_000
    // ppm; end 0 has H = 1 + 1/2 + 1/3 + 1/4 -> 1_000_000 + 500_000 +
    // 333_333 + 250_000 = 2_083_333 (each term truncated separately)
    val path = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L))
      .toDF("src", "dst")
    val h = Graphs.perSourceHops(path, _ >= 0L, iters = 6)
      .groupBy($"s").agg(
        sum(when($"dist" > 0, expr("1000000 div dist")).otherwise(0L))
          .as("h"))
      .as[(Long, Long)].collect().toMap
    assert(h(2L) == 3000000L, s"center: ${h(2L)}")
    assert(h(0L) == 2083333L && h(4L) == 2083333L, s"ends: $h")
    assert(h(2L) > h(1L) && h(1L) > h(0L), "centrality orders the path")
    // registered op agrees with graph_closeness on reach counts
    val sf = "/root/testdata/sf0.001"
    val hm = graft.SparkEntry.queries("graph_harmonic")(spark, sf)
      .select($"source", $"n_reached").as[(Long, Long)].collect().toMap
    val cl = graft.SparkEntry.queries("graph_closeness")(spark, sf)
      .select($"source", $"n_reached").as[(Long, Long)].collect().toMap
    assert(hm == cl, "both centralities see the same reached sets")
  }

  test("randomWalks: hub draws on a star spread near-uniformly over the " +
       "leaves (the md5 argmin is a genuine uniform choice)") {
    import spark.implicits._
    // star: hub 0, leaves 1..50; every walk alternates hub -> leaf, so
    // odd steps are independent uniform leaf draws: 51 walks x 15 odd
    // steps = 765 draws over 50 leaves, expected ~15.3 per leaf
    val star = (1L to 50L).map(i => (0L, i)).toDF("src", "dst")
    val w = Graphs.randomWalks(star, _ >= 0L, steps = 30)
      .as[(Long, Long, Long)].collect()
    val hubDraws = w.filter(r => r._3 != 0L && r._2 > 0)
      .groupBy(_._3).view.mapValues(_.length).toMap
    assert(hubDraws.keySet == (1L to 50L).toSet,
      s"only ${hubDraws.size} leaves ever drawn")
    val (mn, mx) = (hubDraws.values.min, hubDraws.values.max)
    assert(mn >= 3 && mx <= 40,
      s"draw counts outside a loose uniform band: min=$mn max=$mx")
  }

  test("weightedHops with unit costs IS shortestHops: identical relation " +
       "on the real trade graph") {
    import spark.implicits._
    val edges = Graphs.tradeGraph(
      graft.Tables.orders(spark, "/root/testdata/sf0.001"),
      graft.Tables.lineitem(spark, "/root/testdata/sf0.001"))
    val unit = edges.withColumn("w", lit(1L))
    val viaW = Graphs.weightedHops(unit, n => n < 100, iters = 4)
      .as[(Long, Long)].collect().sorted
    val viaH = Graphs.shortestHops(edges, n => n < 100, iters = 4)
      .as[(Long, Long)].collect().sorted
    assert(viaW.sameElements(viaH),
      "unit-cost Bellman-Ford must reduce to BFS exactly")
  }

}
