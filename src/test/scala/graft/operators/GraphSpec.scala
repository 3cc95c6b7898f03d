package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class GraphSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def cc(edges: Seq[(Long, Long)], parts: Int = 4): Map[Long, Long] =
    Graph.connectedComponents(edges.toDF("u", "v").repartition(parts), "u", "v")
      .as[(Long, Long)].collect().toMap

  test("a 1000-link chain collapses to one component (pointer jumping)") {
    // plain 1-hop propagation needs 1000 passes; the jump needs ~log2
    val edges = (0L until 1000L).map(i => (i, i + 1))
    val labels = cc(edges)
    assert(labels.size == 1001)
    assert(labels.values.toSet == Set(0L))
  }

  test("mixed shapes: star, pair, triangle-with-tail; min-id labels") {
    val edges = Seq(
      (100L, 101L), (100L, 102L), (100L, 103L), // star rooted at 100
      (7L, 9L), // pair
      (20L, 21L), (21L, 22L), (22L, 20L), (22L, 23L)) // triangle + tail
    val labels = cc(edges)
    assert(labels == Map(
      100L -> 100L, 101L -> 100L, 102L -> 100L, 103L -> 100L,
      7L -> 7L, 9L -> 7L,
      20L -> 20L, 21L -> 20L, 22L -> 20L, 23L -> 20L))
  }

  test("labels are identical on any partitioning; self-loops ignored") {
    val edges = (0L until 50L).map(i => (i * 3, i * 3 + 1)) ++
      Seq((5L, 5L)) ++ (0L until 20L).map(i => (i * 7, i * 7 + 2))
    val a = cc(edges, 1)
    val b = cc(edges, 17)
    assert(a == b)
  }

  test("pageRank: hub of a star collects the rank mass") {
    // star with back-edges: spokes feed the hub, hub redistributes —
    // monotone convergence (a one-way star oscillates period-2)
    val edges = ((1 to 9).map(i => (i.toLong, 0L)) ++
      (1 to 9).map(i => (0L, i.toLong))).toDF("u", "v")
    // 20 its: the hub-spoke bipartite mode decays as 0.85^k, so 10 its
    // still sit ~0.07 below the 0.4676 fixpoint
    val pr = Graph.pageRank(edges, "u", "v", iterations = 20)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(pr(0L) > 0.43, s"hub ${pr(0L)}")  // fixpoint 0.4676
    assert((1 to 9).forall(i => pr(0L) > pr(i.toLong)))
    assert((2 to 9).forall(i => math.abs(pr(i.toLong) - pr(1L)) < 1e-12))
  }

  test("pageRank: uniform cycle stays uniform") {
    val n = 6
    val edges = (0 until n).map(i => (i.toLong, ((i + 1) % n).toLong)).toDF("u", "v")
    val pr = Graph.pageRank(edges, "u", "v", iterations = 7)
      .collect().map(_.getDouble(1))
    assert(pr.forall(p => math.abs(p - 1.0 / n) < 1e-12))
  }

  test("pageRank: bit-identical across partitionings (ordered folds)") {
    val edges = (0 until 60).map(i => ((i % 12).toLong, (i % 7).toLong)).toDF("u", "v")
    val a = Graph.pageRank(edges, "u", "v").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val b = Graph.pageRank(edges.repartition(7), "u", "v").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(a == b)  // exact double equality, not approx
  }

  test("pageRankWeighted: heavier edge pulls more mass; equal weights ≈ unweighted") {
    // star out of 0: edge 0→1 carries weight 9, 0→2 weight 1; back
    // edges return the mass. Node 1 must end well above node 2.
    val edges = Seq((0L, 1L, 9L), (0L, 2L, 1L), (1L, 0L, 1L), (2L, 0L, 1L))
      .toDF("u", "v", "w")
    val pr = Graph.pageRankWeighted(edges, "u", "v", "w", iterations = 30)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(pr(1L) > 4 * pr(2L), s"weighted split lost: $pr")
    assert(math.abs(pr.values.sum - 1.0) < 1e-9) // no dangling: mass conserved
    // equal weights reduce to the unweighted kernel (up to the last ulp
    // of (pr·w)/W vs pr/deg)
    val eq = (0 until 60).map(i => ((i % 12).toLong, (i % 7).toLong, 3L))
      .toDF("u", "v", "w")
    val wpr = Graph.pageRankWeighted(eq, "u", "v", "w")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val upr = Graph.pageRank(
      eq.select(col("u"), col("v")), "u", "v")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(wpr.keySet == upr.keySet)
    wpr.foreach { case (k, x) => assert(math.abs(x - upr(k)) < 1e-12) }
    // duplicate (u, v) rows pre-aggregate by weight sum: 9 = 4 + 5
    val dup = Seq((0L, 1L, 4L), (0L, 1L, 5L), (0L, 2L, 1L),
      (1L, 0L, 1L), (2L, 0L, 1L)).toDF("u", "v", "w")
    val dpr = Graph.pageRankWeighted(dup, "u", "v", "w", iterations = 30)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(dpr == pr) // exact double equality
  }

  test("pageRankWeighted: a zero-weight source can't poison other sources' targets") {
    // 0→1 carries weight 0 (W(0)=0); 2→1 is healthy. Pre-fix, 0's
    // NULL contribution poisoned node 1's whole fold and its rank
    // collapsed to the reset floor despite 2's real contribution.
    val edges = Seq((0L, 1L, 0.0), (2L, 1L, 1.0), (1L, 2L, 1.0))
      .toDF("u", "v", "w")
    val pr = Graph.pageRankWeighted(edges, "u", "v", "w", iterations = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // node 0 drops entirely (its only edge is weightless); 1 and 2
    // form a healthy cycle with equal mass
    assert(pr.keySet == Set(1L, 2L))
    assert(math.abs(pr(1L) - pr(2L)) < 1e-12 && pr(1L) > 0.4)
  }

  test("pageRank family drops null endpoints instead of minting a phantom node") {
    val edges = Seq((Some(0L), Some(1L)), (Some(1L), Some(0L)),
      (Some(0L), None), (None, Some(1L)))
      .toDF("u", "v")
    val pr = Graph.pageRank(edges, "u", "v")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(pr.keySet == Set(0L, 1L)) // no (null, rank) row
    // N=2, clean 2-cycle: mass conserved at 1 over the REAL nodes
    assert(math.abs(pr.values.sum - 1.0) < 1e-9)
  }

  test("pageRankWeighted: fractional weights work (no long truncation) and are scale-invariant") {
    // all weights < 1 — a long cast would truncate them to 0, zero the
    // out-weight and silently vanish the source's mass
    val frac = Seq((0L, 1L, 0.7), (0L, 2L, 0.3), (1L, 0L, 0.5),
      (2L, 0L, 0.5)).toDF("u", "v", "w")
    val pr = Graph.pageRankWeighted(frac, "u", "v", "w", iterations = 30)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // converged ratio is ~1.95 (7:3 contributions + shared reset mass);
    // the truncation bug would give a uniform 1:1
    assert(pr(1L) > 1.5 * pr(2L), s"fractional split lost: $pr")
    assert(math.abs(pr.values.sum - 1.0) < 1e-9)
    // only weight RATIOS matter: ×10 on every weight is the same walk
    val scaled = Seq((0L, 1L, 7.0), (0L, 2L, 3.0), (1L, 0L, 5.0),
      (2L, 0L, 5.0)).toDF("u", "v", "w")
    val spr = Graph.pageRankWeighted(scaled, "u", "v", "w", iterations = 30)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    pr.foreach { case (k, x) => assert(math.abs(x - spr(k)) < 1e-12) }
  }

  test("personalizedPageRank: cycle rank decays with distance from the seed") {
    val n = 6
    val edges = (0 until n).map(i => (i.toLong, ((i + 1) % n).toLong)).toDF("u", "v")
    val seeds = Seq(0L).toDF("node")
    val pr = Graph.personalizedPageRank(edges, "u", "v", seeds, "node",
      iterations = 30)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // teleport enters only at node 0 and decays 0.85 per hop downstream
    (0 until n - 1).foreach { i =>
      assert(pr(i.toLong) > pr((i + 1).toLong),
        s"pr($i)=${pr(i.toLong)} !> pr(${i + 1})=${pr((i + 1).toLong)}")
    }
    // cycle has no dangling nodes: total mass is conserved at 1
    assert(math.abs(pr.values.sum - 1.0) < 1e-9)
  }

  test("personalizedPageRank: seeds outside the graph are ignored") {
    val n = 6
    val edges = (0 until n).map(i => (i.toLong, ((i + 1) % n).toLong)).toDF("u", "v")
    val a = Graph.personalizedPageRank(edges, "u", "v",
      Seq(0L).toDF("node"), "node").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val b = Graph.personalizedPageRank(edges, "u", "v",
      Seq(0L, 999L, -3L).toDF("node"), "node").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(a == b) // |S ∩ V| = 1 either way — exact double equality
    assertThrows[IllegalArgumentException] {
      Graph.personalizedPageRank(edges, "u", "v",
        Seq(999L).toDF("node"), "node").collect()
    }
  }

  test("personalizedPageRank: uniform seed set reproduces global pageRank") {
    val edges = (0 until 60).map(i => ((i % 12).toLong, (i % 7).toLong)).toDF("u", "v")
    val nodes = edges.select(col("u").as("node"))
      .union(edges.select(col("v").as("node")))
    val ppr = Graph.personalizedPageRank(edges, "u", "v", nodes, "node")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val pr = Graph.pageRank(edges, "u", "v")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // r = 1/N everywhere ⇒ same fixpoint; constants differ only in how
    // (1−d)/N is formed ((1−d)·(1/N) vs (1−d)/N), so compare to 1e-12
    assert(ppr.keySet == pr.keySet)
    ppr.foreach { case (k, v) => assert(math.abs(v - pr(k)) < 1e-12) }
  }

  test("personalizedPageRank: bit-identical across partitionings") {
    val edges = (0 until 60).map(i => ((i % 12).toLong, (i % 7).toLong)).toDF("u", "v")
    val seeds = Seq(0L, 3L, 5L).toDF("node")
    val a = Graph.personalizedPageRank(edges, "u", "v", seeds, "node")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val b = Graph.personalizedPageRank(edges.repartition(7), "u", "v",
      seeds, "node")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(a == b) // exact double equality, not approx
  }

  test("triangleCounts: K4 has 4 triangles, 3 per node; path has none") {
    // complete graph on {1,2,3,4} + a dangling path 4-5-6
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L),
      (2L, 1L), (3L, 1L)) // reversed/duplicate edges must not double-count
      .toDF("src", "dst")
    val out = Graph.triangleCounts(edges, "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("n_triangles")).toMap
    // K4: C(3,2) = 3 triangles per node; 5 and 6 touch none
    assert(out == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("triangleCounts: star hub pivots no wedges under degree ordering") {
    // hub 1 with 40 leaves, hub id LOWER than every leaf — the naive
    // a<b orientation would pivot C(40,2)=780 wedges on the hub; the
    // degree-ordered orientation points every spoke leaf→hub (leaves
    // rank below the hub), so leaves each have one out-edge and the
    // star yields zero wedges. Two leaves joined to each other form the
    // only triangle, counted once per corner.
    val star = (2L to 41L).map(h => (1L, h))
    val edges = (star :+ (2L, 3L)).toDF("src", "dst")
    val out = Graph.triangleCounts(edges, "src", "dst", topK = 50)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("n_triangles")).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("edgeEmbeddedness: triangle edges score 1, bridges 0, pair null") {
    // triangle {1,2,3} + bridge 3-4 + pendant pair 10-11
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (10L, 11L))
      .toDF("src", "dst")
    val out = Graph.edgeEmbeddedness(edges, "src", "dst", topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), if (r.isNullAt(5)) None else Some(r.getDouble(5)))))
      .toMap
    // (1,2): support 1, union 2+2-2-1 = 1 -> 1.0
    assert(out((1L, 2L)) == ((1L, Some(1.0))))
    // (2,3): support 1, union 2+3-2-1 = 2 -> 0.5; (3,4) is a bridge
    assert(out((2L, 3L)) == ((1L, Some(0.5))))
    assert(out((3L, 4L)) == ((0L, Some(0.0))))
    assert(out((10L, 11L)) == ((0L, None)))
    assert(out.size == 5)
  }

  test("degreeAssortativity: star is maximally disassortative, cycle degenerate") {
    // star: every edge joins deg-4 hub to deg-1 leaf -> r = -1 exactly
    val star = (2L to 5L).map(h => (1L, h)).toDF("src", "dst")
    val r = Graph.degreeAssortativity(star, "src", "dst").head()
    assert(r.getAs[Long]("n_edges") == 4L)
    assert(r.getAs[Double]("assortativity") == -1.0)
    // cycle: all degrees equal -> zero variance -> null (not NaN)
    val cycle = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val c = Graph.degreeAssortativity(cycle, "src", "dst").head()
    assert(c.getAs[Long]("n_edges") == 3L && c.isNullAt(1))
  }

  test("degreePowerLaw: MLE over the degree histogram, dMin filter") {
    // star hub 1 with leaves 2..5: degrees hub=4, leaves=1; dMin=2
    // keeps only the hub -> n=1, sum = ln(4/2), alpha = 1 + 1/ln 2
    val edges = (2L to 5L).map(h => (1L, h)).toDF("src", "dst")
    val r = Graph.degreePowerLaw(edges, "src", "dst", dMin = 2L).head()
    assert(r.getAs[Long]("n_nodes") == 1L)
    assert(r.getAs[Long]("d_min") == 2L)
    assert(r.getAs[Long]("d_max") == 4L)
    assert(r.getAs[Double]("alpha") ==
      math.rint((1.0 + 1.0 / math.log(2.0)) * 10000) / 10000)
    // dMin above every degree -> empty fit, null alpha
    val empty = Graph.degreePowerLaw(edges, "src", "dst", dMin = 5L).head()
    assert(empty.getAs[Long]("n_nodes") == 0L && empty.isNullAt(3))
  }

  test("kCore: clique survives, chain peels away entirely") {
    // 5-clique {1..5} (every degree 4) + a chain 5-10-11-12-13 hanging
    // off it. k=3: the chain's tip has degree 1 < 3, peeling it drops
    // the next node to degree 1, and so on — the whole chain unravels
    // round by round while the clique (all degrees ≥ 4 > 3) is
    // untouched. Reversed duplicate edges must not inflate degrees.
    val clique = for {
      a <- 1L to 5L; b <- 1L to 5L if a < b
    } yield (a, b)
    val chain = Seq((5L, 10L), (10L, 11L), (11L, 12L), (12L, 13L))
    val edges = (clique ++ chain ++ Seq((2L, 1L), (3L, 1L))).toDF("u", "v")
    val out = Graph.kCore(edges, "u", "v", k = 3)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("degree")).toMap
    assert(out == Map(1L -> 4L, 2L -> 4L, 3L -> 4L, 4L -> 4L, 5L -> 4L))
  }

  test("kCore: cycle is its own 2-core; k=3 empties it") {
    val cycle = (0L until 8L).map(i => (i, (i + 1) % 8)).toDF("u", "v")
    val core2 = Graph.kCore(cycle, "u", "v", k = 2)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("degree")).toMap
    assert(core2 == (0L until 8L).map(_ -> 2L).toMap)
    assert(Graph.kCore(cycle, "u", "v", k = 3).collect().isEmpty)
  }

  test("clusteringCoefficient: clique nodes 1.0, bridge nodes lower") {
    // triangle {1,2,3} + pendant 3-4: node 3 has deg 3, 1 triangle →
    // cc = 2·1/(3·2) = 0.3333; nodes 1,2 are fully clustered (1.0);
    // node 4 (deg 1) is excluded
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
      .toDF("src", "dst")
    val out = Graph.clusteringCoefficient(edges, "src", "dst")
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("degree"), r.getAs[Double]("clustering_coeff"))).toMap
    assert(out == Map(1L -> (2L, 1.0), 2L -> (2L, 1.0), 3L -> (3L, 0.3333)))
  }

  // two triangles joined by the 3–4 bridge: LPA must converge to one
  // community per triangle (hand-traced 4 synchronous rounds with the
  // (count DESC, label ASC) rule → labels 1 and 3)
  private def bridgedTriangles = Seq(
    (1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L)
  ).toDF("src", "dst")

  test("labelPropagation: bridged triangles split into two communities") {
    val out = Graph.labelPropagation(bridgedTriangles, "src", "dst",
      iterations = 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 3L, 5L -> 3L, 6L -> 3L))
  }

  test("modularity: hand-computed two-community partition") {
    // m=7; e_c=3 each; d_c=7 each → Q = 2·(3/7 − 0.25) = 0.3571
    val com = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 3L), (5L, 3L),
      (6L, 3L)).toDF("node", "label")
    val r = Graph.modularity(bridgedTriangles, "src", "dst", com,
      "node", "label").collect().head
    assert(r.getAs[Long]("n_communities") == 2L)
    assert(r.getAs[Long]("m_edges") == 7L)
    assert(r.getAs[Double]("modularity") == 0.3571)
  }

  test("modularity: unassigned nodes drop with their edges") {
    val com = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 3L), (5L, 3L))
      .toDF("node", "label") // node 6 unassigned
    val r = Graph.modularity(bridgedTriangles, "src", "dst", com,
      "node", "label").collect().head
    assert(r.getAs[Long]("m_edges") == 5L)
  }

  test("hits: one-iteration hand trace on a star, sinks carry 0 hub") {
    // 1→3, 2→3, 3→4 (n = 4): after the MEAN-1 h-step all of 1,2,3
    // have raw 1 → 1·4/3 → 1.333333 each, node 4 raw 0; a-step:
    // a(3) = (1.333333+1.333333)·4/3.999999 = 8/3 → 2.666667,
    // a(4) = 1.333333·4/3.999999 = 4/3 → 1.333333. The returned
    // scores are the final ÷n L1 values (exact ÷4 binary scaling).
    val edges = Seq((1L, 3L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val out = Graph.hits(edges, "src", "dst", iterations = 1).collect()
      .map(r => r.getLong(0) ->
        (r.getAs[Double]("hub"), r.getAs[Double]("authority"))).toMap
    assert(out(1L) == ((0.33333325, 0.0)))
    assert(out(2L) == ((0.33333325, 0.0)))
    assert(out(3L) == ((0.33333325, 0.66666675)))
    assert(out(4L) == ((0.0, 0.33333325)))
  }

  test("hits: scores stay L1-normalized and converge on the star") {
    val edges = Seq((1L, 3L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val out = Graph.hits(edges, "src", "dst", iterations = 6).collect()
    val hubSum = out.map(_.getAs[Double]("hub")).sum
    val authSum = out.map(_.getAs[Double]("authority")).sum
    assert(math.abs(hubSum - 1.0) < 1e-4 && math.abs(authSum - 1.0) < 1e-4)
    val byNode = out.map(r => r.getLong(0) -> r.getAs[Double]("authority"))
      .toMap
    assert(byNode(3L) > byNode(4L)) // 3 is the stronger authority
  }

  test("modularity: everything in one community scores 0") {
    val com = Seq((1L, 9L), (2L, 9L), (3L, 9L), (4L, 9L), (5L, 9L),
      (6L, 9L)).toDF("node", "label")
    val r = Graph.modularity(bridgedTriangles, "src", "dst", com,
      "node", "label").collect().head
    assert(r.getAs[Double]("modularity") == 0.0)
  }
}
