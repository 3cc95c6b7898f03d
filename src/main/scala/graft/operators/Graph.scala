package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Distributed graph primitives for the curation pipeline.
  *
  * Connected components is the backbone of cluster-level dedup: near-dup
  * PAIRS (MinHash/SimHash/embedding LSH) become duplicate CLUSTERS only
  * through a transitive closure, and at 100 TB that closure must run as
  * a fixed small number of shuffles, not a driver-side union-find.
  */
object Graph {

  /** Connected components over an undirected edge list: returns
    * `(vertex, component)` where `component` is the MINIMUM vertex id in
    * the vertex's component — a deterministic, partitioning-independent
    * labeling.
    *
    * Algorithm: min-label propagation with POINTER JUMPING — each pass
    * first takes the min label over the closed neighborhood, then
    * compresses paths by re-reading the label's own label
    * (`l(v) ← min(l(v), l(l(v)))`). The compression halves label-chain
    * depth per pass, so convergence is O(log diameter) passes (two
    * shuffles each) instead of the O(diameter) of plain propagation —
    * the difference between 6 and 1000 passes on a pathological
    * 1000-link chain, while real dedup graphs (star-ish clusters)
    * converge in 2-3 passes either way. Each pass is one
    * [[Stage.iterate]] round (an EAGER localCheckpoint): constant plan
    * depth, superseded blocks freed immediately.
    *
    * Convergence is exact — a changed-label filter over the
    * already-materialized checkpoint — with `maxIterations` as a
    * defensive cap only. Vertices are the edge endpoints; isolated
    * vertices (no edges) are the caller's to union in as singletons.
    */
  def connectedComponents(
      edges: DataFrame, srcCol: String, dstCol: String,
      maxIterations: Int = 50): DataFrame = {
    val e = edges.select(col(srcCol).cast("long").as("u"), col(dstCol).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
    // symmetrize once; referenced every pass — staged for the call.
    // Measured (20M edges, local[32]): a v-partitioned+sorted
    // checkpoint (the pageRank lever) LOSES here — CC's per-pass cost
    // is the edge-sized min-label aggregation shuffle (keyed by u, not
    // the join's v) plus the pointer-jump self-joins, and pinning the
    // layout costs AQE its runtime join re-planning (44 s plain vs
    // 52 s pinned). Plain checkpoint keeps the flexibility.
    Stage.using(e.union(e.select(col("v").as("u"), col("u").as("v"))).distinct()) { sym =>
      val init = sym.select(col("u").as("vtx")).distinct()
        .withColumn("lbl", col("vtx"))
      val (last, _) = Stage.iterate(init, maxIterations)({ prev =>
        val labels = prev.select(col("vtx"), col("lbl"))
        // min over the closed neighborhood (every vtx of the
        // symmetrized list has ≥1 edge)
        val viaNbr = sym.join(labels.select(col("vtx").as("nv"), col("lbl").as("nl")),
            col("v") === col("nv"))
          .select(col("u").as("vtx"), col("nl").as("lbl"))
        val step = labels.union(viaNbr)
          .groupBy(col("vtx"))
          .agg(min(col("lbl")).as("lbl"))
        // pointer jump: follow the label one hop (left join — a label
        // that is already a root labels itself)
        val jumped = step.as("a")
          .join(step.select(col("vtx").as("jv"), col("lbl").as("jl")).as("b"),
            col("a.lbl") === col("jv"), "left")
          .select(col("a.vtx").as("vtx"),
            least(col("a.lbl"), coalesce(col("jl"), col("a.lbl"))).as("lbl"))
        // carry the pre-pass label so convergence is a filter, not a re-join
        Some(jumped.as("n")
          .join(labels.select(col("vtx").as("pv"), col("lbl").as("__prev")),
            col("n.vtx") === col("pv"))
          .select(col("n.vtx").as("vtx"), col("n.lbl").as("lbl"), col("__prev")))
      }, next => next.filter(col("lbl") =!= col("__prev")).isEmpty)
      last.select(col("vtx").as("vertex"), col("lbl").as("component"))
    }
  }

  /** PageRank over a directed edge list (Page et al. 1999), fixed
    * iteration count: pr'(v) = (1−d)/N + d·Σ_{u→v} pr(u)/out(u).
    *
    * Determinism contract (what makes this oracle-replayable bit-exact):
    *   - edges are DISTINCT (u, v); N and out-degrees are exact ints;
    *   - every per-vertex contribution sum folds in SOURCE-VERTEX order
    *     (collect_list → array_sort → left fold) — a plain SUM would be
    *     partitioning-dependent in the last ulp;
    *   - the constants (1−d)/N and d enter as the SAME driver-computed
    *     doubles the SQL oracle interpolates/recomputes identically.
    *   With those fixed, every iteration is an identical IEEE op
    *   sequence on both engines — raw doubles compare equal, no display
    *   rounding needed.
    *
    * Scale shape: one distinct + degree pass up front; per iteration ONE
    * shuffle (contributions grouped by dst; in-degree-bounded
    * collect_list) + the rank join, with an eager localCheckpoint every
    * iteration for constant plan depth. Dangling vertices keep
    * contributing nothing (their mass leaks — the simplified PageRank
    * most engines ship; documented, deterministic).
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 10, damping: Double = 0.85): DataFrame = {
    // edges partitioned on u: the per-iteration rank join AND the
    // out-degree aggregate both consume that layout with no exchange.
    // Null endpoints drop (the hits/CC convention): a phantom null
    // node would inflate N — skewing (1−d)/N for every real node —
    // and edges to null would dilute out(u) into vanished mass.
    // The returned frame is its own eager checkpoint, so the edge
    // layout and the node set are staged for this call only.
    Stage.partitioned(
      edges.select(col(srcCol).cast("long").as("u"),
        col(dstCol).cast("long").as("v"))
        .filter(col("u").isNotNull && col("v").isNotNull)
        .distinct(), "u") { e =>
      Stage.using(e.select(col("u").as("node"))
          .union(e.select(col("v").as("node"))).distinct()) { nodes =>
        val outDeg = e.groupBy(col("u")).agg(count(lit(1)).as("__out"))
        val n = nodes.count()
        val reset = (1.0 - damping) / n
        rankIterations(e, outDeg,
          nodes.withColumn("pr", lit(1.0 / n)), Nil,
          col("pr") / col("__out"),
          lit(reset) + lit(damping) * coalesce(col("__s"), lit(0.0)),
          iterations)
      }
    }
  }

  /** The shared fixed-iteration kernel of the PageRank family
    * ([[pageRank]] / [[pageRankWeighted]] / [[personalizedPageRank]]):
    * per round, join ranks to the u-partitioned edge frame `e` and the
    * per-source divisor frame `perSrc` (both consume e's layout without
    * an exchange), compute the per-edge term `contrib`, fold per-dst
    * sums in SOURCE-VERTEX order (the determinism contract — a plain
    * SUM would be partitioning-dependent in the last ulp), and rebuild
    * the rank frame via `next` (which sees the fold as a null-able
    * `__s` plus any `carry` columns, e.g. PPR's teleport vector).
    * The rounds are [[Stage.iterate]]'s, so live storage stays at one
    * rank frame + the edge layout regardless of iteration count.
    */
  private def rankIterations(e: DataFrame, perSrc: DataFrame,
      init: DataFrame, carry: Seq[String], contrib: Column, next: Column,
      iterations: Int): DataFrame =
    Stage.iterate(init.transform(Stage.scoped(eager = true)), iterations)({ pr =>
      val c = e.join(pr, e("u") === pr("node"))
        .join(perSrc, Seq("u"))
        .select(col("v"), col("u"), contrib.as("__c"))
      val sums = c.groupBy(col("v"))
        .agg(aggregate(
          transform(array_sort(collect_list(struct(col("u"), col("__c")))),
            x => x.getField("__c")),
          lit(0.0), (acc, x) => acc + x).as("__s"))
      val keep = pr.select(col("node") +: carry.map(col): _*)
      Some(keep.join(sums, keep("node") === sums("v"), "left")
        .select((col("node") +: carry.map(col)) :+ next.as("pr"): _*))
    })._1

  /** Weighted PageRank: [[pageRank]] where each edge carries a positive
    * weight and a source's rank distributes ∝ weight instead of
    * uniformly — pr'(v) = (1−d)/N + d·Σ_{u→v} pr(u)·w(u,v)/W(u),
    * W(u) = Σ_x w(u,x). On a host link graph the weight is the raw
    * link count ([[graft.operators.UrlOps.hostGraph]]'s `n_links`), so
    * a host that links a target 50× endorses it more than a single
    * footer link — the form crawl-frontier scoring actually wants.
    *
    * Duplicate (src, dst) rows pre-aggregate by SUMMING weights (the
    * unweighted kernel's distinct() counterpart). Same determinism
    * contract as [[pageRank]]: source-ordered contribution folds, and
    * the per-edge term is computed as (pr·w)/W — one multiply, one
    * divide, in that order — which the SQL oracle replays verbatim.
    * Weights are taken as DOUBLES (a long cast would silently truncate
    * fractional weights — a cosine-weighted edge list would zero out);
    * the dup-edge and out-weight sums fold in sorted order, so even
    * fractional weights stay bit-deterministic (for integer-valued
    * weights the sums are exact, which is what lets a plain-SUM SQL
    * oracle replay them). Non-positive/null/unparseable weights DROP
    * their edge: a zero-total source would otherwise make pr·w/0 NULL,
    * and that null would poison the whole per-destination fold — every
    * target of that source, not just its own mass, would collapse to
    * the reset floor. Dropping contains the damage to the documented
    * shape (the source leaks its mass like a dangling node); null
    * endpoints drop as in [[pageRank]].
    */
  def pageRankWeighted(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String, iterations: Int = 10,
      damping: Double = 0.85): DataFrame = {
    Stage.partitioned(
      edges.select(col(srcCol).cast("long").as("u"),
        col(dstCol).cast("long").as("v"),
        col(weightCol).cast("double").as("w"))
        .filter(col("u").isNotNull && col("v").isNotNull &&
          col("w").isNotNull && col("w") > 0)
        .groupBy(col("u"), col("v"))
        // ascending-value fold: the multiset fixes the sum's op order
        .agg(aggregate(array_sort(collect_list(col("w"))),
          lit(0.0), (acc, x) => acc + x).as("w")), "u") { e =>
      Stage.using(e.select(col("u").as("node"))
          .union(e.select(col("v").as("node"))).distinct()) { nodes =>
        // W(u) folds in destination order — deterministic for any weights
        val outW = e.groupBy(col("u")).agg(aggregate(
          transform(array_sort(collect_list(struct(col("v"), col("w")))),
            x => x.getField("w")),
          lit(0.0), (acc, x) => acc + x).as("__outw"))
        val n = nodes.count()
        val reset = (1.0 - damping) / n
        rankIterations(e, outW,
          nodes.withColumn("pr", lit(1.0 / n)), Nil,
          col("pr") * col("w") / col("__outw"),
          lit(reset) + lit(damping) * coalesce(col("__s"), lit(0.0)),
          iterations)
      }
    }
  }

  /** Personalized PageRank (Haveliwala WWW'02 / Jeh & Widom WWW'03):
    * [[pageRank]] with the teleport mass concentrated on a SEED set —
    * pr'(v) = (1−d)·r(v) + d·Σ_{u→v} pr(u)/out(u) where r(v) = 1/|S| on
    * seeds, 0 elsewhere. The ranking answers "important RELATIVE TO
    * these nodes": the crawl use is scoring hosts by proximity to a
    * trusted seed list (quality-propagation curation — the link-trust
    * family of corpus filters), where global PageRank would surface
    * globally-popular-but-irrelevant hubs.
    *
    * Same determinism contract as [[pageRank]] (source-ordered
    * contribution folds, driver-computed double constants), same per-
    * iteration shape (ONE vertex-sized shuffle; the edge layout is
    * reused every pass), same eager checkpoint release. Seeds outside
    * the graph's node set are ignored (mass normalizes over S ∩ V —
    * a seed the crawl never reached cannot receive teleport mass).
    * Dangling mass leaks exactly as in [[pageRank]] — deterministic,
    * and shared by the SQL oracle.
    */
  def personalizedPageRank(edges: DataFrame, srcCol: String,
      dstCol: String, seeds: DataFrame, seedCol: String,
      iterations: Int = 10, damping: Double = 0.85): DataFrame = {
    val sd = seeds.select(col(seedCol).cast("long").as("node")).distinct()
    Stage.partitioned(
      edges.select(col(srcCol).cast("long").as("u"),
        col(dstCol).cast("long").as("v"))
        .filter(col("u").isNotNull && col("v").isNotNull)
        .distinct(), "u") { e =>
      val nodeSet = e.select(col("u").as("node"))
        .union(e.select(col("v").as("node"))).distinct()
      // __r is the teleport vector: materialized ONCE with the node set
      // (seed flag via broadcast-sized semi-join), carried through every
      // iteration's rebuild untouched
      Stage.using(nodeSet
          .join(sd.withColumn("__seed", lit(true)), Seq("node"), "left")) { nodes =>
        val s = nodes.filter(col("__seed")).count()
        require(s > 0, "no seed is a node of the graph")
        val seedMass = 1.0 / s
        val withR = nodes.withColumn("__r",
          when(col("__seed"), lit(seedMass)).otherwise(lit(0.0)))
        val outDeg = e.groupBy(col("u")).agg(count(lit(1)).as("__out"))
        val oneMinusD = 1.0 - damping
        rankIterations(e, outDeg,
          withR.select(col("node"), col("__r"), col("__r").as("pr")),
          Seq("__r"),
          col("pr") / col("__out"),
          lit(oneMinusD) * col("__r")
            + lit(damping) * coalesce(col("__s"), lit(0.0)),
          iterations)
          .select(col("node"), col("pr"))
      }
    }
  }

  /** Per-node triangle counts via the DEGREE-ORDERED oriented join
    * (Schank & Wagner 2005's "forward" algorithm as a bulk join) —
    * each triangle enumerated exactly once, then exploded to its three
    * corners. Pure integer counts; top-k by (triangles DESC, node).
    *
    * Orientation is the heavy-graph lever: every canonical edge points
    * from its LOWER-(degree, id)-rank endpoint to the higher, so wedges
    * pivot only on each node's OUT-edges, whose count is bounded by
    * O(√m) on any graph — a degree-d hub contributes d wedges as a
    * leaf, never the d² it would as an id-ordered pivot (a star graph's
    * center generates ZERO wedges here). Two shuffles total: the wedge
    * self-join on the pivot and the closing-edge equi-join; the rank
    * tie-break by id keeps the orientation acyclic and deterministic.
    */
  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String,
      topK: Int = 20): DataFrame =
    triangleFrame(edges, srcCol, dstCol)
      .orderBy(col("n_triangles").desc, col("node"))
      .limit(topK)

  private def canonicalEdges(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame =
    edges.select(
        least(col(srcCol), col(dstCol)).as("s"),
        greatest(col(srcCol), col(dstCol)).as("t"))
      .filter(col("s") < col("t")).distinct()

  /** Canonical edges re-oriented low-rank → high-rank with rank =
    * (degree, id): `(u, v, dv)` rows where u is the lower-rank
    * endpoint and dv carries v's degree for downstream rank compares.
    */
  private def orientedByDegree(e: DataFrame): DataFrame = {
    val deg = e.select(col("s").as("node"))
      .unionAll(e.select(col("t").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("__d"))
    val sLow = struct(col("__ds"), col("s")) < struct(col("__dt"), col("t"))
    e.join(deg.select(col("node").as("s"), col("__d").as("__ds")), Seq("s"))
      .join(deg.select(col("node").as("t"), col("__d").as("__dt")), Seq("t"))
      .select(
        when(sLow, col("s")).otherwise(col("t")).as("u"),
        when(sLow, col("t")).otherwise(col("s")).as("v"),
        when(sLow, col("__dt")).otherwise(col("__ds")).as("dv"))
  }

  /** Each triangle exactly once as an (a, b, c) row — a is the wedge
    * pivot (lowest (deg, id) rank), b/c its rank-ordered spokes.
    */
  private def triangleTriples(e: DataFrame): DataFrame = {
    val o = orientedByDegree(e)
    // wedges pivot on u's out-edges (≤ O(√m) each); ordering the two
    // spokes by (deg, id) rank means the closing edge — if it exists —
    // is oriented b→c, so one equi-join closes the triangle
    val wedges = o.select(col("u"), col("v").as("b"), col("dv").as("db"))
      .join(o.select(col("u"), col("v").as("c"), col("dv").as("dc")), Seq("u"))
      .filter(struct(col("db"), col("b")) < struct(col("dc"), col("c")))
      .select(col("u").as("a"), col("b"), col("c"))
    wedges.join(o.select(col("u").as("b"), col("v").as("c")), Seq("b", "c"))
      .select(col("a"), col("b"), col("c"))
  }

  private def triangleFrame(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame =
    triangleTriples(canonicalEdges(edges, srcCol, dstCol))
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))

  /** Edge embeddedness — per EDGE, the count of triangles through it
    * (common-neighbor support) and the neighborhood Jaccard
    * support / (deg(u)+deg(v)−2−support): ≈0 flags a weak tie / bridge
    * (Granovetter), ≈1 a deeply intra-community edge — the
    * graph-curation signal that separates organic links from drive-by
    * connections before community-level dedup or spam peeling. Exact
    * integers until one final divide; isolated-pair edges (empty union)
    * get a NULL score and rank last. Top-k by (embeddedness DESC, u, v).
    * Same two-shuffle degree-ordered machinery as [[triangleCounts]].
    */
  def edgeEmbeddedness(edges: DataFrame, srcCol: String, dstCol: String,
      topK: Int = 20): DataFrame = {
    val e = canonicalEdges(edges, srcCol, dstCol)
    val deg = e.select(col("s").as("node"))
      .unionAll(e.select(col("t").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("__d"))
    val supp = triangleTriples(e)
      .select(explode(array(
        struct(least(col("a"), col("b")).as("s"),
          greatest(col("a"), col("b")).as("t")),
        struct(least(col("a"), col("c")).as("s"),
          greatest(col("a"), col("c")).as("t")),
        struct(least(col("b"), col("c")).as("s"),
          greatest(col("b"), col("c")).as("t")))).as("ed"))
      .select(col("ed.s").as("s"), col("ed.t").as("t"))
      .groupBy(col("s"), col("t")).agg(count(lit(1)).as("__supp"))
    val scored = e
      .join(supp, Seq("s", "t"), "left")
      .join(deg.select(col("node").as("s"), col("__d").as("du")), Seq("s"))
      .join(deg.select(col("node").as("t"), col("__d").as("dv")), Seq("t"))
      .withColumn("support", coalesce(col("__supp"), lit(0L)))
      .withColumn("embeddedness",
        when(col("du") + col("dv") - 2 - col("support") > 0,
          round(col("support").cast("double") /
            (col("du") + col("dv") - 2 - col("support")).cast("double"), 4)))
    scored
      .orderBy(col("embeddedness").desc, col("s"), col("t"))
      .limit(topK)
      .select(col("s").as("u"), col("t").as("v"), col("support"),
        col("du"), col("dv"), col("embeddedness"))
  }

  /** k-core decomposition by iterative peeling (Seidman 1983; the
    * Batagelj-Zaversnik sequential peel re-expressed as bulk-synchronous
    * rounds): repeatedly delete every vertex of degree < k until the
    * remaining subgraph — the k-core — is degree-≥-k everywhere. The
    * standard graph-curation signal: spam/bot communities and template
    * farms sit in dense cores, genuine long-tail content in shallow
    * ones.
    *
    * Returns `(node, degree)` for the k-core subgraph, degree measured
    * IN the core. Each round: exact degree count (map-side partial agg),
    * semi-join both endpoints against the survivors, one
    * [[Stage.iterate]] round (constant plan depth + freed blocks — the
    * [[connectedComponents]] discipline). Convergence is an exact
    * edge-count comparison on the already-materialized checkpoint; a
    * bulk round removes ALL sub-k vertices at once, so rounds ≤ the
    * graph's degeneracy-peel depth, O(log n) on random graphs — not the
    * O(n) of vertex-at-a-time peeling. `maxIterations` is a defensive
    * cap; the loop throws if it trips with the peel unconverged, never
    * returns a non-core silently. The result is a lazy degree count
    * over the final round's edge checkpoint.
    */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
      maxIterations: Int = 64): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val init = canonicalEdges(edges, srcCol, dstCol).transform(Stage.scoped(eager = true))
    // edge count of the last materialized round: a peel that removes
    // nothing has converged, and an empty edge set has nothing to peel
    var nEdges = init.count()
    val (last, converged) = Stage.iterate(init, maxIterations)({ e =>
      val deg = e.select(col("s").as("node"))
        .unionAll(e.select(col("t").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("__d"))
      val keep = deg.filter(col("__d") >= k).select(col("node"))
      Option.when(nEdges > 0)(e
        .join(keep.select(col("node").as("s")), Seq("s"), "left_semi")
        .join(keep.select(col("node").as("t")), Seq("t"), "left_semi")
        .select(col("s"), col("t")))
    }, { next =>
      val n = next.count()
      val same = n == nEdges
      nEdges = n
      same
    })
    if (!converged)
      throw new IllegalStateException(
        s"k-core peel did not converge in $maxIterations rounds")
    last.select(col("s").as("node")).unionAll(last.select(col("t").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
  }

  /** Degree-distribution power-law fit — the Clauset-Shalizi-Newman
    * continuous MLE α = 1 + n / Σ ln(d/dMin) over nodes with degree ≥
    * `dMin`, plus the histogram extremes. THE "is this graph
    * scale-free, how heavy is the hub tail" diagnostic run before
    * choosing join strategies on a behavior graph (α ≤ 2.5 means hubs
    * own the edge mass — salt or orient before joining; α ≥ 3 means
    * degrees concentrate and plain hash joins are safe).
    *
    * Determinism at scale: the ln terms fold over the DEGREE HISTOGRAM
    * (distinct degree values — O(√m) of them on any graph), ascending-d
    * ordered, c·ln(d/dMin) per value — one fixed FP sequence, never a
    * partition-order-dependent double sum over nodes; the histogram
    * itself is exact integer counts off one partial-aggregated pass.
    */
  def degreePowerLaw(edges: DataFrame, srcCol: String, dstCol: String,
      dMin: Long = 2L): DataFrame = {
    require(dMin >= 1, s"dMin must be >= 1, got $dMin")
    val e = canonicalEdges(edges, srcCol, dstCol)
    val deg = e.select(col("s").as("node"))
      .unionAll(e.select(col("t").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("d"))
    val hist = deg.filter(col("d") >= dMin)
      .groupBy(col("d")).agg(count(lit(1)).as("c"))
    val sums = hist.agg(
      sum(col("c")).as("n_nodes"),
      max(col("d")).as("d_max"),
      aggregate(
        transform(array_sort(collect_list(struct(col("d"), col("c")))),
          s => s.getField("c").cast("double") *
            log(s.getField("d").cast("double") / dMin.toDouble)),
        lit(0.0), (a, v) => a + v).as("__s"))
    sums.select(
      coalesce(col("n_nodes"), lit(0L)).as("n_nodes"),
      lit(dMin).as("d_min"),
      col("d_max"),
      when(col("__s") > 0,
        round(lit(1.0) + col("n_nodes").cast("double") / col("__s"), 4))
        .as("alpha"))
  }

  /** Degree assortativity (Newman 2002): Pearson correlation of the
    * endpoint degrees over the undirected edge set — positive means
    * hubs attach to hubs (social-graph shape), negative means hubs
    * attach to leaves (star/infrastructure shape, the skew-join
    * warning). Companion single-number diagnostic to
    * [[degreePowerLaw]].
    *
    * Exactness: with the symmetric edge formulation every moment is an
    * exact INTEGER sum (Σjk, Σ(j+k), Σ(j²+k²)) accumulated as
    * DECIMAL(38,0) (overflow-safe at fleet scale, where a 10⁶-degree
    * hub's jk products exceed long range in aggregate); r is then four
    * double operations on exact operands — the same IEEE sequence in
    * the oracle. One degree count + one edge join, nothing else.
    */
  def degreeAssortativity(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val e = canonicalEdges(edges, srcCol, dstCol)
    val deg = e.select(col("s").as("node"))
      .unionAll(e.select(col("t").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("__d"))
    val ed = e
      .join(deg.select(col("node").as("s"), col("__d").as("ds")), Seq("s"))
      .join(deg.select(col("node").as("t"), col("__d").as("dt")), Seq("t"))
    val sums = ed.agg(
      count(lit(1)).as("n_edges"),
      sum((col("ds") * col("dt")).cast("decimal(38,0)")).as("__sjk"),
      sum((col("ds") + col("dt")).cast("decimal(38,0)")).as("__ssum"),
      sum((col("ds") * col("ds") + col("dt") * col("dt"))
        .cast("decimal(38,0)")).as("__ssq"))
    val m = col("n_edges").cast("double")
    val mean = col("__ssum").cast("double") / (lit(2.0) * m)
    val num = col("__sjk").cast("double") / m - mean * mean
    val den = col("__ssq").cast("double") / (lit(2.0) * m) - mean * mean
    sums.select(col("n_edges"),
      when(den =!= 0.0, round(num / den, 4)).as("assortativity"))
  }

  /** Local clustering coefficient per node: cc(v) = 2·T(v) /
    * (deg(v)·(deg(v)−1)) — how close a node's neighborhood is to a
    * clique (1.0 = every two neighbors connected). Triangle and degree
    * counts are exact integers; cc is one divide of exact operands.
    * Nodes need deg ≥ 2. Top-k by (cc DESC, node) — the tie-break
    * matters because cc values are coarse rationals.
    */
  def clusteringCoefficient(edges: DataFrame, srcCol: String,
      dstCol: String, topK: Int = 20): DataFrame = {
    val e = canonicalEdges(edges, srcCol, dstCol)
    val deg = e.select(col("s").as("node"))
      .unionAll(e.select(col("t").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
    // reuse the canonical edge frame — triangleFrame(edges, …) would
    // run the least/greatest + distinct shuffle over the raw edge list
    // a second time (the edgeEmbeddedness pattern)
    val tri = triangleTriples(e)
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
    deg.filter(col("degree") >= 2)
      .join(tri, Seq("node"), "left")
      .withColumn("n_triangles", coalesce(col("n_triangles"), lit(0L)))
      .withColumn("__cc", (lit(2L) * col("n_triangles")).cast("double") /
        (col("degree") * (col("degree") - 1)).cast("double"))
      .orderBy(col("__cc").desc, col("node")) // raw order, round for display
      .limit(topK)
      .select(col("node"), col("degree"), col("n_triangles"),
        round(col("__cc"), 4).as("clustering_coeff"))
  }

  /** Synchronous label propagation (Raghavan 2007, deterministic
    * variant): every node starts labeled with its own id; each round,
    * every node simultaneously adopts the SMALLEST label among the most
    * frequent labels of its neighbors. Fixed `iterations` rounds — the
    * budget-bounded form that fits a declarative plan (asynchronous LPA
    * is order-dependent and unreproducible by construction; the
    * (count DESC, label ASC) tie-break makes every round a pure
    * function of the previous labeling, so engines agree bit-for-bit).
    *
    * Scale: one shuffle per round — edges join the label frame on the
    * endpoint key, then one (node, label) partial-agg; the label frame
    * is eagerly localCheckpoint'd per round (the pageRank lesson:
    * without truncation the analyzed plan grows per iteration).
    * Returns (node, label).
    */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 4,
      targetRowsPerPartition: Long = 2000000L): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    val owner = edges.sparkSession
    val e = canonicalEdges(edges, srcCol, dstCol)
    // Scale-aware shuffle sizing, scoped to a CLONED session (never
    // mutate the caller's conf): at sf10 the co-purchase graph is ~180M
    // sym rows, and the per-round (node, label) hash aggregation at the
    // session default of 32 partitions spilled 190 GB with 500 s of GC;
    // sizing partitions to ~2M rows each keeps every agg map resident.
    //
    // r13: back to COUNT-DERIVED shuffle width (the r11 shape). The r12
    // variant pinned the cloned session to 2048 initial partitions and
    // trusted AQE coalescing down to an advisory size — measured 7.4×
    // SLOWER at 32 cores (driver: 46.4 s vs 6.2 s; 7.5 s at 8 cores):
    // ~17 stages × high initial width × per-stage fixed cost anti-scales
    // with defaultParallelism, and the checkpoint under a cloned-session
    // AQE plan reported UnknownPartitioning, so every round re-shuffled
    // the 2|E| side anyway. Sizing from a counted row total keeps the
    // width proportional to DATA (guide §2.2/§2.5): one cheap count job
    // over the checkpointed canonical edges, partitions ≈ 2|E| / target,
    // floored at the session default and capped at 2048.
    //
    // AQE is OFF for the whole cloned session (the Stage.partitioned
    // rule, applied to EVERY checkpoint in the loop, not just sym): a
    // checkpoint captured under AQE records UnknownPartitioning — the
    // r11/r12 per-round plans re-shuffled AND re-sorted the 2|E| sym
    // side every round, and re-shuffled the label frame too (3 Exchange
    // + 1 Sort per round, audited in plans/r13). With layouts captured,
    // hash(u) on sym and hash(node) on labels satisfy the join, and the
    // single irreducible exchange per round is the (v, label)
    // repartition feeding the count agg (1 Exchange, 0 Sort). AQE loses
    // nothing here: skew-join split needs BOTH join children to be
    // shuffle stages (a checkpoint-scan side disqualifies it), split
    // widths are count-derived already, and coalescing tiny shuffles
    // saves less than re-shuffling 2|E| rows per round costs.
    val cloned = Stage.withoutAqe(owner)
    Stage.using(ColumnBridge.ofRows(cloned, ColumnBridge.analyzed(e))) { eC =>
      val base = cloned.conf.get("spark.sql.shuffle.partitions", "32").toInt
      val nPart = math.max(base, math.min(2048,
        (2L * eC.count() / targetRowsPerPartition + 1).toInt))
      cloned.conf.set("spark.sql.shuffle.partitions", nPart.toString)
      // Pre-partition + sort the symmetric edge list ONCE by the
      // propagation key: the checkpoint captures layout AND ordering, so
      // all remaining join passes skip the exchange and the sort on the
      // 2|E| side — only the (small) label frame moves per round.
      Stage.using(eC.select(col("s").as("u"), col("t").as("v"))
          .unionAll(eC.select(col("t").as("u"), col("s").as("v")))
          .repartition(nPart, col("u"))
          .sortWithinPartitions(col("u"))) { sym =>
        // Round 1 in closed form: with all-distinct initial labels
        // (label(v) = v), every neighbor label count is exactly 1, so the
        // (count DESC, label ASC) rule degenerates to MIN NEIGHBOR — same
        // result as the generic round, without materializing the
        // |E|-distinct (node, label) frame that dominated the sf10 profile
        // (iteration 1 is the cardinality worst case by construction).
        val round1 = sym.groupBy(col("v").as("node"))
          .agg(min(col("u")).as("label"))
          .transform(Stage.scoped(eager = true))
        val (last, _) = Stage.iterate(round1, iterations - 1)({ labels =>
          // Exchange the RAW narrow (v, label) rows by v BEFORE any
          // aggregation (round-10 spill fix): early-round neighbor-label
          // key spaces approach |E|-distinct, so map-side combine built a
          // per-task hash map over up to 240M nearly-unique keys — 107 GB
          // of spill at sf10 for almost no combining. Shuffling the raw
          // 16-byte pairs instead costs one narrow exchange, and BOTH
          // aggregations then run reduce-side on resident ~2M-row
          // partitions with NO further exchange: hash(v) satisfies the
          // (v, label) clustering, and the min-per-node agg reuses the
          // same partitioning (v = node).
          val cnt = sym
            .join(labels.select(col("node").as("u"), col("label")), Seq("u"))
            .select(col("v"), col("label"))
            .repartition(nPart, col("v"))
            .groupBy(col("v").as("node"), col("label"))
            .agg(count(lit(1)).as("__c"))
          Some(cnt.groupBy(col("node"))
            .agg(min(struct((-col("__c")).as("__nc"), col("label").as("__l")))
              .as("__best"))
            .select(col("node"), col("__best.__l").as("label")))
        })
        ColumnBridge.ofRows(owner, ColumnBridge.analyzed(last))
      }
    }
  }

  /** HITS hubs-and-authorities (Kleinberg 1999) over a directed edge
    * set, fixed `iterations` of the mutual-reinforcement pair
    *   h(u) ← Σ_{u→v} a(v),   a(v) ← Σ_{u→v} h(u),
    * each L1-normalized per half-step — the link-analysis complement of
    * [[pageRank]]: pageRank ranks by random-surfer mass, HITS separates
    * CURATOR pages (hubs: point at good content) from CONTENT pages
    * (authorities: pointed at by good curators), the distinction that
    * matters when ranking crawl seeds vs crawl targets.
    *
    * Determinism WITHOUT ordered folds: scores are canonicalized to 6dp
    * doubles after every normalization, so each propagation sum runs as
    * an exact DECIMAL(18,6) aggregation (order-free — simpler than the
    * pageRank source-ordered-fold discipline, at the price of 6dp
    * quantization per half-step, identical on both engines by
    * construction). The INTERNAL normalization is to MEAN 1 (score =
    * raw·n/Σraw), not L1: a mean-1 score is O(1) at ANY node count, so
    * the 6dp snap stays benign at 10⁶⁺ nodes where L1-normalized
    * scores (O(1/n)) would quantize to 0 and silently destroy signal;
    * if a half-step total still rounds to 0 (pathological skew) the
    * step emits exact 0s instead of a NaN divide. The RETURNED hub /
    * authority are L1-normalized (one final ÷n per column — a single
    * double op, no re-quantization). Nodes with no in/out edges carry
    * raw 0 and stay in the frame. Returns (node, hub, authority).
    *
    * Scale: two (edge ⋈ score) shuffles + two partial-aggs per
    * iteration on narrow (node, score) rows; each round's
    * (node, hub, auth) frame is one [[Stage.iterate]] round (the
    * pageRank plan-growth lesson). For |E| ≫ 10⁷ apply
    * [[labelPropagation]]'s scoped-session shuffle sizing +
    * pre-partitioned edge checkpoint — the iteration shape is identical.
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 6): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    Stage.using(edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
        .filter(col("u").isNotNull && col("v").isNotNull).distinct()) { e =>
      Stage.using(e.select(col("u").as("node"))
          .unionAll(e.select(col("v").as("node"))).distinct()) { nodes =>
        val nD = lit(nodes.count().toDouble)
        // `base` plus `to`: the raw per-node sum of base's `from` score
        // over edges, MEAN-1-normalized (×n/Σ — scale-invariant under
        // 6dp quantization) and 6dp-canonicalized, so scores stay exact
        // DECIMAL-summable doubles
        def halfStep(base: DataFrame, from: String, to: String,
            edgeKey: String, sumKey: String): DataFrame = {
          val raw = e
            .join(base.select(col("node").as(edgeKey), col(from).as("s")),
              Seq(edgeKey))
            .groupBy(col(sumKey).as("node"))
            .agg(sum(col("s").cast("decimal(18,6)")).cast("decimal(18,6)")
              .as("__raw"))
          val total = raw.agg(sum(col("__raw")).cast("decimal(38,6)").as("__t"))
          base.join(raw, Seq("node"), "left")
            .crossJoin(broadcast(total))
            .select(base.columns.map(col) :+
              when(col("__t") > 0,
                round(coalesce(col("__raw"), lit(0).cast("decimal(18,6)"))
                  .cast("double") * nD / col("__t").cast("double"), 6))
                .otherwise(lit(0.0)).as(to): _*)
        }
        // a round is one (node, hub, auth) frame; round 1 reads only auth
        val init = nodes.select(col("node"), lit(1.0).as("auth"))
        val (scores, _) = Stage.iterate(init, iterations)({ prev =>
          // h(u) = Σ a(v) over u→v, then a(v) = Σ h(u) over u→v
          val hub = halfStep(prev.select(col("node"), col("auth")),
            "auth", "hub", "v", "u").select(col("node"), col("hub"))
          Some(halfStep(hub, "hub", "auth", "u", "v"))
        })
        scores.select(col("node"), (col("hub") / nD).as("hub"),
          (col("auth") / nD).as("authority"))
      }
    }
  }

  /** Newman modularity of a given node partition over an undirected
    * graph:  Q = Σ_c [ e_c/m − (d_c/(2m))² ]  with e_c the
    * intra-community edge count, d_c the community's degree sum and m
    * the total (canonical) edge count — the single number that says
    * whether a community assignment (LPA, CC, an external clustering)
    * beats the degree-preserving random baseline. e_c/d_c/m are exact
    * BIGINTs from two partial-agg passes; each community's term is a
    * fixed-order double rounded 6dp before the DECIMAL fold. Nodes
    * missing from `communities` drop with their edges (documented;
    * callers pass a total assignment). One summary row.
    */
  def modularity(edges: DataFrame, srcCol: String, dstCol: String,
      communities: DataFrame, nodeCol: String,
      communityCol: String): DataFrame = {
    val e = canonicalEdges(edges, srcCol, dstCol).transform(Stage.scoped(eager = true))
    val com = communities.select(col(nodeCol).as("__n"),
      col(communityCol).as("__cm"))
    val tagged = e
      .join(com.select(col("__n").as("s"), col("__cm").as("__cs")), Seq("s"))
      .join(com.select(col("__n").as("t"), col("__cm").as("__ct")), Seq("t"))
    val m = tagged.agg(count(lit(1)).as("__m"))
    val ec = tagged.filter(col("__cs") === col("__ct"))
      .groupBy(col("__cs").as("__cm")).agg(count(lit(1)).as("__ec"))
    val dc = tagged.select(col("__cs").as("__cm"))
      .unionAll(tagged.select(col("__ct").as("__cm")))
      .groupBy(col("__cm")).agg(count(lit(1)).as("__dc"))
    val half = col("__dc").cast("double") /
      (lit(2L) * col("__m")).cast("double")
    val term = coalesce(col("__ec"), lit(0L)).cast("double") /
      col("__m").cast("double") - half * half
    dc.join(ec, Seq("__cm"), "left")
      .crossJoin(broadcast(m))
      .select(round(term, 6).cast("decimal(18,6)").as("__t"), col("__m"))
      .agg(count(lit(1)).as("n_communities"),
        first(col("__m")).as("m_edges"),
        round(sum(col("__t")).cast("decimal(38,6)").cast("double"), 4)
          .as("modularity"))
  }
}
