package graft
package queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import Shared._

/** Graph analytics ([[graft.operators.Graph]]): components, PageRank variants,
  * HITS, label propagation, k-core and structural statistics.
  */
object GraphQueries {

  /** Unrolled k-core peel rounds (q258): each round keeps only edges
    * whose BOTH endpoints have degree ≥ k in the previous round's edge
    * set. Rounds past the fixpoint are no-ops (the peel is idempotent),
    * so the unroll count only needs to be ≥ the true peel depth.
    */
  private def kcorePeelSql(base: String, rounds: Int, k: Int): String =
    (1 to rounds).map { i =>
      val prev = if (i == 1) base else s"ke${i - 1}"
      // MATERIALIZED is load-bearing: each round references the previous
      // one four times, and DuckDB's default CTE inlining would expand
      // the chain 4^rounds-fold (observed as an fd explosion re-opening
      // the parquet leaf)
      s"""kd$i AS MATERIALIZED (SELECT node FROM
         |    (SELECT s AS node FROM $prev UNION ALL SELECT t AS node FROM $prev)
         |    GROUP BY node HAVING count(*) >= $k),
         |ke$i AS MATERIALIZED (SELECT s, t FROM $prev
         |  WHERE s IN (SELECT node FROM kd$i)
         |    AND t IN (SELECT node FROM kd$i))""".stripMargin
    }.mkString(",\n")

  /** Unrolled synchronous LPA rounds (q329/q330) over the co-purchase
    * part graph: each round is a neighbor-label count plus the
    * deterministic (count DESC, label ASC) adoption — the CTE chain is
    * linear (each round reads only the previous labeling), sym is
    * MATERIALIZED because every round scans it (the round-9 oracle-
    * budget lesson: DuckDB inlines per reference).
    */
  private def lpaOracleSql(iterations: Int): String = {
    val its = (1 to iterations).map { i =>
      s"""c$i AS (SELECT sym.v AS node, l.label, count(*)::BIGINT AS c
         |  FROM sym JOIN l${i - 1} l ON l.node = sym.u GROUP BY 1, 2),
         |l$i AS (SELECT node, label FROM (SELECT node, label,
         |    row_number() OVER (PARTITION BY node
         |      ORDER BY c DESC, label) AS rn FROM c$i) WHERE rn = 1)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
       |  FROM lineitem),
       |ed AS MATERIALIZED (SELECT DISTINCT a.p AS s, b.p AS t FROM op a
       |  JOIN op b ON a.o = b.o AND a.p < b.p),
       |sym AS MATERIALIZED (SELECT s AS u, t AS v FROM ed
       |  UNION ALL SELECT t, s FROM ed),
       |l0 AS (SELECT DISTINCT u AS node, u AS label FROM sym),
       |$its""".stripMargin
  }

  /** Unrolled HITS iterations (q331): each half-step is an exact
    * DECIMAL(18,6) propagation sum over 6dp-canonicalized scores plus
    * one L1-normalizing divide — order-free, so no ordered folds.
    * Every per-iteration CTE is MATERIALIZED (h_i is referenced by both
    * ar_i and the final join — unmaterialized, the expansion doubles
    * per round; the round-9 oracle-budget lesson).
    */
  private def hitsOracleSql(iterations: Int): String = {
    val its = (1 to iterations).map { i =>
      s"""hr$i AS MATERIALIZED (SELECT e.u AS node,
         |    CAST(SUM(CAST(a.s AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS raw
         |  FROM e JOIN a${i - 1} a ON a.node = e.v GROUP BY 1),
         |ht$i AS (SELECT CAST(SUM(raw) AS DECIMAL(38,6)) AS t FROM hr$i),
         |h$i AS MATERIALIZED (SELECT n.node,
         |    CASE WHEN t.t > 0 THEN
         |      round(coalesce(raw, 0::DECIMAL(18,6))::DOUBLE * nc.n::DOUBLE
         |        / t.t::DOUBLE, 6) ELSE 0.0::DOUBLE END AS s
         |  FROM nodes n LEFT JOIN hr$i USING (node)
         |  CROSS JOIN ht$i t CROSS JOIN nc),
         |ar$i AS MATERIALIZED (SELECT e.v AS node,
         |    CAST(SUM(CAST(h.s AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS raw
         |  FROM e JOIN h$i h ON h.node = e.u GROUP BY 1),
         |at$i AS (SELECT CAST(SUM(raw) AS DECIMAL(38,6)) AS t FROM ar$i),
         |a$i AS MATERIALIZED (SELECT n.node,
         |    CASE WHEN t.t > 0 THEN
         |      round(coalesce(raw, 0::DECIMAL(18,6))::DOUBLE * nc.n::DOUBLE
         |        / t.t::DOUBLE, 6) ELSE 0.0::DOUBLE END AS s
         |  FROM nodes n LEFT JOIN ar$i USING (node)
         |  CROSS JOIN at$i t CROSS JOIN nc)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED (SELECT DISTINCT doc_id % 50 AS u,
       |    n_chars % 50 AS v
       |  FROM documents
       |  WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL),
       |nodes AS MATERIALIZED (SELECT u AS node FROM e
       |  UNION SELECT v FROM e),
       |nc AS (SELECT count(*)::BIGINT AS n FROM nodes),
       |a0 AS (SELECT node, 1.0::DOUBLE AS s FROM nodes),
       |$its
       |SELECT h.node, h.s / nc.n::DOUBLE AS hub,
       |  a.s / nc.n::DOUBLE AS authority
       |FROM h$iterations h JOIN a$iterations a USING (node)
       |CROSS JOIN nc""".stripMargin
  }

  /** q155 PageRank replayed: same distinct edge set, exact N/out-degrees,
    * per-iteration contribution folds in source-vertex order, constants
    * recomputed with the identical IEEE ops — with explicit ::DOUBLE on
    * the literals: DuckDB otherwise evaluates `1.0 - 0.85` in DECIMAL
    * (exactly 0.15), one ulp off the JVM's double subtraction
    * (0.15000000000000002), which shifted node ranks in the last ulp
    * (measured; the q118-class pitfall, decimal-literal edition). Raw
    * doubles then equal bit-for-bit, no rounding.
    */
  private def pageRankOracleSql(iterations: Int, damping: Double): String = {
    val its = (1 to iterations).map { i =>
      s"""s$i AS (SELECT e.v, list_reduce(list_prepend(0.0,
         |    list(p.pr / o.outd ORDER BY e.u)), (a, b) -> a + b) AS s
         |  FROM e JOIN pr${i - 1} p ON p.node = e.u JOIN od o ON o.u = e.u
         |  GROUP BY e.v),
         |pr$i AS (SELECT n.node,
         |    (1.0::DOUBLE - $damping::DOUBLE) / t.n
         |      + $damping::DOUBLE * coalesce(s.s, 0.0) AS pr
         |  FROM nodes n CROSS JOIN tot t LEFT JOIN s$i s ON s.v = n.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT DISTINCT doc_id % 50 AS u, n_chars % 50 AS v
       |  FROM documents),
       |nodes AS (SELECT u AS node FROM e UNION SELECT v FROM e),
       |tot AS (SELECT count(*)::BIGINT AS n FROM nodes),
       |od AS (SELECT u, count(*) AS outd FROM e GROUP BY u),
       |pr0 AS (SELECT node, 1.0::DOUBLE / t.n AS pr FROM nodes CROSS JOIN tot t),
       |$its
       |SELECT node, pr FROM pr$iterations""".stripMargin
  }

  /** [[pageRankOracleSql]] over the multiplicity-weighted edge set:
    * per-edge contribution (pr·w)/W(u) — one multiply, one divide, the
    * exact op order [[graft.operators.Graph.pageRankWeighted]] uses.
    */
  private def weightedPageRankOracleSql(iterations: Int,
      damping: Double): String = {
    val its = (1 to iterations).map { i =>
      s"""s$i AS (SELECT e.v, list_reduce(list_prepend(0.0,
         |    list(p.pr * e.w / o.outw ORDER BY e.u)), (a, b) -> a + b) AS s
         |  FROM e JOIN pr${i - 1} p ON p.node = e.u JOIN ow o ON o.u = e.u
         |  GROUP BY e.v),
         |pr$i AS (SELECT n.node,
         |    (1.0::DOUBLE - $damping::DOUBLE) / t.n
         |      + $damping::DOUBLE * coalesce(s.s, 0.0) AS pr
         |  FROM nodes n CROSS JOIN tot t LEFT JOIN s$i s ON s.v = n.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT doc_id % 50 AS u, n_chars % 50 AS v,
       |    count(*)::BIGINT AS w
       |  FROM documents GROUP BY 1, 2),
       |nodes AS (SELECT u AS node FROM e UNION SELECT v FROM e),
       |tot AS (SELECT count(*)::BIGINT AS n FROM nodes),
       |ow AS (SELECT u, sum(w)::BIGINT AS outw FROM e GROUP BY u),
       |pr0 AS (SELECT node, 1.0::DOUBLE / t.n AS pr
       |  FROM nodes CROSS JOIN tot t),
       |$its
       |SELECT node, pr FROM pr$iterations""".stripMargin
  }

  /** [[pageRankOracleSql]] with the teleport vector pinned to the seed
    * set (node ≡ 0 mod 7): r(v) = 1/|S| on seeds else 0, pr0 = r,
    * pr_i = (1−d)·r + d·Σ. Identical IEEE op sequence to
    * [[graft.operators.Graph.personalizedPageRank]] — same source-
    * ordered contribution folds, same constant forms — so raw doubles
    * compare equal through every iteration.
    */
  private def pprOracleSql(iterations: Int, damping: Double): String = {
    val its = (1 to iterations).map { i =>
      s"""s$i AS (SELECT e.v, list_reduce(list_prepend(0.0,
         |    list(p.pr / o.outd ORDER BY e.u)), (a, b) -> a + b) AS s
         |  FROM e JOIN pr${i - 1} p ON p.node = e.u JOIN od o ON o.u = e.u
         |  GROUP BY e.v),
         |pr$i AS (SELECT r.node,
         |    (1.0::DOUBLE - $damping::DOUBLE) * r.r
         |      + $damping::DOUBLE * coalesce(s.s, 0.0) AS pr
         |  FROM r LEFT JOIN s$i s ON s.v = r.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT DISTINCT doc_id % 50 AS u, n_chars % 50 AS v
       |  FROM documents),
       |nodes AS (SELECT u AS node FROM e UNION SELECT v FROM e),
       |st AS (SELECT count(*)::BIGINT AS s FROM nodes WHERE node % 7 = 0),
       |r AS (SELECT n.node, CASE WHEN n.node % 7 = 0
       |    THEN 1.0::DOUBLE / t.s ELSE 0.0::DOUBLE END AS r
       |  FROM nodes n CROSS JOIN st t),
       |od AS (SELECT u, count(*) AS outd FROM e GROUP BY u),
       |pr0 AS (SELECT node, r AS pr FROM r),
       |$its
       |SELECT node, pr FROM pr$iterations""".stripMargin
  }

  val all: Seq[Query] = Seq(
    // Personalized PageRank: teleport mass pinned to a seed set (node
    // ≡ 0 mod 7 of the q155 doc graph) — "importance relative to the
    // trusted list", the link-trust curation signal. Same bit-exact
    // determinism contract as q155/q395 (source-ordered contribution
    // folds; raw doubles compare equal through all 10 iterations).
    Query("q397_ppr", (s, d) => {
      val edges = t(s, d, "documents")
        .select((col("doc_id") % 50).as("u"), (col("n_chars") % 50).as("v"))
      val seeds = edges.select(col("u").as("node"))
        .union(edges.select(col("v").as("node")))
        .filter(col("node") % 7 === 0)
      graft.operators.Graph.personalizedPageRank(
        edges, "u", "v", seeds, "node")
    },
      // Personalized PageRank: q155's unrolled-iteration replay with the
      // teleport vector pinned to the seed set (node ≡ 0 mod 7) — pr0 = r,
      // per-iteration (1−d)·r(v) + d·Σ, raw doubles compare equal
      pprOracleSql(iterations = 10, damping = 0.85)),

    // Weighted PageRank: same doc graph, edge weight = raw (u, v)
    // multiplicity — a source's rank distributes ∝ link count instead
    // of uniformly, the form host-graph frontier scoring wants
    Query("q403_weighted_pagerank", (s, d) => {
      val edges = t(s, d, "documents")
        .select((col("doc_id") % 50).as("u"), (col("n_chars") % 50).as("v"))
        .groupBy(col("u"), col("v")).agg(count(lit(1)).as("w"))
      graft.operators.Graph.pageRankWeighted(edges, "u", "v", "w")
    },
      // Weighted PageRank replay: multiplicity-weighted edges, per-edge
      // (pr·w)/W(u) contributions, source-ordered folds
      weightedPageRankOracleSql(iterations = 10, damping = 0.85)),

    // Connected components (pointer-jumping min-label propagation) over a
    // chain graph built from the natural n_chars distribution — chains up
    // to ~14 links, so convergence needs the O(log d) jump, not just
    // 1-hop propagation. Exact oracle: recursive reachability closure.
    Query("q132_connected_components", (s, d) => {
      val edges = t(s, d, "documents")
        .select(col("n_chars").cast("long").as("u"),
          (col("n_chars") + 1).cast("long").as("v"))
      graft.operators.Graph.connectedComponents(edges, "u", "v")
    },
      // exact transitive closure: component = min reachable vertex
      """WITH RECURSIVE base AS (
        |  SELECT DISTINCT n_chars::BIGINT AS u, n_chars::BIGINT + 1 AS v
        |  FROM documents),
        |e AS (SELECT u, v FROM base UNION SELECT v AS u, u AS v FROM base),
        |verts AS (SELECT u AS x FROM e UNION SELECT v FROM e),
        |reach(a, b) AS (SELECT x, x FROM verts
        |  UNION SELECT r.a, e.v FROM reach r JOIN e ON r.b = e.u)
        |SELECT a AS vertex, min(b) AS component FROM reach GROUP BY a""".stripMargin),

    // k-core decomposition over a deterministic hash graph (1251 nodes,
    // double-xxhash64 endpoints per event — nonlinear, so no
    // permutation-cycle degeneracy): iterative bulk peel until every
    // surviving node has core-degree >= 9. Sized so the driver SFs
    // exercise all three regimes: total collapse (sf0.001), a partial
    // multi-round peel with a surviving 1217-node core (sf0.01), and a
    // dense untouched core (sf0.1). Oracle unrolls idempotent rounds.
    Query("q258_kcore", (s, d) => {
      val ev = Tables.events(s, d).select(
        pmod(xxhash64(col("event_id")), lit(1251L)).as("u"),
        pmod(xxhash64(xxhash64(col("event_id"))), lit(1251L)).as("v"))
      graft.operators.Graph.kCore(ev, "u", "v", k = 9)
    },
      // k-core replay: the same double-xxhash64 endpoints (xxh64Chain
      // twice), canonical s<t dedup, then 16 unrolled idempotent peel
      // rounds — ≥ the measured fixpoint depth at every driver SF
      s"""WITH ${xxh64Chain("xa", "events", "event_id", Seq("event_id"))},
         |m1 AS (SELECT event_id, hs AS g1 FROM xa),
         |${xxh64Chain("xb", "m1",
            "g1 + CASE WHEN g1 < 0 THEN 18446744073709551616 ELSE 0 END",
            Seq("event_id", "g1"))},
         |uv AS (SELECT ((g1 % 1251) + 1251) % 1251 AS u,
         |    ((hs % 1251) + 1251) % 1251 AS v FROM xb),
         |ke0 AS MATERIALIZED (SELECT DISTINCT least(u, v) AS s,
         |    greatest(u, v) AS t
         |  FROM uv WHERE u <> v),
         |${kcorePeelSql("ke0", 16, 9)}
         |SELECT node, count(*)::BIGINT AS degree FROM
         |  (SELECT s AS node FROM ke16 UNION ALL SELECT t AS node FROM ke16)
         |GROUP BY node""".stripMargin),

    // Degree power-law MLE over the co-purchase part graph — the
    // scale-free diagnostic (hub-tail heaviness) behind the join-
    // strategy choice; histogram-ordered ln folds, 4dp
    Query("q279_degree_powerlaw", (s, d) => {
      val op = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .distinct()
      val edges = op.join(op.withColumnRenamed("p", "p2"), Seq("o"))
        .filter(col("p") < col("p2"))
        .select(col("p").as("src"), col("p2").as("dst"))
      graft.operators.Graph.degreePowerLaw(edges, "src", "dst", dMin = 2L)
    },
      // Power-law replay: q231's edge set, exact degree histogram, the
      // same ascending-d c·ln(d/dmin) fold
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |  FROM lineitem),
        |e AS (SELECT DISTINCT a.p AS s, b.p AS t FROM op a
        |  JOIN op b ON a.o = b.o AND a.p < b.p),
        |deg AS (SELECT n, count(*)::BIGINT AS d FROM
        |  (SELECT s AS n FROM e UNION ALL SELECT t AS n FROM e)
        |  GROUP BY n),
        |h AS (SELECT d, count(*)::BIGINT AS c FROM deg WHERE d >= 2
        |  GROUP BY d),
        |su AS (SELECT coalesce(CAST(sum(c) AS BIGINT), 0) AS n_nodes,
        |    max(d)::BIGINT AS d_max,
        |    list_reduce(list_prepend(0.0,
        |      list(c::DOUBLE * ln(d::DOUBLE / 2.0) ORDER BY d)),
        |      (a, b) -> a + b) AS s
        |  FROM h)
        |SELECT n_nodes, 2::BIGINT AS d_min, d_max,
        |  CASE WHEN s > 0
        |    THEN round(1.0 + n_nodes::DOUBLE / s, 4) END AS alpha
        |FROM su""".stripMargin),

    // Edge embeddedness over the co-purchase graph: per-edge triangle
    // support + neighborhood Jaccard — weak ties vs community ties, the
    // graph-curation companion of q231/q233
    Query("q290_edge_embeddedness", (s, d) => {
      val op = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .distinct()
      val edges = op.join(op.withColumnRenamed("p", "p2"), Seq("o"))
        .filter(col("p") < col("p2"))
        .select(col("p").as("src"), col("p2").as("dst"))
      graft.operators.Graph.edgeEmbeddedness(edges, "src", "dst")
    },
      // Embeddedness replay: q231's a<b<c triple chain exploded to its
      // three canonical edges, integer support/degrees, one divide, the
      // (rounded DESC, u, v) total order
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |  FROM lineitem),
        |e AS (SELECT DISTINCT a.p AS s, b.p AS t FROM op a
        |  JOIN op b ON a.o = b.o AND a.p < b.p),
        |deg AS (SELECT n, count(*)::BIGINT AS d FROM
        |  (SELECT s AS n FROM e UNION ALL SELECT t AS n FROM e)
        |  GROUP BY n),
        |tri AS (SELECT e1.s AS a, e1.t AS b, e2.t AS c
        |  FROM e e1 JOIN e e2 ON e2.s = e1.t
        |  JOIN e e3 ON e3.s = e1.s AND e3.t = e2.t),
        |sp AS (SELECT s, t, count(*)::BIGINT AS supp FROM (
        |  SELECT a AS s, b AS t FROM tri
        |  UNION ALL SELECT a AS s, c AS t FROM tri
        |  UNION ALL SELECT b AS s, c AS t FROM tri) GROUP BY s, t),
        |j AS (SELECT e.s, e.t, coalesce(sp.supp, 0)::BIGINT AS support,
        |    da.d AS du, db.d AS dv
        |  FROM e LEFT JOIN sp ON sp.s = e.s AND sp.t = e.t
        |  JOIN deg da ON da.n = e.s JOIN deg db ON db.n = e.t)
        |SELECT s AS u, t AS v, support, du, dv,
        |  CASE WHEN du + dv - 2 - support > 0 THEN
        |    round(support::DOUBLE / (du + dv - 2 - support)::DOUBLE, 4)
        |  END AS embeddedness
        |FROM j
        |ORDER BY embeddedness DESC, u, v LIMIT 20""".stripMargin),

    // Synchronous label propagation (4 deterministic rounds, smallest-
    // most-frequent-neighbor-label rule) over the co-purchase part
    // graph — budget-bounded community detection as a declarative plan
    Query("q329_label_prop", (s, d) => {
      // r12 (guide §2.4): repartition the raw (o, p) rows by o ONCE —
      // hash(o) satisfies the (o, p) dedup's clustering AND the self-
      // join's, so the distinct runs in place and the join needs no
      // exchange at all (was: dedup exchange on (o, p) + a second full
      // exchange of the deduped frame by o for the join).
      val op = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .repartition(col("o"))
        .distinct()
      val edges = op.join(op.withColumnRenamed("p", "p2"), Seq("o"))
        .filter(col("p") < col("p2"))
        .select(col("p").as("src"), col("p2").as("dst"))
      graft.operators.Graph.labelPropagation(edges, "src", "dst",
          iterations = 4)
        .withColumnRenamed("node", "part")
    },
      // LPA replay: 4 unrolled synchronous rounds, identical
      // (count DESC, label ASC) adoption rule on exact integers
      (lpaOracleSql(4) +
      "\nSELECT node AS part, label FROM l4")),

    // Newman modularity of that LPA partition: does the detected
    // community structure beat the degree-preserving random baseline?
    // Exact e_c/d_c/m BIGINTs, per-community terms 6dp-DECIMAL folded
    Query("q330_modularity", (s, d) => {
      val op = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .repartition(col("o")) // q329's one-exchange dedup+self-join shape
        .distinct()
      val edges = op.join(op.withColumnRenamed("p", "p2"), Seq("o"))
        .filter(col("p") < col("p2"))
        .select(col("p").as("src"), col("p2").as("dst"))
      val communities = graft.operators.Graph.labelPropagation(
        edges, "src", "dst", iterations = 4)
      graft.operators.Graph.modularity(edges, "src", "dst",
        communities, "node", "label")
    },
      // Modularity replay: same LPA partition, exact e_c/d_c/m BIGINTs,
      // the engine's exact term order, 6dp-DECIMAL fold
      (lpaOracleSql(4) +
      """,
        |tg AS (SELECT e.s, e.t, ls.label AS cs, lt.label AS ct
        |  FROM ed e JOIN l4 ls ON ls.node = e.s
        |  JOIN l4 lt ON lt.node = e.t),
        |mm AS (SELECT count(*)::BIGINT AS m FROM tg),
        |ecc AS (SELECT cs AS cm, count(*)::BIGINT AS ec FROM tg
        |  WHERE cs = ct GROUP BY 1),
        |dcc AS (SELECT cm, count(*)::BIGINT AS dc FROM
        |  (SELECT cs AS cm FROM tg UNION ALL SELECT ct FROM tg)
        |  GROUP BY 1),
        |terms AS (SELECT round(coalesce(ec, 0)::DOUBLE / m::DOUBLE
        |    - (dc::DOUBLE / (2 * m)::DOUBLE)
        |      * (dc::DOUBLE / (2 * m)::DOUBLE), 6)::DECIMAL(18,6) AS t,
        |    m
        |  FROM dcc LEFT JOIN ecc USING (cm) CROSS JOIN mm)
        |SELECT count(*)::BIGINT AS n_communities,
        |  any_value(m) AS m_edges,
        |  round(CAST(SUM(t) AS DECIMAL(38,6))::DOUBLE, 4) AS modularity
        |FROM terms""".stripMargin)),

    // HITS hubs & authorities (6 fixed iterations) over q155's
    // doc_id%50 → n_chars%50 directed graph — link analysis that
    // separates curator nodes from content nodes; 6dp-canonicalized
    // scores make every propagation an exact DECIMAL sum (order-free)
    Query("q331_hits", (s, d) => {
      val edges = t(s, d, "documents")
        .select((col("doc_id") % 50).as("u"), (col("n_chars") % 50).as("v"))
      graft.operators.Graph.hits(edges, "u", "v", iterations = 6)
    },
      // HITS replay: 6 unrolled mutual-reinforcement rounds, identical
      // DECIMAL propagation sums and normalizing divides
      hitsOracleSql(6)),

    // PageRank over the EXTRACTED host link graph — the crawl-seed
    // ranking composition: q382's anchor resolution → q383's host
    // edges → numeric host ids → the ordered-fold pageRank kernel →
    // ranks mapped back to host names. Self-edges (in-host links)
    // participate as the fixture produces them.
    Query("q395_host_pagerank", (s, d) => {
      val u = graft.operators.UrlOps
      val links = u.extractLinks(linkPageFixture(t(s, d, "documents")),
        "doc_id", "page_url", "page_html")
      val hg = u.hostGraph(links, "url", "target")
      def hid(h: Column): Column =
        when(h.startsWith("h"),
          regexp_extract(h, "^h([0-9]+)", 1).cast("long"))
          .when(h.startsWith("ex"),
            regexp_extract(h, "^ex([0-9]+)", 1).cast("long") + 100)
          .otherwise(regexp_extract(h, "^cdn([0-9]+)", 1).cast("long") + 200)
      graft.operators.Graph.pageRank(
        hg.select(hid(col("src_host")).as("u"), hid(col("dst_host")).as("v")),
        "u", "v")
        .select(
          when(col("node") < 100,
            concat(lit("h"), col("node"), lit(".test")))
            .when(col("node") < 200,
              concat(lit("ex"), col("node") - 100, lit(".org")))
            .otherwise(concat(lit("cdn"), col("node") - 200, lit(".test")))
            .as("host"),
          col("pr"))
    },
      // Host-pagerank replay: the arms' distinct host edges in closed
      // numeric form (ex arm always, cdn arm on even docs, the three
      // self arms collapsing to one self-edge), then the identical
      // source-ordered-fold iteration chain as q155, ranks mapped back
      // to host names
      {
      val its = (1 to 10).map { i =>
        s"""s$i AS (SELECT e.v, list_reduce(list_prepend(0.0,
           |    list(p.pr / o.outd ORDER BY e.u)), (a, b) -> a + b) AS s
           |  FROM e JOIN pr${i - 1} p ON p.node = e.u JOIN od o ON o.u = e.u
           |  GROUP BY e.v),
           |pr$i AS (SELECT n.node,
           |    (1.0::DOUBLE - 0.85::DOUBLE) / t.n
           |      + 0.85::DOUBLE * coalesce(s.s, 0.0) AS pr
           |  FROM nodes n CROSS JOIN tot t LEFT JOIN s$i s ON s.v = n.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH dk AS (SELECT doc_id FROM documents WHERE doc_id >= 0),
         |e AS (
         |  SELECT DISTINCT doc_id % 5 AS u, 100 + doc_id % 4 AS v FROM dk
         |  UNION
         |  SELECT DISTINCT doc_id % 5, 200 + doc_id % 3 FROM dk
         |    WHERE doc_id % 2 = 0
         |  UNION
         |  SELECT DISTINCT doc_id % 5, doc_id % 5 FROM dk),
         |nodes AS (SELECT u AS node FROM e UNION SELECT v FROM e),
         |tot AS (SELECT count(*)::BIGINT AS n FROM nodes),
         |od AS (SELECT u, count(*) AS outd FROM e GROUP BY u),
         |pr0 AS (SELECT node, 1.0::DOUBLE / t.n AS pr
         |  FROM nodes CROSS JOIN tot t),
         |$its
         |SELECT CASE WHEN node < 100 THEN 'h' || node || '.test'
         |  WHEN node < 200 THEN 'ex' || (node - 100) || '.org'
         |  ELSE 'cdn' || (node - 200) || '.test' END AS host, pr
         |FROM pr10""".stripMargin
    }),

    // Personalized PageRank over the same crawl host graph, teleport
    // pinned to a trusted-host seed list (h0.test, ex0.org) — the
    // link-trust curation score ("authority relative to hosts we
    // vetted"), where q395's global rank would surface any well-linked
    // hub. Same hid mapping, same bit-exact contract.
    Query("q401_host_ppr", (s, d) => {
      import s.implicits._
      val u = graft.operators.UrlOps
      val links = u.extractLinks(linkPageFixture(t(s, d, "documents")),
        "doc_id", "page_url", "page_html")
      val hg = u.hostGraph(links, "url", "target")
      def hid(h: Column): Column =
        when(h.startsWith("h"),
          regexp_extract(h, "^h([0-9]+)", 1).cast("long"))
          .when(h.startsWith("ex"),
            regexp_extract(h, "^ex([0-9]+)", 1).cast("long") + 100)
          .otherwise(regexp_extract(h, "^cdn([0-9]+)", 1).cast("long") + 200)
      graft.operators.Graph.personalizedPageRank(
        hg.select(hid(col("src_host")).as("u"), hid(col("dst_host")).as("v")),
        "u", "v", Seq(0L, 100L).toDF("node"), "node")
        .select(
          when(col("node") < 100,
            concat(lit("h"), col("node"), lit(".test")))
            .when(col("node") < 200,
              concat(lit("ex"), col("node") - 100, lit(".org")))
            .otherwise(concat(lit("cdn"), col("node") - 200, lit(".test")))
            .as("host"),
          col("pr"))
    },
      // Host-graph PPR replay: q395's analytic edge set, teleport vector
      // pinned to {h0.test, ex0.org} (ids 0, 100), pr0 = r
      {
      val its = (1 to 10).map { i =>
        s"""s$i AS (SELECT e.v, list_reduce(list_prepend(0.0,
           |    list(p.pr / o.outd ORDER BY e.u)), (a, b) -> a + b) AS s
           |  FROM e JOIN pr${i - 1} p ON p.node = e.u JOIN od o ON o.u = e.u
           |  GROUP BY e.v),
           |pr$i AS (SELECT r.node,
           |    (1.0::DOUBLE - 0.85::DOUBLE) * r.r
           |      + 0.85::DOUBLE * coalesce(s.s, 0.0) AS pr
           |  FROM r LEFT JOIN s$i s ON s.v = r.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH dk AS (SELECT doc_id FROM documents WHERE doc_id >= 0),
         |e AS (
         |  SELECT DISTINCT doc_id % 5 AS u, 100 + doc_id % 4 AS v FROM dk
         |  UNION
         |  SELECT DISTINCT doc_id % 5, 200 + doc_id % 3 FROM dk
         |    WHERE doc_id % 2 = 0
         |  UNION
         |  SELECT DISTINCT doc_id % 5, doc_id % 5 FROM dk),
         |nodes AS (SELECT u AS node FROM e UNION SELECT v FROM e),
         |st AS (SELECT count(*)::BIGINT AS s FROM nodes
         |  WHERE node IN (0, 100)),
         |r AS (SELECT n.node, CASE WHEN n.node IN (0, 100)
         |    THEN 1.0::DOUBLE / t.s ELSE 0.0::DOUBLE END AS r
         |  FROM nodes n CROSS JOIN st t),
         |od AS (SELECT u, count(*) AS outd FROM e GROUP BY u),
         |pr0 AS (SELECT node, r AS pr FROM r),
         |$its
         |SELECT CASE WHEN node < 100 THEN 'h' || node || '.test'
         |  WHEN node < 200 THEN 'ex' || (node - 100) || '.org'
         |  ELSE 'cdn' || (node - 200) || '.test' END AS host, pr
         |FROM pr10""".stripMargin
    }),

    // Degree assortativity of the co-purchase part graph: exact integer
    // moments, four double ops — hubs-to-hubs vs hubs-to-leaves in one
    // number (the skew-join early warning)
    Query("q286_assortativity", (s, d) => {
      val op = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .distinct()
      val edges = op.join(op.withColumnRenamed("p", "p2"), Seq("o"))
        .filter(col("p") < col("p2"))
        .select(col("p").as("src"), col("p2").as("dst"))
      graft.operators.Graph.degreeAssortativity(edges, "src", "dst")
    },
      // Assortativity replay: exact HUGEINT moments, the same four double
      // operations in the same order
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |  FROM lineitem),
        |e AS (SELECT DISTINCT a.p AS s, b.p AS t FROM op a
        |  JOIN op b ON a.o = b.o AND a.p < b.p),
        |deg AS (SELECT n, count(*)::BIGINT AS d FROM
        |  (SELECT s AS n FROM e UNION ALL SELECT t AS n FROM e)
        |  GROUP BY n),
        |ed AS (SELECT da.d AS ds, db.d AS dt FROM e
        |  JOIN deg da ON da.n = e.s JOIN deg db ON db.n = e.t),
        |su AS (SELECT count(*)::BIGINT AS n_edges,
        |    sum(ds * dt)::HUGEINT AS sjk,
        |    sum(ds + dt)::HUGEINT AS ssum,
        |    sum(ds * ds + dt * dt)::HUGEINT AS ssq
        |  FROM ed)
        |SELECT n_edges,
        |  CASE WHEN (ssq::DOUBLE / (2.0 * n_edges::DOUBLE)
        |      - (ssum::DOUBLE / (2.0 * n_edges::DOUBLE))
        |        * (ssum::DOUBLE / (2.0 * n_edges::DOUBLE))) <> 0 THEN
        |    round((sjk::DOUBLE / n_edges::DOUBLE
        |      - (ssum::DOUBLE / (2.0 * n_edges::DOUBLE))
        |        * (ssum::DOUBLE / (2.0 * n_edges::DOUBLE)))
        |    / (ssq::DOUBLE / (2.0 * n_edges::DOUBLE)
        |      - (ssum::DOUBLE / (2.0 * n_edges::DOUBLE))
        |        * (ssum::DOUBLE / (2.0 * n_edges::DOUBLE))), 4) END
        |    AS assortativity
        |FROM su""".stripMargin),

    // Triangle counts over the co-purchase part graph (parts sharing an
    // order): oriented edge-join, exact integer corner counts
    Query("q231_triangles", (s, d) => {
      val op = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .distinct()
      val edges = op.join(op.withColumnRenamed("p", "p2"), Seq("o"))
        .filter(col("p") < col("p2"))
        .select(col("p").as("src"), col("p2").as("dst"))
      graft.operators.Graph.triangleCounts(edges, "src", "dst")
        .withColumnRenamed("node", "part")
    },
      // Triangle replay: same a<b<c oriented join over the distinct
      // co-purchase edge set
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |  FROM lineitem),
        |e AS (SELECT DISTINCT a.p AS s, b.p AS t FROM op a
        |  JOIN op b ON a.o = b.o AND a.p < b.p),
        |tri AS (SELECT e1.s AS a, e1.t AS b, e2.t AS c
        |  FROM e e1 JOIN e e2 ON e2.s = e1.t
        |  JOIN e e3 ON e3.s = e1.s AND e3.t = e2.t),
        |nodes AS (SELECT a AS n FROM tri UNION ALL SELECT b FROM tri
        |  UNION ALL SELECT c FROM tri)
        |SELECT n AS part, count(*)::BIGINT AS n_triangles FROM nodes
        |GROUP BY n ORDER BY n_triangles DESC, n LIMIT 20""".stripMargin),

    // Local clustering coefficient over the co-purchase part graph:
    // exact triangle/degree integers, raw-cc ordering
    Query("q233_clustering_coeff", (s, d) => {
      val op = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .distinct()
      val edges = op.join(op.withColumnRenamed("p", "p2"), Seq("o"))
        .filter(col("p") < col("p2"))
        .select(col("p").as("src"), col("p2").as("dst"))
      graft.operators.Graph.clusteringCoefficient(edges, "src", "dst")
        .withColumnRenamed("node", "part")
    },
      // Clustering-coefficient replay: same triangle/degree integers,
      // raw-cc order with node tie-break
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |  FROM lineitem),
        |e AS (SELECT DISTINCT a.p AS s, b.p AS t FROM op a
        |  JOIN op b ON a.o = b.o AND a.p < b.p),
        |tri AS (SELECT e1.s AS a, e1.t AS b, e2.t AS c
        |  FROM e e1 JOIN e e2 ON e2.s = e1.t
        |  JOIN e e3 ON e3.s = e1.s AND e3.t = e2.t),
        |nodes AS (SELECT a AS n FROM tri UNION ALL SELECT b FROM tri
        |  UNION ALL SELECT c FROM tri),
        |tcnt AS (SELECT n, count(*)::BIGINT AS t FROM nodes GROUP BY n),
        |deg AS (SELECT n, count(*)::BIGINT AS degree FROM
        |  (SELECT s AS n FROM e UNION ALL SELECT t FROM e) GROUP BY n),
        |cc AS (SELECT deg.n, deg.degree,
        |    coalesce(tcnt.t, 0)::BIGINT AS n_triangles,
        |    (2 * coalesce(tcnt.t, 0))::DOUBLE
        |      / (deg.degree * (deg.degree - 1))::DOUBLE AS rawcc
        |  FROM deg LEFT JOIN tcnt ON tcnt.n = deg.n
        |  WHERE deg.degree >= 2)
        |SELECT n AS part, degree, n_triangles, round(rawcc, 4)
        |    AS clustering_coeff
        |FROM cc ORDER BY rawcc DESC, n LIMIT 20""".stripMargin),

    // PageRank (10 fixed iterations, d=0.85) over the doc_id%50 →
    // n_chars%50 functional graph — hub-and-spoke degrees, dangling
    // nodes exercised; bit-exact raw doubles (source-ordered folds)
    Query("q155_pagerank", (s, d) => {
      val edges = t(s, d, "documents")
        .select((col("doc_id") % 50).as("u"), (col("n_chars") % 50).as("v"))
      graft.operators.Graph.pageRank(edges, "u", "v")
    },
      pageRankOracleSql(iterations = 10, damping = 0.85)))
}
