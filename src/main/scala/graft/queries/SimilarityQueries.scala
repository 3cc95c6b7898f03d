package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.operators.Similarity

import Shared._

/** Similarity search and ANN ([[graft.operators.Similarity]],
  * [[graft.operators.IvfIndex]], [[graft.operators.IvfAdc]],
  * [[graft.operators.PqIndex]], [[graft.operators.Retrieval]]): exact and
  * LSH top-k, IVF, PQ/ADC, recall contracts and ranking metrics.
  */
object SimilarityQueries {

  /** Per-probe recall of an approximate top-k against the exact top-k:
    * (probe_id, k, recall_ok). Grouping on the EXACT side keeps probes
    * with zero approximate hits in the output.
    */
  private def recallContract(approx: DataFrame, exact: DataFrame,
      minHits: Int): DataFrame =
    exact.select(col("probe_id"), col("corpus_id"))
      .join(approx.select(col("probe_id"), col("corpus_id"))
        .withColumn("hit", lit(1)), Seq("probe_id", "corpus_id"), "left")
      .groupBy(col("probe_id"))
      .agg(count(lit(1)).as("k"), sum(coalesce(col("hit"), lit(0))).as("hits"))
      .select(col("probe_id"), col("k"),
        (col("hits") >= minHits).as("recall_ok"))

  /** q34 replayed END-TO-END in SQL: banded hyperplane-LSH candidate
    * generation between the probe set (vec_id < `maxProbeId`) and the
    * full corpus — the SAME seeded plane constants as the engine —
    * then exact-cosine top-k over the candidates with the engine's
    * (cosine DESC, corpus_id) tie-break. Same argument as
    * [[embedNearDupOracleSql]]: the oracle checks the ALGORITHM
    * hash-exactly without requiring total LSH recall (q74's contract
    * separately pins quality vs brute force), and the rank order is
    * FP-safe for the same reason q32's brute-force oracle is — distinct
    * vectors never tie within 1e-13, equal vectors tie exactly in both
    * engines and fall to the corpus_id tie-break.
    */
  private def bandedLshTopKOracleSql(k: Int, maxProbeId: Long,
      numBands: Int = 15, planesPerBand: Int = 4, dim: Int = 64,
      seed: Long = 42L, probeFlips: Int = 0): String = {
    val vals = hyperplaneValuesSql(numBands, planesPerBand, dim, seed)
    // multi-probe level-1 ("key or any 1-bit flip of it") is exactly
    // hamming(probe key, corpus key) <= 1 — flip bits and key bits both
    // live below planesPerBand, so the XOR can't see higher bits
    val keyRule =
      if (probeFlips == 0) "p.key = c.key"
      else s"bit_count(xor(p.key, c.key)) <= $probeFlips"
    s"""WITH planes(plane_id, p) AS (VALUES $vals),
       |vecs AS (
       |  SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
       |  WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
       |bits AS (
       |  SELECT id, plane_id,
       |    CASE WHEN list_dot_product(v, p) >= 0 THEN 1 ELSE 0 END AS bit
       |  FROM vecs CROSS JOIN planes),
       |bands AS (
       |  SELECT id, plane_id // $planesPerBand AS band,
       |    SUM(bit << (plane_id % $planesPerBand))::BIGINT AS key
       |  FROM bits GROUP BY id, plane_id // $planesPerBand),
       |cand AS (
       |  SELECT DISTINCT p.id AS probe_id, c.id AS corpus_id
       |  FROM bands p JOIN bands c ON p.band = c.band AND $keyRule
       |  WHERE p.id < $maxProbeId AND c.id <> p.id),
       |scored AS (
       |  SELECT cand.probe_id, cand.corpus_id,
       |    list_cosine_similarity(vc.v, vp.v) AS cs
       |  FROM cand JOIN vecs vc ON vc.id = cand.corpus_id
       |  JOIN vecs vp ON vp.id = cand.probe_id)
       |SELECT probe_id, corpus_id, cosine, rank FROM (
       |  SELECT probe_id, corpus_id, round(cs, 4) AS cosine,
       |    row_number() OVER (PARTITION BY probe_id
       |      ORDER BY cs DESC, corpus_id) AS rank
       |  FROM scored)
       |WHERE rank <= $k""".stripMargin
  }

  /** [[bandedLshTopKOracleSql]] with the 1-bit screen between candidate
    * generation and the float rerank (q402): binary hamming over sign
    * bits ranks candidates, only the best `rerank`·k per probe reach
    * the exact-cosine window. Both tie-breaks on corpus_id.
    */
  private def bandedLshScreenedOracleSql(k: Int, rerank: Int,
      maxProbeId: Long, numBands: Int = 15, planesPerBand: Int = 4,
      dim: Int = 64, seed: Long = 42L): String = {
    val vals = hyperplaneValuesSql(numBands, planesPerBand, dim, seed)
    s"""WITH planes(plane_id, p) AS (VALUES $vals),
       |vecs AS (
       |  SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
       |  WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
       |bits AS (
       |  SELECT id, plane_id,
       |    CASE WHEN list_dot_product(v, p) >= 0 THEN 1 ELSE 0 END AS bit
       |  FROM vecs CROSS JOIN planes),
       |bands AS (
       |  SELECT id, plane_id // $planesPerBand AS band,
       |    SUM(bit << (plane_id % $planesPerBand))::BIGINT AS key
       |  FROM bits GROUP BY id, plane_id // $planesPerBand),
       |cand AS (
       |  SELECT DISTINCT p.id AS probe_id, c.id AS corpus_id
       |  FROM bands p JOIN bands c ON p.band = c.band AND p.key = c.key
       |  WHERE p.id < $maxProbeId AND c.id <> p.id),
       |h AS (
       |  SELECT cand.probe_id, cand.corpus_id,
       |    len(list_filter(generate_series(1, len(vc.v)),
       |      i -> (vc.v[i] >= 0) <> (vp.v[i] >= 0)))::BIGINT AS hamming,
       |    list_cosine_similarity(vc.v, vp.v) AS cs
       |  FROM cand JOIN vecs vc ON vc.id = cand.corpus_id
       |  JOIN vecs vp ON vp.id = cand.probe_id),
       |r1 AS (SELECT *, row_number() OVER (PARTITION BY probe_id
       |    ORDER BY hamming, corpus_id) AS brank FROM h)
       |SELECT probe_id, corpus_id, hamming, cosine, rank FROM (
       |  SELECT probe_id, corpus_id, hamming, round(cs, 4) AS cosine,
       |    row_number() OVER (PARTITION BY probe_id
       |      ORDER BY cs DESC, corpus_id) AS rank
       |  FROM r1 WHERE brank <= ${k * rerank})
       |WHERE rank <= $k""".stripMargin
  }

  /** The PQ pipeline (q146) replayed end-to-end in SQL: subvector slices
    * tagged by `sub`, the SAME xxhash64-smallest seeds for every
    * subspace (code = hash-rank), `iterations` unrolled Lloyd's rounds
    * per subspace (argmin by (squared distance, code) — the engine's
    * array_min-over-struct tie-break; per-dim AVG centroid update;
    * empty cells keep old centroids), final per-(id,sub) code
    * assignment, probe distance tables, and the ADC sum folded in
    * `ORDER BY sub` (the engine's fixed subspace fold order). Same
    * FP-safety stance as [[ivfTopKOracleSql]]: centroid means differ by
    * summation-order ulp; assignments/ranks flip only on near-exact
    * ties, never observed.
    */
  private def pqAdcOracleSql(k: Int, m: Int, dsub: Int, kCodes: Int,
      iterations: Int, maxProbeId: Long): String = {
    def sqd(a: String, b: String): String =
      s"list_sum(list_transform(generate_series(1,$dsub), i -> (($a)[i] - ($b)[i])^2))"
    def assign(name: String, cprev: String): String =
      s"""$name AS (SELECT id, sub, sv, code FROM (
         |  SELECT va.id, va.sub, va.sv, c.code,
         |    row_number() OVER (PARTITION BY va.id, va.sub
         |      ORDER BY ${sqd("va.sv", "c.cv")}, c.code) AS rn
         |  FROM subs va JOIN $cprev c ON c.sub = va.sub) WHERE rn = 1)""".stripMargin
    def update(name: String, aprev: String, cprev: String): String =
      s"""$name AS (SELECT c.sub, c.code, coalesce(m.cv, c.cv) AS cv
         |  FROM $cprev c LEFT JOIN (
         |  SELECT sub, code, list(mx ORDER BY d) AS cv FROM (
         |    SELECT sub, code, i.d, avg(sv[i.d]) AS mx FROM $aprev
         |    CROSS JOIN (SELECT unnest(generate_series(1,$dsub)) AS d) i
         |    GROUP BY sub, code, i.d) GROUP BY sub, code) m
         |  ON m.sub = c.sub AND m.code = c.code)""".stripMargin
    val lloyd = (1 to iterations).flatMap { i =>
      Seq(assign(s"a$i", s"c${i - 1}"), update(s"c$i", s"a$i", s"c${i - 1}"))
    }.mkString(",\n")
    s"""WITH vecs AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
       |subs AS (SELECT id, sub, v[sub * $dsub + 1 : sub * $dsub + $dsub] AS sv
       |  FROM vecs CROSS JOIN (SELECT unnest(generate_series(0, ${m - 1})) AS sub)),
       |$xxh64LongCtes,
       |init AS (SELECT xh.id, row_number() OVER (ORDER BY hs) - 1 AS code
       |         FROM xh ORDER BY hs LIMIT $kCodes),
       |c0 AS (SELECT s.sub, init.code, s.sv AS cv
       |       FROM init JOIN subs s ON s.id = init.id),
       |$lloyd,
       |${assign("afin", s"c$iterations")},
       |codes AS (SELECT id, sub, code FROM afin),
       |pdt AS (SELECT va.id AS probe_id, c.sub, c.code,
       |    ${sqd("va.sv", "c.cv")} AS d
       |  FROM subs va JOIN c$iterations c ON c.sub = va.sub
       |  WHERE va.id < $maxProbeId),
       |adc AS (SELECT p.probe_id, kk.id AS corpus_id,
       |    list_reduce(list_prepend(0.0, list(p.d ORDER BY p.sub)),
       |      (a, b) -> a + b) AS adc
       |  FROM codes kk JOIN pdt p ON p.sub = kk.sub AND p.code = kk.code
       |    AND kk.id <> p.probe_id
       |  GROUP BY 1, 2)
       |SELECT probe_id, corpus_id, adc_dist, rank FROM (
       |  SELECT probe_id, corpus_id, round(adc, 4) AS adc_dist,
       |    row_number() OVER (PARTITION BY probe_id
       |      ORDER BY adc, corpus_id) AS rank
       |  FROM adc) WHERE rank <= $k""".stripMargin
  }

  /** q52 replayed END-TO-END in SQL: the full IVF pipeline — init centroids
    * = the `kCells` vectors with smallest SIGNED xxhash64(vec_id) (replayed
    * in HUGEINT arithmetic above), `iterations` Lloyd's rounds (argmin by
    * (squared distance, cell) exactly like the engine's array_min over
    * struct, per-dim AVG centroid update, empty cells keep old centroids),
    * final assignment, nprobe nearest cells per probe, exact-cosine top-k
    * tail identical to q32/q34. FP-safety: centroid means differ between
    * engines by summation order (~1e-16 relative); assignments/rank flip
    * only on near-exact distance ties, never observed (gaps O(0.01)).
    */
  private def ivfTopKOracleSql(k: Int, nprobe: Int, kCells: Int,
      iterations: Int, maxProbeId: Long, dim: Int = 64,
      trainWhere: String = ""): String = {
    def sqd(a: String, b: String): String =
      s"list_sum(list_transform(generate_series(1,$dim), i -> (($a)[i] - ($b)[i])^2))"
    def assign(name: String, cprev: String, filter: String = "", rn: String = "= 1",
        idOut: String = "id", vOut: String = "v", base: String = "vecs"): String =
      s"""$name AS (SELECT id AS $idOut, v AS $vOut, cell FROM (
         |  SELECT va.id, va.v, c.cell,
         |    row_number() OVER (PARTITION BY va.id ORDER BY ${sqd("va.v", "c.cv")}, c.cell) AS rn
         |  FROM $base va CROSS JOIN $cprev c$filter) WHERE rn $rn)""".stripMargin
    def update(name: String, aprev: String, cprev: String): String =
      s"""$name AS MATERIALIZED (SELECT c.cell, coalesce(m.cv, c.cv) AS cv FROM $cprev c LEFT JOIN (
         |  SELECT cell, list(mx ORDER BY d) AS cv FROM (
         |    SELECT cell, i.d, avg(v[i.d]) AS mx FROM $aprev
         |    CROSS JOIN (SELECT unnest(generate_series(1,$dim)) AS d) i
         |    GROUP BY cell, i.d) GROUP BY cell) m ON m.cell = c.cell)""".stripMargin
    // Lloyd's runs over the TRAINING base (tvecs — all vecs unless
    // trainWhere narrows it, the incremental-index case); the final
    // assignment + probes run over the full corpus
    val lloyd = (1 to iterations).flatMap { i =>
      Seq(assign(s"a$i", s"c${i - 1}", base = "tvecs"), update(s"c$i", s"a$i", s"c${i - 1}"))
    }.mkString(",\n")
    s"""WITH vecs AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
       |tvecs AS (SELECT id, v FROM vecs $trainWhere),
       |$xxh64LongCtes,
       |init AS (SELECT xh.id, row_number() OVER (ORDER BY hs) - 1 AS cell
       |         FROM xh JOIN tvecs ON tvecs.id = xh.id ORDER BY hs LIMIT $kCells),
       |c0 AS MATERIALIZED (SELECT init.cell, v.v AS cv FROM init JOIN vecs v ON v.id = init.id),
       |$lloyd,
       |${assign("afin", s"c$iterations")},
       |corp AS (SELECT id AS corpus_id, v AS cv, cell FROM afin
       |         WHERE list_dot_product(v, v) > 0),
       |${assign("pc", s"c$iterations",
        filter = s"\n  WHERE va.id < $maxProbeId AND list_dot_product(va.v, va.v) > 0",
        rn = s"<= $nprobe", idOut = "probe_id", vOut = "pv")},
       |scored AS (
       |  SELECT pc.probe_id, corp.corpus_id, list_cosine_similarity(corp.cv, pc.pv) AS cs
       |  FROM pc JOIN corp ON corp.cell = pc.cell AND corp.corpus_id <> pc.probe_id)
       |SELECT probe_id, corpus_id, cosine, rank FROM (
       |  SELECT probe_id, corpus_id, round(cs, 4) AS cosine,
       |    row_number() OVER (PARTITION BY probe_id ORDER BY cs DESC, corpus_id) AS rank
       |  FROM scored)
       |WHERE rank <= $k""".stripMargin
  }

  /** q285: the q52 coarse-quantizer replay (same init/Lloyd's/assign
    * CTE shapes as [[ivfTopKOracleSql]]) rolled into the cell-occupancy
    * census — balance ratio + cell-ordered n·ln n entropy fold. The
    * final assignment covers ALL vectors (zero-norm included — the
    * index stores them; only cosine scoring excludes them).
    */
  private def ivfBalanceOracleSql(kCells: Int, iterations: Int,
      dim: Int = 64): String = {
    def sqd(a: String, b: String): String =
      s"list_sum(list_transform(generate_series(1,$dim), i -> (($a)[i] - ($b)[i])^2))"
    def assign(name: String, cprev: String): String =
      s"""$name AS (SELECT id, v, cell FROM (
         |  SELECT va.id, va.v, c.cell,
         |    row_number() OVER (PARTITION BY va.id ORDER BY ${sqd("va.v", "c.cv")}, c.cell) AS rn
         |  FROM vecs va CROSS JOIN $cprev c) WHERE rn = 1)""".stripMargin
    def update(name: String, aprev: String, cprev: String): String =
      s"""$name AS MATERIALIZED (SELECT c.cell, coalesce(m.cv, c.cv) AS cv FROM $cprev c LEFT JOIN (
         |  SELECT cell, list(mx ORDER BY d) AS cv FROM (
         |    SELECT cell, i.d, avg(v[i.d]) AS mx FROM $aprev
         |    CROSS JOIN (SELECT unnest(generate_series(1,$dim)) AS d) i
         |    GROUP BY cell, i.d) GROUP BY cell) m ON m.cell = c.cell)""".stripMargin
    val lloyd = (1 to iterations).flatMap { i =>
      Seq(assign(s"a$i", s"c${i - 1}"), update(s"c$i", s"a$i", s"c${i - 1}"))
    }.mkString(",\n")
    s"""WITH vecs AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
       |$xxh64LongCtes,
       |init AS (SELECT xh.id, row_number() OVER (ORDER BY hs) - 1 AS cell
       |         FROM xh JOIN vecs ON vecs.id = xh.id ORDER BY hs LIMIT $kCells),
       |c0 AS MATERIALIZED (SELECT init.cell, v.v AS cv FROM init JOIN vecs v ON v.id = init.id),
       |$lloyd,
       |${assign("afin", s"c$iterations")},
       |cells AS (SELECT cell, count(*)::BIGINT AS n FROM afin GROUP BY cell),
       |su AS (SELECT count(*)::BIGINT AS cells_used,
       |    CAST(sum(n) AS BIGINT) AS n_vecs, max(n)::BIGINT AS max_cell,
       |    list_reduce(list_prepend(0.0,
       |      list(n::DOUBLE * ln(n::DOUBLE) ORDER BY cell)),
       |      (a, b) -> a + b) AS snln
       |  FROM cells)
       |SELECT cells_used, n_vecs, max_cell,
       |  round(max_cell::DOUBLE * cells_used / n_vecs::DOUBLE, 4)
       |    AS balance_ratio,
       |  round(ln(n_vecs::DOUBLE) - snln / n_vecs::DOUBLE, 4) AS entropy,
       |  CASE WHEN cells_used > 1 THEN
       |    round((ln(n_vecs::DOUBLE) - snln / n_vecs::DOUBLE)
       |      / ln(cells_used::DOUBLE), 4) END AS entropy_ratio
       |FROM su""".stripMargin
  }

  /** q153 (IVFADC) replayed end-to-end: the q52 coarse-quantizer replay
    * (init/Lloyd's/assign over the full vectors), residual vectors
    * against the final coarse centroids, the q146 PQ replay retrained on
    * those residuals (same xxhash seed ids, per-subspace Lloyd's), probe
    * nprobe-cell choice by (distance, cell), per-(probe, cell) ADC
    * tables on the probe's CELL residual, and the subspace-ordered ADC
    * fold. FP stance identical to [[ivfTopKOracleSql]]/[[pqAdcOracleSql]].
    */
  private def ivfadcOracleSql(k: Int, nprobe: Int, kCells: Int, m: Int,
      dsub: Int, pqK: Int, iterations: Int, maxProbeId: Long,
      dim: Int = 64, trainWhere: String = ""): String = {
    def sqdN(n: Int)(a: String, b: String): String =
      s"list_sum(list_transform(generate_series(1,$n), i -> (($a)[i] - ($b)[i])^2))"
    // coarse Lloyd's over full vectors (the q52 pattern)
    def cAssign(name: String, cprev: String, base: String = "vecs"): String =
      s"""$name AS (SELECT id, v, cell FROM (
         |  SELECT va.id, va.v, c.cell,
         |    row_number() OVER (PARTITION BY va.id
         |      ORDER BY ${sqdN(dim)("va.v", "c.cv")}, c.cell) AS rn
         |  FROM $base va CROSS JOIN $cprev c) WHERE rn = 1)""".stripMargin
    def cUpdate(name: String, aprev: String, cprev: String): String =
      s"""$name AS MATERIALIZED (SELECT c.cell, coalesce(mm.cv, c.cv) AS cv
         |  FROM $cprev c LEFT JOIN (
         |  SELECT cell, list(mx ORDER BY d) AS cv FROM (
         |    SELECT cell, i.d, avg(v[i.d]) AS mx FROM $aprev
         |    CROSS JOIN (SELECT unnest(generate_series(1,$dim)) AS d) i
         |    GROUP BY cell, i.d) GROUP BY cell) mm ON mm.cell = c.cell)""".stripMargin
    // PQ Lloyd's over residual subvectors (the q146 pattern)
    def pAssign(name: String, cprev: String, base: String = "subs"): String =
      s"""$name AS (SELECT id, sub, sv, code FROM (
         |  SELECT va.id, va.sub, va.sv, c.code,
         |    row_number() OVER (PARTITION BY va.id, va.sub
         |      ORDER BY ${sqdN(dsub)("va.sv", "c.cv")}, c.code) AS rn
         |  FROM $base va JOIN $cprev c ON c.sub = va.sub) WHERE rn = 1)""".stripMargin
    def pUpdate(name: String, aprev: String, cprev: String): String =
      s"""$name AS MATERIALIZED (SELECT c.sub, c.code, coalesce(mm.cv, c.cv) AS cv
         |  FROM $cprev c LEFT JOIN (
         |  SELECT sub, code, list(mx ORDER BY d) AS cv FROM (
         |    SELECT sub, code, i.d, avg(sv[i.d]) AS mx FROM $aprev
         |    CROSS JOIN (SELECT unnest(generate_series(1,$dsub)) AS d) i
         |    GROUP BY sub, code, i.d) GROUP BY sub, code) mm
         |  ON mm.sub = c.sub AND mm.code = c.code)""".stripMargin
    val cLloyd = (1 to iterations).flatMap { i =>
      Seq(cAssign(s"ca$i", s"cc${i - 1}", base = "tvecs"),
        cUpdate(s"cc$i", s"ca$i", s"cc${i - 1}"))
    }.mkString(",\n")
    val pLloyd = (1 to iterations).flatMap { i =>
      Seq(pAssign(s"pa$i", s"pc${i - 1}", base = "tsubs"),
        pUpdate(s"pc$i", s"pa$i", s"pc${i - 1}"))
    }.mkString(",\n")
    s"""WITH vecs AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
       |tvecs AS (SELECT id, v FROM vecs $trainWhere),
       |$xxh64LongCtes,
       |cinit AS (SELECT xh.id, row_number() OVER (ORDER BY hs) - 1 AS cell
       |          FROM xh JOIN tvecs ON tvecs.id = xh.id
       |          ORDER BY hs LIMIT $kCells),
       |cc0 AS MATERIALIZED (SELECT cinit.cell, v.v AS cv FROM cinit JOIN vecs v ON v.id = cinit.id),
       |$cLloyd,
       |${cAssign("cafin", s"cc$iterations")},
       |resid AS MATERIALIZED (SELECT a.id, a.cell,
       |    list_transform(generate_series(1,$dim),
       |      i -> a.v[i] - c.cv[i]) AS rv
       |  FROM cafin a JOIN cc$iterations c ON c.cell = a.cell),
       |subs AS MATERIALIZED (SELECT id, sub, rv[sub * $dsub + 1 : sub * $dsub + $dsub] AS sv
       |  FROM resid CROSS JOIN (SELECT unnest(generate_series(0, ${m - 1})) AS sub)),
       |tsubs AS (SELECT s.id, s.sub, s.sv FROM subs s
       |  JOIN tvecs t ON t.id = s.id),
       |pinit AS (SELECT xh.id, row_number() OVER (ORDER BY hs) - 1 AS code
       |          FROM xh JOIN tvecs ON tvecs.id = xh.id
       |          ORDER BY hs LIMIT $pqK),
       |pc0 AS MATERIALIZED (SELECT s.sub, pinit.code, s.sv AS cv
       |        FROM pinit JOIN subs s ON s.id = pinit.id),
       |$pLloyd,
       |${pAssign("pafin", s"pc$iterations")},
       |codes AS (SELECT p.id, r.cell, p.sub, p.code
       |  FROM pafin p JOIN resid r ON r.id = p.id),
       |pcell AS (SELECT id AS probe_id, v AS pv, cell FROM (
       |  SELECT va.id, va.v, c.cell,
       |    row_number() OVER (PARTITION BY va.id
       |      ORDER BY ${sqdN(dim)("va.v", "c.cv")}, c.cell) AS rn
       |  FROM vecs va CROSS JOIN cc$iterations c
       |  WHERE va.id < $maxProbeId) WHERE rn <= $nprobe),
       |presid AS (SELECT p.probe_id, p.cell,
       |    list_transform(generate_series(1,$dim),
       |      i -> p.pv[i] - c.cv[i]) AS prv
       |  FROM pcell p JOIN cc$iterations c ON c.cell = p.cell),
       |pdt AS (SELECT pr.probe_id, pr.cell, q.sub, q.code,
       |    ${sqdN(dsub)(s"pr.prv[q.sub * $dsub + 1 : q.sub * $dsub + $dsub]", "q.cv")} AS d
       |  FROM presid pr CROSS JOIN pc$iterations q),
       |adc AS (SELECT p.probe_id, kk.id AS corpus_id,
       |    list_reduce(list_prepend(0.0, list(p.d ORDER BY p.sub)),
       |      (a, b) -> a + b) AS adc
       |  FROM codes kk JOIN pdt p ON p.cell = kk.cell AND p.sub = kk.sub
       |    AND p.code = kk.code AND kk.id <> p.probe_id
       |  GROUP BY 1, 2)
       |SELECT probe_id, corpus_id, adc_dist, rank FROM (
       |  SELECT probe_id, corpus_id, round(adc, 4) AS adc_dist,
       |    row_number() OVER (PARTITION BY probe_id
       |      ORDER BY adc, corpus_id) AS rank
       |  FROM adc) WHERE rank <= $k""".stripMargin
  }

  /** Unrolled greedy MMR steps (q335): step i scores every unpicked
    * pool row as λ·rel − (1−λ)·max over picked cosines (raw doubles —
    * the [[graft.operators.Similarity.pairCosine]] op order) and keeps
    * the (score DESC, id) winner. k is a bounded constant, so the
    * unroll is k single-row CTEs.
    */
  private def mmrOracleSql(k: Int): String = {
    val steps = (1 to k).map { i =>
      if (i == 1)
        """s1 AS (SELECT id, rel, v, nn, 0.0::DOUBLE AS ms,
          |    0.75::DOUBLE * rel - 0.25::DOUBLE * 0.0::DOUBLE AS sc
          |  FROM pool ORDER BY sc DESC, id LIMIT 1)""".stripMargin
      else {
        val joins = (1 until i).map(j => s"CROSS JOIN s$j t$j").mkString(" ")
        val nots = (1 until i).map(j => s"p.id <> t$j.id").mkString(" AND ")
        val sims = (1 until i).map(j =>
          s"list_dot_product(p.v, t$j.v) / (p.nn * t$j.nn)")
        val ms = if (i == 2) sims.head else s"greatest(${sims.mkString(", ")})"
        s"""s$i AS (SELECT id, rel, v, nn, ms,
           |    0.75::DOUBLE * rel - 0.25::DOUBLE * ms AS sc
           |  FROM (SELECT p.id, p.rel, p.v, p.nn, $ms AS ms
           |    FROM pool p $joins WHERE $nots)
           |  ORDER BY sc DESC, id LIMIT 1)""".stripMargin
      }
    }.mkString(",\n")
    val out = (1 to k).map { i =>
      s"""SELECT $i::BIGINT AS rank, id, round(rel, 6) AS rel,
         |  round(ms, 6) AS max_sim, round(sc, 6) AS mmr_score FROM s$i"""
        .stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
       |  FROM embeddings),
       |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nn
       |  FROM e WHERE list_dot_product(v, v) > 0),
       |p AS (SELECT v AS pv, nn AS pn FROM n WHERE vec_id = 0),
       |scored AS (SELECT vec_id AS id,
       |    list_dot_product(v, pv) / (nn * pn) AS rel, v, nn
       |  FROM n CROSS JOIN p WHERE vec_id <> 0),
       |pool AS MATERIALIZED (SELECT id, rel, v, nn FROM scored
       |  ORDER BY rel DESC, id LIMIT 20),
       |$steps
       |$out""".stripMargin
  }

  val all: Seq[Query] = Seq(
    // Exact cosine threshold pairs (subsampled corpus; oracle-checked)
    Query("q31_cosine_pairs", (s, d) =>
      Similarity.thresholdPairs(
        t(s, d, "embeddings").filter(col("vec_id") % 10 === 0), 0.25)
        .withColumn("cosine", round(col("cosine"), 4)),
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        | round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS cosine
        |FROM embeddings a JOIN embeddings b
        | ON a.vec_id < b.vec_id
        |WHERE a.vec_id % 10 = 0 AND b.vec_id % 10 = 0
        | AND list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.25""".stripMargin),

    // Exact cosine top-k per probe (oracle-checked)
    Query("q32_cosine_topk", (s, d) =>
      Similarity.bruteForceTopK(
        t(s, d, "embeddings"),
        t(s, d, "embeddings").filter(col("vec_id") < 5), k = 10)
        .withColumn("cosine", round(col("cosine"), 4)),
      """SELECT probe_id, corpus_id, cosine, rank FROM (
        | SELECT p.vec_id AS probe_id, c.vec_id AS corpus_id,
        |  round(list_cosine_similarity(c.embedding::DOUBLE[], p.embedding::DOUBLE[]), 4) AS cosine,
        |  row_number() OVER (PARTITION BY p.vec_id
        |    ORDER BY list_cosine_similarity(c.embedding::DOUBLE[], p.embedding::DOUBLE[]) DESC, c.vec_id) AS rank
        | FROM embeddings c JOIN embeddings p ON c.vec_id <> p.vec_id
        | WHERE p.vec_id < 5)
        |WHERE rank <= 10""".stripMargin),

    // LSH-bucketed ANN top-k (approx; deterministic rows-only). Banded
    // OR-construction: one 8-bit signature recalls ~0.1 of true top-10 at
    // this corpus's cosine range; 15×4-bit bands recall 0.8-1.0 (q74 is
    // the oracle-checked recall contract). Oracle-exact: the DuckDB oracle
    // replays banding + rerank with the same planes (bandedLshTopKOracleSql).
    Query("q34_lsh_topk", (s, d) =>
      Similarity.bandedLshTopK(
        t(s, d, "embeddings"),
        t(s, d, "embeddings").filter(col("vec_id") < 5), k = 10)
        .withColumn("cosine", round(col("cosine"), 4)),
      bandedLshTopKOracleSql(k = 10, maxProbeId = 5)),

    // Binary (1-bit sign) quantization + Hamming top-k with exact
    // rerank: the 32×-compression scan below q289's int8 — XOR+popcount
    // candidate generation over packed sign bits, float cosine only for
    // the 4k survivors per probe.
    Query("q398_binary_topk", (s, d) => {
      val emb = t(s, d, "embeddings")
      graft.operators.Similarity.binaryHammingTopK(
        emb, emb.filter(col("vec_id") < 5), k = 10)
    },
      // Binary sign-bit Hamming: the packed-word XOR+popcount distance is
      // definitionally Σ[sign(c_i) ≠ sign(p_i)], replayed dim-wise; then
      // the same two-stage (hamming, corpus_id) / (cosine DESC, corpus_id)
      // windows
      """WITH vecs AS (
        |  SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
        |  WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
        |h AS (
        |  SELECT p.id AS probe_id, c.id AS corpus_id,
        |    len(list_filter(generate_series(1, len(c.v)),
        |      i -> (c.v[i] >= 0) <> (p.v[i] >= 0)))::BIGINT AS hamming,
        |    list_cosine_similarity(c.v, p.v) AS cs
        |  FROM vecs p JOIN vecs c ON c.id <> p.id
        |  WHERE p.id < 5),
        |r1 AS (SELECT *, row_number() OVER (PARTITION BY probe_id
        |    ORDER BY hamming, corpus_id) AS brank FROM h),
        |r2 AS (SELECT probe_id, corpus_id, hamming, round(cs, 4) AS cosine,
        |    row_number() OVER (PARTITION BY probe_id
        |      ORDER BY cs DESC, corpus_id) AS rank
        |  FROM r1 WHERE brank <= 40)
        |SELECT probe_id, corpus_id, hamming, cosine, rank
        |FROM r2 WHERE rank <= 10""".stripMargin),

    // Multi-probe LSH over a WIDE-key served index (8-bit band keys,
    // probe = key ± every 1-bit flip): per-band candidates shrink to
    // corpus/256 while the flip set recovers near-boundary recall — the
    // selectivity-vs-recall lever a growing corpus turns (Lv et al.
    // VLDB'07). Candidate rule per band is exactly hamming(keys) ≤ 1,
    // which is what the oracle replays.
    Query("q399_lsh_multiprobe", (s, d) => {
      val tmp = sys.props("java.io.tmpdir")
      val path = s"$tmp/graft_q399_lsh_${s.sparkContext.applicationId}"
      rmrf(new java.io.File(path))
      val emb = t(s, d, "embeddings")
      graft.operators.Similarity.writeLshIndex(emb, path, planesPerBand = 8)
      graft.operators.Similarity.bandedLshTopKFromIndex(s, path,
        emb.filter(col("vec_id") < 5), k = 10, probeFlips = 1)
        .withColumn("cosine", round(col("cosine"), 4))
    },
      // Multi-probe over the wide-key (8-bit) banding: candidate rule per
      // band is hamming(keys) ≤ 1; same seeded planes, same rerank
      bandedLshTopKOracleSql(k = 10, maxProbeId = 5,
      planesPerBand = 8, probeFlips = 1)),

    // The full persisted compression ladder: LSH partition pruning →
    // 8 B/vector sign-bit screen (XOR+popcount) → float cosine only for
    // the rerank·k binary survivors per probe. The middle rung is what
    // keeps hot LSH buckets affordable at corpus scale (candidate join
    // payload ~17× smaller; float reads probe-bounded).
    Query("q402_lsh_sig_screened", (s, d) => {
      val tmp = sys.props("java.io.tmpdir")
      val path = s"$tmp/graft_q402_lsh_${s.sparkContext.applicationId}"
      rmrf(new java.io.File(path))
      val emb = t(s, d, "embeddings")
      graft.operators.Similarity.writeLshIndex(emb, path)
      graft.operators.Similarity.bandedLshTopKFromIndexScreened(s, path,
        emb.filter(col("vec_id") < 5), k = 10, rerank = 4)
    },
      // Compression-ladder replay: default 4-bit banding, sign-bit screen
      // to 40 binary survivors per probe, float cosine top-10
      bandedLshScreenedOracleSql(k = 10,
      rerank = 4, maxProbeId = 5)),

    // IVF (k-means coarse quantizer) ANN top-k. Oracle-exact: the DuckDB
    // oracle replays the whole pipeline — xxhash64 init (HUGEINT replay),
    // Lloyd's iterations, nprobe cells, cosine top-k (ivfTopKOracleSql);
    // q75 separately pins recall vs brute force.
    Query("q52_ivf_topk", (s, d) => {
      val emb = t(s, d, "embeddings")
      val model = graft.operators.IvfIndex.train(emb, k = 8, iterations = 3)
      graft.operators.IvfIndex.topK(emb, emb.filter(col("vec_id") < 5),
        model, k = 10, nprobe = 4)
        .withColumn("cosine", round(col("cosine"), 4))
    },
      ivfTopKOracleSql(k = 10, nprobe = 4, kCells = 8,
      iterations = 3, maxProbeId = 5)),

    // Incremental IVF index: quantizer trained on the EVEN half, index
    // written for it, the ODD half appended with the frozen centroids
    // (cell-partition file append), then probed — the oracle replays
    // Lloyd's on the even half and assignment over the full corpus
    Query("q122_ivf_incremental", (s, d) => {
      val path = s"${sys.props("java.io.tmpdir")}/graft_ivf_incr_" +
        s.sparkContext.applicationId
      val emb = t(s, d, "embeddings")
      val even = emb.filter(col("vec_id") % 2 === 0)
      val m = graft.operators.IvfIndex.train(even, k = 8, iterations = 3)
      graft.operators.IvfIndex.writeIndex(even, m, path)
      graft.operators.IvfIndex.appendToIndex(
        emb.filter(col("vec_id") % 2 === 1), path)
      graft.operators.IvfIndex.topKFromIndex(
        s, path, emb.filter(col("vec_id") < 5), k = 10, nprobe = 4)
        .withColumn("cosine", round(col("cosine"), 4))
    },
      // frozen-quantizer append: train on even ids, assign/probe the full
      // corpus — the appended layout must be invisible to the probe
      ivfTopKOracleSql(k = 10, nprobe = 4, kCells = 8,
      iterations = 3, maxProbeId = 5, trainWhere = "WHERE id % 2 = 0")),

    // Hybrid retrieval: reciprocal-rank fusion of the BM25 lexical top-50
    // and the cosine top-50 for probe doc 3 (doc_id == vec_id, 1:1).
    // Rank-based fusion — no score calibration; ranks derive from each
    // list's own deterministic (score, id) total order. The unpartitioned
    // rank window is bounded by the top-k list size (50 rows).
    Query("q116_hybrid_rrf", (s, d) => {
      val lex = graft.operators.TextAnalysis.bm25TopK(
        t(s, d, "documents"), "doc_id", "text",
        terms = Seq("spark", "vector", "merge"), k = 50)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id"))))
        .select(col("doc_id").as("id"), col("rank"))
      val sem = Similarity.bruteForceTopK(
        t(s, d, "embeddings"),
        t(s, d, "embeddings").filter(col("vec_id") === 3), k = 50)
        .select(col("corpus_id").as("id"), col("rank"))
      graft.operators.Retrieval.rrf(Seq(lex, sem), "id", "rank", k = 20)
    },
      // RRF replay: both lists rebuilt rank-exactly (BM25 via the shared
      // generator, cosine via the q32 shape at probe 3), fused with the
      // identical two-term 1/(60+rank) sum; unrounded doubles, top-20 by
      // (raw, id) — the same total order the engine's rrf computes.
      {
      val bm = bm25OracleSql(Seq("spark", "vector", "merge"), 50, "doc_id")
      s"""WITH lex AS (SELECT id, row_number() OVER (ORDER BY score DESC, id) AS r
         |  FROM (SELECT doc_id AS id, score FROM ($bm))),
         |sem AS (SELECT corpus_id AS id, rank AS r FROM (
         |  SELECT c.vec_id AS corpus_id,
         |    row_number() OVER (ORDER BY
         |      list_cosine_similarity(c.embedding::DOUBLE[], p.embedding::DOUBLE[]) DESC,
         |      c.vec_id) AS rank
         |  FROM embeddings c JOIN embeddings p ON c.vec_id <> p.vec_id
         |  WHERE p.vec_id = 3) WHERE rank <= 50),
         |f AS (SELECT coalesce(lex.id, sem.id) AS id,
         |  (CASE WHEN lex.r IS NOT NULL THEN 1 ELSE 0 END
         |   + CASE WHEN sem.r IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_lists,
         |  (CASE WHEN lex.r IS NOT NULL THEN 1.0 / (60.0 + lex.r) ELSE 0.0 END
         |   + CASE WHEN sem.r IS NOT NULL THEN 1.0 / (60.0 + sem.r) ELSE 0.0 END) AS rrf_score
         | FROM lex FULL OUTER JOIN sem ON lex.id = sem.id)
         |SELECT id, n_lists, rrf_score FROM f
         |ORDER BY rrf_score DESC, id LIMIT 20""".stripMargin
    }),

    // ANN quality contracts: the approximate top-k paths (banded LSH,
    // IVF) are seeded/deterministic, so their recall@10 against the exact
    // brute-force top-k is a fixed property of the data — oracle-checked
    // as a per-probe floor. Observed per-probe minima across SFs: banded
    // LSH 8/10, IVF nprobe=4 4/10; floors sit below with margin.
    Query("q74_lsh_recall", (s, d) => {
      val emb = t(s, d, "embeddings")
      val probes = emb.filter(col("vec_id") < 5)
      recallContract(
        Similarity.bandedLshTopK(emb, probes, k = 10),
        Similarity.bruteForceTopK(emb, probes, k = 10), minHits = 5)
    },
      // k is count(*) over the exact top-k rows -> always 10; recall_ok is
      // the engine-side bound. The oracle pins both per probe.
      """SELECT vec_id AS probe_id, CAST(10 AS BIGINT) AS k, TRUE AS recall_ok
        |FROM embeddings WHERE vec_id < 5""".stripMargin),

    Query("q75_ivf_recall", (s, d) => {
      val emb = t(s, d, "embeddings")
      val probes = emb.filter(col("vec_id") < 5)
      val model = graft.operators.IvfIndex.train(emb, k = 8, iterations = 3)
      recallContract(
        graft.operators.IvfIndex.topK(emb, probes, model, k = 10, nprobe = 4),
        Similarity.bruteForceTopK(emb, probes, k = 10), minHits = 3)
    },
      """SELECT vec_id AS probe_id, CAST(10 AS BIGINT) AS k, TRUE AS recall_ok
        |FROM embeddings WHERE vec_id < 5""".stripMargin),

    // Johnson-Lindenstrauss 64→16 projection distortion audit: per
    // probe the max + deterministic mean |Δcosine| vs the original
    // space, with the 3/√outDim variance-scale contract
    Query("q280_jl_distortion", (s, d) =>
      graft.operators.Similarity.jlDistortionAudit(
        t(s, d, "embeddings"),
        t(s, d, "embeddings").filter(col("vec_id") < 5),
        outDim = 16, dim = 64, seed = 7L),
      // JL replay: identical Scala-generated plane literals, the same
      // plane-ordered projection lists, identical cosine shapes, 6dp
      // pre-rounded DECIMAL mean, the same 0.75 contract bar
      {
      val vals = hyperplaneValuesSql(16, 1, 64, 7L)
      val eps = 3.0 / math.sqrt(16.0)
      s"""WITH planes(plane_id, p) AS (VALUES $vals),
         |vecs AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
         |  FROM embeddings
         |  WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
         |n AS (SELECT id, v, sqrt(list_dot_product(v, v)) AS nrm FROM vecs),
         |proj AS (SELECT id,
         |    list(list_dot_product(v, p) ORDER BY plane_id) AS pv
         |  FROM n CROSS JOIN planes GROUP BY id),
         |pn AS (SELECT id, pv, sqrt(list_dot_product(pv, pv)) AS pnrm
         |  FROM proj),
         |f AS (SELECT n.id, n.v, n.nrm, pn.pv, pn.pnrm
         |  FROM n JOIN pn USING (id) WHERE pn.pnrm > 0),
         |pairs AS (SELECT p.id AS probe_id, c.id AS corpus_id,
         |    abs(list_dot_product(c.v, p.v) / (c.nrm * p.nrm)
         |      - list_dot_product(c.pv, p.pv) / (c.pnrm * p.pnrm)) AS err
         |  FROM f c JOIN f p ON p.id < 5 AND c.id <> p.id)
         |SELECT probe_id, count(*)::BIGINT AS n_pairs,
         |  round(max(err), 4) AS max_abs_err,
         |  round(CAST(sum(round(err, 6)::DECIMAL(18,6)) AS DOUBLE)
         |    / count(*), 4) AS mean_abs_err,
         |  round(max(err), 4) <= $eps AS within_eps
         |FROM pairs GROUP BY probe_id""".stripMargin
    }),

    // Mean pairwise cosine per label WITHOUT the O(n²) pair join — the
    // sum-vector identity Σᵢ≠ⱼuᵢ·uⱼ = |Σu|² − Σ|uᵢ|² makes the class-
    // collapse diversity audit a one-pass partial-agg; the oracle
    // replays the same identity (exact for the 6dp-rounded vectors)
    Query("q302_mean_pairwise_cos", (s, d) =>
      graft.operators.Similarity.meanPairwiseCosine(t(s, d, "embeddings")),
      // Mean-pairwise-cosine replay: the same sum-vector identity over
      // the same 6dp-rounded normalized vectors — A from per-(label, dim)
      // DECIMAL sums, B from per-vector folds, identical op order
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
        |  FROM embeddings),
        |nrm AS (SELECT vec_id, label, v,
        |    sqrt(list_dot_product(v, v)) AS nn
        |  FROM e WHERE list_dot_product(v, v) > 0),
        |w AS (SELECT vec_id, label,
        |    list_transform(v, x -> round(x / nn, 6)) AS w FROM nrm),
        |b AS (SELECT label, count(*)::BIGINT AS n,
        |    CAST(CAST(SUM(CAST(round(list_reduce(list_prepend(0.0::DOUBLE,
        |      list_transform(w, x -> x * x)), (a2, x2) -> a2 + x2), 6)
        |      AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS DOUBLE) AS bb
        |  FROM w GROUP BY label),
        |x AS (SELECT label, i AS dim, CAST(w[i] AS DECIMAL(18,6)) AS c
        |  FROM (SELECT label, unnest(generate_series(1, len(w))) AS i, w
        |    FROM w)),
        |s AS (SELECT label, dim,
        |    CAST(CAST(SUM(c) AS DECIMAL(18,6)) AS DOUBLE) AS s
        |  FROM x GROUP BY label, dim),
        |aa AS (SELECT label, list_reduce(list_prepend(0.0::DOUBLE,
        |    list_transform(list(struct_pack(dim := dim, s := s)
        |      ORDER BY dim), q -> q.s * q.s)),
        |    (a2, x2) -> a2 + x2) AS a
        |  FROM s GROUP BY label)
        |SELECT aa.label, n, CASE WHEN n > 1 THEN
        |    round((a - bb) / (n * (n - 1))::DOUBLE, 4) END
        |  AS mean_pairwise_cosine
        |FROM aa JOIN b USING (label)""".stripMargin),

    // GRADED nDCG@10: recency ranking per event type scored against
    // value-derived relevance grades (0-3, exact cent-integer
    // bucketing) with the ideal DCG from the corpus's own top-10 gains
    // — the graded complement of q298's binary normalizer ("are the
    // newest events the high-value ones")
    Query("q308_ndcg_graded", (s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("value").isNotNull && col("ts").isNotNull)
        .withColumn("grade",
          expr("least(cast(round(value * 100, 0) as bigint) div 2500, 3)"))
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("ts").desc, col("event_id"))
      val ranked = ev.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 10)
        .select(col("event_type"), col("rank"),
          col("grade").cast("double").as("rel"))
      val gains = ev.filter(col("grade") > 0)
        .select(col("event_type"), col("grade").cast("double").as("gain"))
      graft.operators.Retrieval.ndcgAtKGraded(ranked, "event_type",
        "rank", "rel", gains, "gain", k = 10)
    },
      // Graded-nDCG replay: same cent-integer grades, same recency
      // window, rank-ordered DCG fold, ideal top-10 via gain-DESC
      // row_number (tie order free — equal doubles), depth-ordered fold
      """WITH ev AS (SELECT event_id, event_type, ts,
        |    least(CAST(round(value * 100, 0) AS BIGINT) // 2500, 3)
        |      AS grade
        |  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
        |r AS (SELECT event_type, rel, rank FROM (
        |    SELECT event_type, grade::DOUBLE AS rel,
        |      row_number() OVER (PARTITION BY event_type
        |        ORDER BY ts DESC, event_id) AS rank
        |    FROM ev) WHERE rank <= 10),
        |dcg AS (SELECT event_type,
        |    list_reduce(list_prepend(0.0::DOUBLE,
        |      list(rel / (ln(rank::DOUBLE + 1.0::DOUBLE)
        |        / ln(2.0::DOUBLE)) ORDER BY rank)),
        |      (a2, x2) -> a2 + x2) AS dcg
        |  FROM r GROUP BY event_type),
        |pos AS (SELECT event_type, grade::DOUBLE AS g FROM ev
        |  WHERE grade > 0),
        |ideal AS (SELECT event_type, g, d FROM (
        |    SELECT event_type, g, row_number() OVER (
        |      PARTITION BY event_type ORDER BY g DESC) AS d
        |    FROM pos) WHERE d <= 10),
        |idcg AS (SELECT event_type,
        |    list_reduce(list_prepend(0.0::DOUBLE,
        |      list(g / (ln(d::DOUBLE + 1.0::DOUBLE)
        |        / ln(2.0::DOUBLE)) ORDER BY d)),
        |      (a2, x2) -> a2 + x2) AS idcg
        |  FROM ideal GROUP BY event_type),
        |nrel AS (SELECT event_type, count(*)::BIGINT AS n_relevant
        |  FROM pos GROUP BY event_type)
        |SELECT dcg.event_type, coalesce(n_relevant, 0) AS n_relevant,
        |  CASE WHEN idcg > 0 THEN round(dcg / idcg, 4) END AS ndcg
        |FROM dcg LEFT JOIN idcg USING (event_type)
        |LEFT JOIN nrel USING (event_type)""".stripMargin),

    // Reciprocal rank @10 of the exact cosine ranking against label
    // relevance — "how far to the first good result", the first-hit
    // complement of q298's nDCG and q297's RBO
    Query("q314_reciprocal_rank", (s, d) => {
      import graft.functions.VectorFunctions.{l2Norm, toDouble}
      val emb = t(s, d, "embeddings")
      val rankable = emb.filter(l2Norm(toDouble(col("embedding"))) > 0)
      val probes = rankable.filter(col("vec_id") < 5)
      val exact = graft.operators.Similarity.bruteForceTopK(emb, probes, k = 10)
      val lab = rankable.select(col("vec_id"), col("label"))
      val ranked = exact
        .join(lab.select(col("vec_id").as("corpus_id"), col("label").as("cl")),
          "corpus_id")
        .join(lab.select(col("vec_id").as("probe_id"), col("label").as("pl")),
          "probe_id")
        .withColumn("rel", when(col("cl") === col("pl"), 1.0).otherwise(0.0))
      graft.operators.Retrieval.reciprocalRank(ranked, "probe_id", "rank",
        "rel", k = 10)
    },
      // Reciprocal-rank replay: q298's exact top-10 CTE, min matching
      // rank per probe, rr = 1/rank with the no-hit 0.0 convention
      """WITH rk AS (SELECT vec_id, label, embedding FROM embeddings
        |  WHERE list_dot_product(embedding::DOUBLE[],
        |    embedding::DOUBLE[]) > 0),
        |topk AS (
        |  SELECT probe_id, corpus_id, rank FROM (
        |   SELECT p.vec_id AS probe_id, c.vec_id AS corpus_id,
        |    row_number() OVER (PARTITION BY p.vec_id
        |      ORDER BY list_cosine_similarity(c.embedding::DOUBLE[],
        |        p.embedding::DOUBLE[]) DESC, c.vec_id) AS rank
        |   FROM rk c JOIN rk p ON c.vec_id <> p.vec_id
        |   WHERE p.vec_id < 5)
        |  WHERE rank <= 10),
        |r AS (SELECT t.probe_id, t.rank,
        |    CASE WHEN cl.label = pl.label THEN 1 ELSE 0 END AS rel
        |  FROM topk t JOIN rk cl ON cl.vec_id = t.corpus_id
        |    JOIN rk pl ON pl.vec_id = t.probe_id),
        |fr AS (SELECT probe_id, min(rank)::BIGINT AS first_relevant_rank
        |  FROM r WHERE rel = 1 GROUP BY probe_id),
        |g AS (SELECT DISTINCT probe_id FROM r)
        |SELECT g.probe_id, first_relevant_rank,
        |  coalesce(round(1.0 / first_relevant_rank::DOUBLE, 4), 0.0) AS rr
        |FROM g LEFT JOIN fr USING (probe_id)""".stripMargin),

    // Maximal-marginal-relevance selection: from vec 0's top-20 cosine
    // neighbors, greedily pick the 5 that stay relevant WITHOUT echoing
    // each other (λ=0.75 — exact in binary, so both engines fold the
    // same literals). The diversity-aware top-k of few-shot selection.
    Query("q335_mmr", (s, d) => {
      val emb = t(s, d, "embeddings")
      val topk = graft.operators.Similarity.bruteForceTopK(
        emb, emb.filter(col("vec_id") === 0), k = 20)
      val candidates = topk
        .join(emb, topk("corpus_id") === emb("vec_id"))
        .select(col("corpus_id").as("id"), col("cosine").as("rel"),
          col("embedding"))
      graft.operators.Similarity.mmrSelect(candidates, "id", "rel",
        "embedding", k = 5, lambda = 0.75)
    },
      // MMR replay: same top-20 pool, 5 unrolled greedy steps on raw
      // cosine doubles with exact 0.75/0.25 literals
      mmrOracleSql(5)),

    // Mean-direction anisotropy: how much embedding energy lies along
    // the corpus mean direction (the center-before-cosine pathology
    // number) + the dominant coordinate and its share — exact DECIMAL
    // first moments, dim-bounded fold
    Query("q361_anisotropy", (s, d) =>
      graft.operators.Similarity.meanDirectionAnisotropy(
        t(s, d, "embeddings"), "vec_id", "embedding"),
      // Anisotropy replay: same 4dp-canonical coordinates, exact decimal
      // S_j/E sums per 0-based dim, the identical dim-ordered double fold
      """WITH v AS (SELECT embedding AS e FROM embeddings
        |  WHERE embedding IS NOT NULL),
        |ex AS (SELECT p.pos,
        |    round(e[p.pos + 1]::DOUBLE, 4)::DECIMAL(14,4) AS x
        |  FROM v CROSS JOIN
        |    (SELECT unnest(generate_series(0, 63)) AS pos) p),
        |s AS MATERIALIZED (SELECT pos,
        |    CAST(sum(x) AS DECIMAL(38,4)) AS sj,
        |    CAST(sum(CAST(x * x AS DECIMAL(38,8))) AS DECIMAL(38,8)) AS ej
        |  FROM ex GROUP BY pos),
        |n1 AS (SELECT count(*)::BIGINT AS n_vecs FROM v),
        |tp AS (SELECT pos AS top_dim, sj::DOUBLE AS st FROM s
        |  ORDER BY abs(sj) DESC, pos LIMIT 1),
        |f AS (SELECT CAST(sum(ej) AS DECIMAL(38,8)) AS e,
        |    list_reduce(list_prepend(0.0::DOUBLE,
        |      list(sj::DOUBLE ORDER BY pos)),
        |      (acc, x) -> acc + x * x) AS ss
        |  FROM s)
        |SELECT n_vecs, CAST(e AS VARCHAR) AS total_energy,
        |  ss / (n_vecs::DOUBLE * e::DOUBLE) AS anisotropy,
        |  top_dim, st * st / ss AS top_share
        |FROM f, n1, tp""".stripMargin),

    // Matryoshka prefix-dimension energy census: per stored-dimension
    // candidate d, how many embeddings keep >=50/90/99% of their
    // squared-norm energy in the first d coords — the truncation-
    // planning table before cutting ANN index cost; narrow folds,
    // one partial+final agg, d=dim anchors at exactly 1.0
    Query("q356_matryoshka_census", (s, d) =>
      graft.operators.Similarity.matryoshkaEnergyCensus(
        t(s, d, "embeddings"), "vec_id", "embedding",
        Seq(8, 16, 32, 64)),
      // Matryoshka replay: identical float→double cast + square +
      // index-order left fold per prefix (the normStats fold idiom),
      // integer threshold counts on bit-identical fractions
      """WITH v AS (SELECT vec_id, embedding AS e FROM embeddings
        |  WHERE embedding IS NOT NULL),
        |f AS MATERIALIZED (SELECT vec_id, e,
        |    list_reduce(list_prepend(0.0::DOUBLE,
        |      list_transform(e, x -> x::DOUBLE)),
        |      (acc, x) -> acc + x * x) AS efull
        |  FROM v),
        |ds AS (SELECT unnest([8, 16, 32, 64]) AS d),
        |p AS (SELECT f.vec_id, ds.d,
        |    list_reduce(list_prepend(0.0::DOUBLE,
        |      list_transform(e[1:ds.d], x -> x::DOUBLE)),
        |      (acc, x) -> acc + x * x) / efull AS frac
        |  FROM f CROSS JOIN ds WHERE efull > 0.0)
        |SELECT d, count(*)::BIGINT AS n_vecs,
        |  sum(CASE WHEN frac >= 0.5::DOUBLE THEN 1 ELSE 0 END)::BIGINT
        |    AS n_ge_50,
        |  sum(CASE WHEN frac >= 0.9::DOUBLE THEN 1 ELSE 0 END)::BIGINT
        |    AS n_ge_90,
        |  sum(CASE WHEN frac >= 0.99::DOUBLE THEN 1 ELSE 0 END)::BIGINT
        |    AS n_ge_99,
        |  sum(CASE WHEN frac >= 0.9::DOUBLE THEN 1 ELSE 0 END)::DOUBLE
        |    / count(*)::DOUBLE AS share_ge_90
        |FROM p GROUP BY d""".stripMargin),

    // Catalog coverage / novelty / popularity-collapse of the cosine
    // top-5 recommender (every 10th vec as a user): do the lists show
    // anything beyond the same few popular neighbors?
    Query("q342_rec_coverage", (s, d) => {
      val emb = t(s, d, "embeddings")
      val catalog = emb
        .filter(col("embedding").isNotNull)
        .select(graft.functions.VectorFunctions.l2Norm(
          graft.functions.VectorFunctions.toDouble(col("embedding")))
          .as("__n"))
        .filter(col("__n") > 0).count()
      val recs = graft.operators.Similarity.bruteForceTopK(
        emb, emb.filter(col("vec_id") % 10 === 0), k = 5)
      graft.operators.Retrieval.coverageNovelty(recs, "probe_id",
        "corpus_id", catalogSize = catalog)
    },
      // Coverage/novelty replay: same top-5 lists (cosine desc, id
      // tie-break), −log₂ self-information terms at the ndcg 4dp ln-ulp
      // convention, frequency-weighted DECIMAL fold
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nn
        |  FROM e WHERE list_dot_product(v, v) > 0),
        |cat AS (SELECT count(*)::BIGINT AS cs FROM n),
        |p AS (SELECT vec_id AS pid, v AS pv, nn AS pn FROM n
        |  WHERE vec_id % 10 = 0),
        |sc AS (SELECT n.vec_id AS cid, p.pid,
        |    list_dot_product(n.v, p.pv) / (n.nn * p.pn) AS cos
        |  FROM n CROSS JOIN p WHERE n.vec_id <> p.pid),
        |rk AS (SELECT pid, cid FROM (SELECT pid, cid,
        |    row_number() OVER (PARTITION BY pid
        |      ORDER BY cos DESC, cid) AS r FROM sc) WHERE r <= 5),
        |u AS (SELECT count(DISTINCT pid)::BIGINT AS nu FROM rk),
        |it AS (SELECT cid, count(*)::BIGINT AS f FROM rk GROUP BY 1),
        |ag AS (SELECT count(*)::BIGINT AS ndist, sum(f)::BIGINT AS nrec,
        |    CAST(SUM(round(-(ln(f::DOUBLE / nu::DOUBLE)
        |      / ln(2.0::DOUBLE)), 4)::DECIMAL(18,4) * f)
        |      AS DECIMAL(38,4)) AS nov,
        |    max(f)::BIGINT AS maxf, any_value(nu) AS nu2
        |  FROM it CROSS JOIN u)
        |SELECT nu2 AS n_users, cs AS catalog_size,
        |  ndist AS n_distinct_recommended,
        |  round(ndist::DOUBLE / cs::DOUBLE, 4) AS coverage,
        |  round(nov::DOUBLE / nrec::DOUBLE, 4) AS novelty,
        |  round(maxf::DOUBLE / nu2::DOUBLE, 4) AS max_item_share
        |FROM ag CROSS JOIN cat""".stripMargin),

    // Rank-biased overlap between the exact cosine top-10 and the
    // banded-LSH top-10, per probe (p = 0.9) — the top-weighted ANN
    // quality audit: disagreement at rank 1 costs more than at rank 10,
    // which plain recall can't see
    Query("q297_rank_overlap", (s, d) => {
      val emb = t(s, d, "embeddings")
      val probes = emb.filter(col("vec_id") < 5)
      graft.operators.Retrieval.rankBiasedOverlap(
        graft.operators.Similarity.bruteForceTopK(emb, probes, k = 10),
        graft.operators.Similarity.bandedLshTopK(emb, probes, k = 10),
        "probe_id", "corpus_id", "rank", p = 0.9, k = 10)
    },
      // RBO replay: both rankings rebuilt (exact chain + the banded-LSH
      // replay as a derived table), then the same multiplicative-weight
      // prefix-intersection fold, d smuggled through the element struct
      {
      val lshSql = bandedLshTopKOracleSql(k = 10, maxProbeId = 5)
      s"""WITH exact AS (
         |  SELECT probe_id, corpus_id, rank FROM (
         |   SELECT p.vec_id AS probe_id, c.vec_id AS corpus_id,
         |    row_number() OVER (PARTITION BY p.vec_id
         |      ORDER BY list_cosine_similarity(c.embedding::DOUBLE[],
         |        p.embedding::DOUBLE[]) DESC, c.vec_id) AS rank
         |   FROM embeddings c JOIN embeddings p ON c.vec_id <> p.vec_id
         |   WHERE p.vec_id < 5
         |    AND list_dot_product(c.embedding::DOUBLE[],
         |      c.embedding::DOUBLE[]) > 0
         |    AND list_dot_product(p.embedding::DOUBLE[],
         |      p.embedding::DOUBLE[]) > 0)
         |  WHERE rank <= 10),
         |lsh AS (SELECT probe_id, corpus_id, rank FROM ($lshSql)),
         |la AS (SELECT probe_id, list(corpus_id ORDER BY rank) AS l
         |  FROM exact GROUP BY probe_id),
         |lb AS (SELECT probe_id, list(corpus_id ORDER BY rank) AS l
         |  FROM lsh GROUP BY probe_id)
         |SELECT la.probe_id,
         |  round((list_reduce(list_prepend(
         |    struct_pack(acc := 0.0::DOUBLE, w := 1.0::DOUBLE),
         |    list_transform(generate_series(1, 10),
         |      d -> struct_pack(acc := d::DOUBLE, w := 0.0::DOUBLE))),
         |    (s2, x2) -> struct_pack(
         |      acc := s2.acc + s2.w *
         |        (len(list_intersect(la.l[1:CAST(x2.acc AS INT)],
         |          lb.l[1:CAST(x2.acc AS INT)]))::DOUBLE / x2.acc),
         |      w := s2.w * 0.9::DOUBLE))).acc
         |    * (1.0::DOUBLE - 0.9::DOUBLE), 4) AS rbo
         |FROM la JOIN lb ON lb.probe_id = la.probe_id""".stripMargin
    }),

    // nDCG@10 of the exact cosine ranking against binary label
    // relevance — the graded retrieval-quality score whose ideal
    // normalizer counts ALL findable same-label vectors in the corpus
    Query("q298_ndcg", (s, d) => {
      import graft.functions.VectorFunctions.{l2Norm, toDouble}
      val emb = t(s, d, "embeddings")
      val rankable = emb.filter(l2Norm(toDouble(col("embedding"))) > 0)
      val probes = rankable.filter(col("vec_id") < 5)
      val exact = graft.operators.Similarity.bruteForceTopK(emb, probes, k = 10)
      val lab = rankable.select(col("vec_id"), col("label"))
      val ranked = exact
        .join(lab.select(col("vec_id").as("corpus_id"), col("label").as("cl")),
          "corpus_id")
        .join(lab.select(col("vec_id").as("probe_id"), col("label").as("pl")),
          "probe_id")
        .withColumn("rel", when(col("cl") === col("pl"), 1.0).otherwise(0.0))
      val totals = probes
        .select(col("vec_id").as("probe_id"), col("label").as("pl"))
        .join(lab.select(col("vec_id").as("cid"), col("label").as("cl2")),
          col("cid") =!= col("probe_id") && col("cl2") === col("pl"), "left")
        .groupBy(col("probe_id")).agg(count(col("cid")).as("n_rel"))
      graft.operators.Retrieval.ndcgAtK(ranked, "probe_id", "rank", "rel",
        totals, "n_rel", k = 10)
    },
      // nDCG replay: exact chain + label joins, rank-ordered DCG fold,
      // ideal fold over min(k, corpus-wide relevant count); log2 spelled
      // ln/ln in both engines
      """WITH rk AS (SELECT vec_id, label, embedding FROM embeddings
        |  WHERE list_dot_product(embedding::DOUBLE[],
        |    embedding::DOUBLE[]) > 0),
        |topk AS (
        |  SELECT probe_id, corpus_id, rank FROM (
        |   SELECT p.vec_id AS probe_id, c.vec_id AS corpus_id,
        |    row_number() OVER (PARTITION BY p.vec_id
        |      ORDER BY list_cosine_similarity(c.embedding::DOUBLE[],
        |        p.embedding::DOUBLE[]) DESC, c.vec_id) AS rank
        |   FROM rk c JOIN rk p ON c.vec_id <> p.vec_id
        |   WHERE p.vec_id < 5)
        |  WHERE rank <= 10),
        |r AS (SELECT t.probe_id, t.rank,
        |    CASE WHEN cl.label = pl.label THEN 1.0::DOUBLE
        |      ELSE 0.0::DOUBLE END AS rel
        |  FROM topk t JOIN rk cl ON cl.vec_id = t.corpus_id
        |    JOIN rk pl ON pl.vec_id = t.probe_id),
        |dcg AS (SELECT probe_id,
        |    list_reduce(list_prepend(0.0::DOUBLE,
        |      list(rel / (ln(rank::DOUBLE + 1.0::DOUBLE)
        |        / ln(2.0::DOUBLE)) ORDER BY rank)),
        |      (a2, x2) -> a2 + x2) AS dcg
        |  FROM r GROUP BY probe_id),
        |tot AS (SELECT p.vec_id AS probe_id,
        |    count(c.vec_id)::BIGINT AS n_relevant
        |  FROM rk p LEFT JOIN rk c
        |    ON c.vec_id <> p.vec_id AND c.label = p.label
        |  WHERE p.vec_id < 5 GROUP BY p.vec_id)
        |SELECT d.probe_id, n_relevant,
        |  CASE WHEN n_relevant > 0 THEN
        |    round(dcg / list_reduce(list_prepend(0.0::DOUBLE,
        |      list_transform(generate_series(1,
        |        CAST(least(10, n_relevant) AS INT)),
        |        dd -> 1.0::DOUBLE / (ln(dd::DOUBLE + 1.0::DOUBLE)
        |          / ln(2.0::DOUBLE)))),
        |      (a2, x2) -> a2 + x2), 4) END AS ndcg
        |FROM dcg d JOIN tot USING (probe_id)""".stripMargin),

    // Per-label embedding centroid drift between two snapshots (even
    // vs odd vec_ids stand in for encoder v1/v2): centroid cosine +
    // norm ratio per label — the rotate-or-rescale audit run before
    // mixing embedding versions in one index
    Query("q295_centroid_drift", (s, d) => {
      val emb = t(s, d, "embeddings")
      graft.operators.Similarity.labelCentroidDrift(
        emb.filter(col("vec_id") % 2 === 0),
        emb.filter(col("vec_id") % 2 =!= 0))
    },
      // Centroid-drift replay: 6dp-rounded DECIMAL(18,6) component sums
      // (int64-backed — both engines' decimal→double conversions stay
      // correctly rounded), dim-ordered folds, identical double op order
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
        |  FROM embeddings),
        |x AS (SELECT vec_id % 2 AS side, label, i AS dim,
        |    CAST(round(v[i], 6) AS DECIMAL(18,6)) AS c
        |  FROM (SELECT vec_id, label,
        |      unnest(generate_series(1, len(v))) AS i, v FROM e)),
        |s AS (SELECT label, dim,
        |    CAST(CAST(SUM(c) FILTER (side = 0) AS DECIMAL(18,6))
        |      AS DOUBLE) AS sa,
        |    CAST(CAST(SUM(c) FILTER (side = 1) AS DECIMAL(18,6))
        |      AS DOUBLE) AS sb
        |  FROM x GROUP BY label, dim),
        |n AS (SELECT label,
        |    COUNT(*) FILTER (vec_id % 2 = 0) AS n_a,
        |    COUNT(*) FILTER (vec_id % 2 = 1) AS n_b
        |  FROM e GROUP BY label),
        |f AS (SELECT label,
        |    list(struct_pack(dim := dim, sa := sa, sb := sb)
        |      ORDER BY dim) AS l
        |  FROM s WHERE sa IS NOT NULL AND sb IS NOT NULL GROUP BY label),
        |g AS (SELECT label,
        |    list_reduce(list_prepend(0.0,
        |      list_transform(l, q -> q.sa * q.sb)),
        |      (a2, x2) -> a2 + x2) AS dot,
        |    list_reduce(list_prepend(0.0,
        |      list_transform(l, q -> q.sa * q.sa)),
        |      (a2, x2) -> a2 + x2) AS na2,
        |    list_reduce(list_prepend(0.0,
        |      list_transform(l, q -> q.sb * q.sb)),
        |      (a2, x2) -> a2 + x2) AS nb2
        |  FROM f)
        |SELECT g.label, n_a, n_b,
        |  CASE WHEN na2 > 0 AND nb2 > 0
        |    THEN round(dot / sqrt(na2 * nb2), 4) END AS centroid_cosine,
        |  CASE WHEN na2 > 0 AND nb2 > 0
        |    THEN round(sqrt(na2) * n_b / (sqrt(nb2) * n_a), 4) END
        |    AS norm_ratio
        |FROM g JOIN n USING (label)""".stripMargin),

    // Served banded-LSH top-k: q34's search through a PERSISTED
    // (band, key)-partitioned signature index — probe band keys become
    // partition filters, so candidate generation is a pruned scan of
    // narrow id rows (no per-query signature recompute, no corpus
    // shuffle). Bit-identical to the in-query form; same oracle as q34.
    Query("q291_lsh_served", (s, d) => {
      val tmp = sys.props("java.io.tmpdir")
      val path = s"$tmp/graft_q291_lsh_${s.sparkContext.applicationId}"
      rmrf(new java.io.File(path))
      val emb = t(s, d, "embeddings")
      graft.operators.Similarity.writeLshIndex(emb, path)
      graft.operators.Similarity.bandedLshTopKFromIndex(s, path,
        emb.filter(col("vec_id") < 5), k = 10)
        .withColumn("cosine", round(col("cosine"), 4))
    },
      // Served-index replay: the persisted (band, key) layout must return
      // BIT-IDENTICAL results to the in-query banding — same oracle
      bandedLshTopKOracleSql(k = 10, maxProbeId = 5)),

    // int8 quantized top-k: exact integer code dot products rescaled by
    // per-vector scales — the 4×-smaller search path q288's audit
    // justifies
    Query("q289_int8_topk", (s, d) =>
      graft.operators.Similarity.int8TopK(
        t(s, d, "embeddings"),
        t(s, d, "embeddings").filter(col("vec_id") < 5), k = 10),
      // int8 top-k replay: same quantization CTEs; the code dot is an
      // exact integer, so ordering reduces to a handful of double ops
      // with the corpus_id tie-break
      """WITH vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v
        |  FROM embeddings
        |  WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
        |m AS (SELECT vec_id, v,
        |    list_max(list_transform(v, x -> abs(x))) AS mx FROM vecs),
        |s AS (SELECT vec_id, v, mx / 127.0 AS sc,
        |    sqrt(list_dot_product(v, v)) AS nrm FROM m WHERE mx > 0),
        |q AS (SELECT vec_id, sc, nrm,
        |    list_transform(v, x ->
        |      greatest(-127.0, least(127.0, round(x / sc)))) AS qv
        |  FROM s),
        |j AS (SELECT p.vec_id AS probe_id, c.vec_id AS corpus_id,
        |    list_sum(list_transform(generate_series(1, len(c.qv)),
        |      i -> c.qv[i] * p.qv[i])) * c.sc * p.sc / (c.nrm * p.nrm)
        |      AS qcos
        |  FROM q c JOIN q p ON p.vec_id < 5 AND c.vec_id <> p.vec_id)
        |SELECT probe_id, corpus_id, round(qcos, 4) AS qcos, rank FROM (
        |  SELECT probe_id, corpus_id, qcos,
        |    row_number() OVER (PARTITION BY probe_id
        |      ORDER BY qcos DESC, corpus_id) AS rank
        |  FROM j)
        |WHERE rank <= 10""".stripMargin),

    // int8 quantization audit: per-vector symmetric scale, round+clamp,
    // relative-L2 + worst-component reconstruction error — the 4×
    // compression decision next to PQ (q146) and JL (q280)
    Query("q288_int8_quant", (s, d) =>
      graft.operators.Similarity.int8QuantAudit(t(s, d, "embeddings")),
      // int8 replay: same per-vector scale, same round/clamp, same
      // sequential squared-error folds; round() is half-away-from-zero
      // on both engines
      """WITH vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v
        |  FROM embeddings
        |  WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
        |m AS (SELECT vec_id, v,
        |    list_max(list_transform(v, x -> abs(x))) AS mx FROM vecs),
        |s AS (SELECT vec_id, v, mx / 127.0 AS sc FROM m WHERE mx > 0),
        |d AS (SELECT vec_id, v,
        |    list_transform(v, x ->
        |      greatest(-127.0, least(127.0, round(x / sc))) * sc) AS dq
        |  FROM s),
        |e AS (SELECT vec_id, v,
        |    list_transform(generate_series(1, len(v)), i -> v[i] - dq[i])
        |      AS df FROM d)
        |SELECT vec_id,
        |  round(sqrt(list_sum(list_transform(df, x -> x * x)))
        |    / sqrt(list_dot_product(v, v)), 4) AS rel_err,
        |  round(list_max(list_transform(df, x -> abs(x))), 4)
        |    AS max_comp_err
        |FROM e""".stripMargin),

    // IVF cell-balance audit: occupancy census of the q52 coarse
    // quantizer — max/mean ratio + occupancy entropy, the probe-latency
    // health check that decides quantizer retraining
    Query("q285_ivf_balance", (s, d) => {
      val emb = t(s, d, "embeddings")
      val model = graft.operators.IvfIndex.train(emb, k = 8, iterations = 3)
      graft.operators.IvfIndex.cellBalanceAudit(emb, model)
    },
      // Balance replay: Lloyd's chain + census + ordered entropy fold
      ivfBalanceOracleSql(kCells = 8, iterations = 3)),

    // k-NN label agreement: per probe the fraction of its exact top-10
    // cosine neighbors sharing its label — the label-noise /
    // boundary-sample review queue
    Query("q284_knn_label_agreement", (s, d) =>
      graft.operators.Similarity.knnLabelAgreement(
        t(s, d, "embeddings"),
        t(s, d, "embeddings").filter(col("vec_id") < 5),
        "label", k = 10),
      // Agreement replay: q32's exact top-k chain with labels carried,
      // integer same-label counts, one divide
      """WITH nn AS (SELECT probe_id, label, clab FROM (
        | SELECT p.vec_id AS probe_id, p.label AS label,
        |  c.label AS clab,
        |  row_number() OVER (PARTITION BY p.vec_id
        |    ORDER BY list_cosine_similarity(c.embedding::DOUBLE[],
        |      p.embedding::DOUBLE[]) DESC, c.vec_id) AS rank
        | FROM embeddings c JOIN embeddings p ON c.vec_id <> p.vec_id
        | WHERE p.vec_id < 5
        |  AND list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]) > 0
        |  AND list_dot_product(p.embedding::DOUBLE[], p.embedding::DOUBLE[]) > 0)
        |WHERE rank <= 10)
        |SELECT probe_id, label, count(*)::BIGINT AS k,
        |  sum(CASE WHEN clab = label THEN 1 ELSE 0 END)::BIGINT AS n_same,
        |  round(sum(CASE WHEN clab = label THEN 1 ELSE 0 END)::DOUBLE
        |    / count(*)::DOUBLE, 4) AS agreement
        |FROM nn GROUP BY probe_id, label""".stripMargin),

    // SERVED semantic decontamination: q260's gate replayed through a
    // PERSISTED corpus LSH index — eval band keys become partition
    // filters over the stored (band, key) layout, the corpus is never
    // re-signatured. Bit-identical to q260 by construction (same
    // candidate rule, same cosine gate) — the shared oracle proves it
    Query("q309_decontam_served", (s, d) => {
      val tmp = sys.props("java.io.tmpdir")
      val path = s"$tmp/graft_q309_lsh_${s.sparkContext.applicationId}"
      rmrf(new java.io.File(path))
      val emb = t(s, d, "embeddings")
      graft.operators.Similarity.writeLshIndex(
        emb.filter(col("vec_id") % 97 =!= 0), path)
      graft.operators.TrainingData.decontaminateSemanticServed(
        emb.filter(col("vec_id") % 97 === 0), path, threshold = 0.3)
    },
      // Served-index replay: the persisted corpus layout must return
      // BIT-IDENTICAL decontamination results to q260's in-query banding
      // — same oracle (the q291/q34 served-equality convention)
      semanticDecontamOracleSql),

    // Embedding-norm health: nearest-rank quartiles on the distinct-
    // norm frame, Tukey-fence outliers, zero-vector census
    Query("q243_norm_stats", (s, d) =>
      graft.operators.Similarity.normStats(t(s, d, "embeddings"),
        "embedding"),
      // Norm-stats replay: index-ordered Σx² folds + √, distinct-norm
      // cumulative quartiles, same fence sequence
      """WITH nr AS (SELECT sqrt(list_reduce(list_prepend(0.0,
        |    list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)),
        |    (a, b) -> a + b)) AS norm FROM embeddings),
        |g AS (SELECT norm, count(*)::BIGINT AS c FROM nr GROUP BY norm),
        |cu AS (SELECT norm, c, sum(c) OVER (ORDER BY norm)::BIGINT AS cu,
        |    (SELECT count(*) FROM nr)::BIGINT AS n FROM g),
        |qs AS (SELECT max(n)::BIGINT AS n,
        |    min(CASE WHEN cu >= (25 * n + 99) // 100 THEN norm END)
        |      AS p25,
        |    min(CASE WHEN cu >= (50 * n + 99) // 100 THEN norm END)
        |      AS p50,
        |    min(CASE WHEN cu >= (75 * n + 99) // 100 THEN norm END)
        |      AS p75
        |  FROM cu)
        |SELECT qs.n AS n_vectors, round(qs.p25, 4) AS p25,
        |  round(qs.p50, 4) AS p50, round(qs.p75, 4) AS p75,
        |  (SELECT coalesce(sum(CASE WHEN g.norm >
        |      qs.p75 + 1.5::DOUBLE * (qs.p75 - qs.p25) THEN g.c
        |      ELSE 0 END), 0) FROM g)::BIGINT AS n_outliers,
        |  (SELECT coalesce(sum(CASE WHEN g.norm = 0.0 THEN g.c
        |      ELSE 0 END), 0) FROM g)::BIGINT AS n_zero
        |FROM qs""".stripMargin),

    // ADC→exact rerank contract: the compressed scan over-fetches 100
    // candidates, exact L2 re-scores them. recall_ok pins the measured
    // floor vs exact-L2 top-10 (observed per-probe minima 5 across SFs;
    // floor 3 with margin, the q75 convention). improves_ok pins the
    // PROVABLE property that rerank can only add exact-top-10 members
    // relative to ADC-only at the same nprobe (ADC top-10 ⊆ the
    // candidate set, and any exact-top-10 member among candidates
    // survives an exact re-score).
    Query("q254_adc_rerank_recall", (s, d) => {
      val emb = t(s, d, "embeddings")
      val probes = emb.filter(col("vec_id") < 5)
      val model = graft.operators.IvfAdc.train(emb, kCells = 8, m = 8,
        pqK = 16, iterations = 3, dim = 64)
      val codes = graft.operators.IvfAdc.encode(emb, model)
      val exact = Similarity.bruteForceTopKL2(emb, probes, 10)
        .select(col("probe_id"), col("corpus_id"))
      def hitsOf(ap: DataFrame): DataFrame =
        exact.join(ap.select(col("probe_id"), col("corpus_id"))
            .withColumn("hit", lit(1)), Seq("probe_id", "corpus_id"), "left")
          .groupBy(col("probe_id"))
          .agg(count(lit(1)).as("k"), sum(coalesce(col("hit"), lit(0))).as("hits"))
      val rer = hitsOf(graft.operators.IvfAdc.topKReranked(codes, emb, probes,
        model, nprobe = 6, rerank = 100, k = 10))
      val adc = hitsOf(graft.operators.IvfAdc.topK(codes, probes, model,
        nprobe = 6, k = 10)).select(col("probe_id"), col("hits").as("adc_hits"))
      rer.join(adc, Seq("probe_id"))
        .select(col("probe_id"), col("k"), (col("hits") >= 3).as("recall_ok"),
          (col("hits") >= col("adc_hits")).as("improves_ok"))
    },
      """SELECT vec_id AS probe_id, CAST(10 AS BIGINT) AS k,
        | TRUE AS recall_ok, TRUE AS improves_ok
        |FROM embeddings WHERE vec_id < 5""".stripMargin),

    // Incremental IVFADC: train on the even half, persist the cell-
    // partitioned code index, APPEND the odd half with the frozen
    // models, probe through partition-pruned cell reads — bit-identical
    // to a one-shot index with these models
    Query("q164_ivfadc_incremental", (s, d) => {
      val emb = t(s, d, "embeddings")
      val even = emb.filter(col("vec_id") % 2 === 0)
      val odd = emb.filter(col("vec_id") % 2 =!= 0)
      val path = s"${sys.props("java.io.tmpdir")}/graft_ivfadc_incr_" +
        s.sparkContext.applicationId
      val model = graft.operators.IvfAdc.train(even, kCells = 8, m = 8,
        pqK = 16, iterations = 3, dim = 64)
      graft.operators.IvfAdc.writeIndex(even, model, path)
      graft.operators.IvfAdc.appendToIndex(odd, path)
      graft.operators.IvfAdc.topKFromIndex(s, path,
        emb.filter(col("vec_id") < 5), nprobe = 4, k = 10)
    },
      // frozen-model append == one-shot build: replay BOTH trainings on
      // the even half, assignment/encode/ADC over the full corpus
      ivfadcOracleSql(k = 10, nprobe = 4,
      kCells = 8, m = 8, dsub = 8, pqK = 16, iterations = 3,
      maxProbeId = 5, trainWhere = "WHERE id % 2 = 0")),

    // IVFADC: coarse IVF (8 cells) + PQ (8×16) on residuals; probes
    // search nprobe=4 cells via per-cell ADC tables on the probe's cell
    // residual — the canonical compressed-inverted-list ANN composition
    Query("q153_ivfadc", (s, d) => {
      val emb = t(s, d, "embeddings")
      val model = graft.operators.IvfAdc.train(emb, kCells = 8, m = 8,
        pqK = 16, iterations = 3, dim = 64)
      val codes = graft.operators.IvfAdc.encode(emb, model)
      graft.operators.IvfAdc.topK(codes,
        emb.filter(col("vec_id") < 5), model, nprobe = 4, k = 10)
    },
      ivfadcOracleSql(k = 10, nprobe = 4, kCells = 8,
      m = 8, dsub = 8, pqK = 16, iterations = 3, maxProbeId = 5)),

    // Hard-negative mining: per probe, top-10 most-similar CROSS-label
    // vectors (contrastive-training negatives); probes broadcast, corpus
    // scanned once
    Query("q145_hard_negatives", (s, d) =>
      Similarity.hardNegatives(
        t(s, d, "embeddings"),
        t(s, d, "embeddings").filter(col("vec_id") < 5),
        "label", k = 10)
        .withColumn("cosine", round(col("cosine"), 4)),
      // Hard negatives: the q32 brute-force shape plus the cross-label
      // join predicate; norm>0 mirrors withNorm's zero-norm filter
      """SELECT probe_id, p_label, corpus_id, c_label, cosine, rank FROM (
        |  SELECT p.vec_id AS probe_id, p.label AS p_label,
        |    c.vec_id AS corpus_id, c.label AS c_label,
        |    round(list_cosine_similarity(c.embedding::DOUBLE[],
        |      p.embedding::DOUBLE[]), 4) AS cosine,
        |    row_number() OVER (PARTITION BY p.vec_id ORDER BY
        |      list_cosine_similarity(c.embedding::DOUBLE[],
        |        p.embedding::DOUBLE[]) DESC, c.vec_id) AS rank
        |  FROM embeddings c JOIN embeddings p
        |    ON c.vec_id <> p.vec_id AND c.label <> p.label
        |  WHERE p.vec_id < 5
        |    AND list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]) > 0
        |    AND list_dot_product(p.embedding::DOUBLE[], p.embedding::DOUBLE[]) > 0)
        |WHERE rank <= 10""".stripMargin),

    // Product quantization + ADC search: 8 subspaces × 16 codes trained
    // by 3 Lloyd's rounds, corpus encoded to 8 codes/vector (32×
    // compression), probes scored via the m×k lookup table
    Query("q146_pq_adc", (s, d) => {
      val emb = t(s, d, "embeddings")
      val model = graft.operators.PqIndex.train(emb, dim = 64, m = 8,
        k = 16, iterations = 3)
      val codes = graft.operators.PqIndex.encode(emb, model)
      graft.operators.PqIndex.adcTopK(codes,
        emb.filter(col("vec_id") < 5), model, k = 10)
    },
      pqAdcOracleSql(k = 10, m = 8, dsub = 8, kCodes = 16,
      iterations = 3, maxProbeId = 5)))
}
