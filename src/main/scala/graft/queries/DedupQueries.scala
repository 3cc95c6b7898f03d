package graft
package queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.operators.{Dedup, Similarity, TextAnalysis}

import Shared._

/** Deduplication ([[graft.operators.Dedup]]): exact, MinHash/SimHash/winnowing
  * near-dups, embedding near-dups, record linkage and dedup accounting.
  */
object DedupQueries {

  /** q225's field spec — (name, m, u) — shared by the Spark plan and
    * the oracle so both engines sum the SAME log-likelihood weight
    * doubles (the langIdOracleSql one-source-of-truth stance).
    */
  private val linkageFields = Seq(
    ("segment", 0.9, 0.2), ("acctbal_k", 0.85, 0.1), ("cent_digit", 0.7, 0.1))

  /** q225 replayed: same blocked pairs, null-safe field agreement, and
    * weight literals interpolated from the SAME Scala constants
    * (shortest round-trip repr → identical doubles).
    */
  private def linkageOracleSql: String = {
    def ds(x: Double) = java.lang.Double.toString(x)
    val fieldSql = Seq(
      "c_mktsegment",
      "((c_acctbal::DECIMAL(12,2) * 100)::BIGINT) // 100000",
      "((c_acctbal::DECIMAL(12,2) * 100)::BIGINT) % 10")
    val defs = fieldSql.zipWithIndex
      .map { case (f, i) => s"$f AS f$i" }.mkString(",\n    ")
    val agree = linkageFields.indices.map(i =>
      s"CASE WHEN a.f$i IS NOT DISTINCT FROM b.f$i THEN 1 ELSE 0 END")
      .mkString("\n     + ")
    val scoreTerms = linkageFields.zipWithIndex.map { case ((_, m, u), i) =>
      s"CASE WHEN a.f$i IS NOT DISTINCT FROM b.f$i THEN" +
        s" (${ds(math.log(m / u))})::DOUBLE ELSE" +
        s" (${ds(math.log((1 - m) / (1 - u)))})::DOUBLE END"
    }.mkString("\n     + ")
    s"""WITH c AS (SELECT c_custkey AS id, c_nationkey AS blk,
       |    $defs
       |  FROM customer),
       |p AS (SELECT a.id AS id_a, b.id AS id_b,
       |    ($agree) AS n_agree,
       |    ($scoreTerms) AS score
       |  FROM c a JOIN c b ON a.blk = b.blk AND a.id < b.id),
       |sel AS (SELECT id_a, id_b, n_agree, score FROM p
       |  WHERE score >= 3.0::DOUBLE
       |  ORDER BY score DESC, id_a, id_b LIMIT 50)
       |SELECT id_a, id_b, n_agree, round(score, 4) AS score
       |FROM sel""".stripMargin
  }

  /** q53 replayed END-TO-END in SQL: the banded hyperplane-LSH candidate
    * generation (the SAME seeded plane constants the engine uses, baked in
    * as literals — one source of truth, like [[langIdOracleSql]]'s
    * profiles), exact-cosine rerank at τ, and the true connected-component
    * minimum (recursive reachability closure) that
    * [[graft.operators.Dedup.nearDupRepresentatives]] now reaches by
    * iterating min-label propagation to fixpoint.
    * This makes the approximate operator hash-exact WITHOUT requiring
    * total LSH recall: the oracle checks the algorithm, and q76's
    * recall contract separately pins its quality vs the exact pair set.
    *
    * Sign bits compare dot ≥ 0 in double on both engines; FP-order
    * differences (~1e-16 relative) only matter for |dot| ≲ 1e-13, never
    * observed (dots are O(0.1)); same argument for the τ rerank, which
    * q31/q76 already rely on.
    */
  private def embedNearDupOracleSql(threshold: Double,
      numBands: Int = 15, planesPerBand: Int = 4, dim: Int = 64,
      seed: Long = 42L): String = {
    val vals = hyperplaneValuesSql(numBands, planesPerBand, dim, seed)
    s"""WITH RECURSIVE planes(plane_id, p) AS (VALUES $vals),
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
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.key = b.key AND a.id < b.id),
       |pairs AS (
       |  SELECT id_a, id_b FROM cand
       |  JOIN vecs va ON va.id = cand.id_a
       |  JOIN vecs vb ON vb.id = cand.id_b
       |  WHERE list_cosine_similarity(va.v, vb.v) >= $threshold),
       |edges AS (SELECT id_a AS s, id_b AS t FROM pairs
       |          UNION ALL SELECT id_b AS s, id_a AS t FROM pairs),
       |reach AS (
       |  SELECT DISTINCT s AS id, s AS n FROM edges
       |  UNION
       |  SELECT r.id, e.t FROM reach r JOIN edges e ON r.n = e.s)
       |SELECT id, min(n) AS rep FROM reach GROUP BY id""".stripMargin
  }

  /** CTE chain `$prefix(<carry>, j, hash)`: the j-SEEDED splitmix64 of
    * HashUtil.mix(base, j) — z₀ = base + C1·(j+1) mod 2⁶⁴, then the
    * standard finalizer — replaying the per-component MinHash mixer
    * (q341). `src` must expose `j` (the component index) alongside the
    * carried columns; C1·(j+1) needs no 32-bit split because the raw
    * product stays under 2⁶⁸ ≪ HUGEINT range.
    */
  private def mixJChain(prefix: String, src: String, inExpr: String,
      carry: Seq[String]): String = {
    val C1 = BigInt("9E3779B97F4A7C15", 16)
    val C2 = BigInt("BF58476D1CE4E5B9", 16)
    val C3 = BigInt("94D049BB133111EB", 16)
    val steps = Seq(
      "z1" -> s"(u + ($C1::HUGEINT * (j + 1)::HUGEINT) % $M64) % $M64",
      "z2" -> shrXor64("z1", 30), "z3" -> mul64("z2", C2),
      "z4" -> shrXor64("z3", 27), "z5" -> mul64("z4", C3),
      "zz" -> shrXor64("z5", 31))
    val chain = steps.zipWithIndex.map { case ((n, e), i) =>
      s"$prefix${i + 1} AS (SELECT *, $e AS $n FROM $prefix$i)"
    }.mkString(",\n")
    val cs = carry.mkString(", ")
    s"""${prefix}0 AS (SELECT $cs, j, ($inExpr)::HUGEINT AS u FROM $src),
       |$chain,
       |$prefix AS (SELECT $cs, j, ${toI64Sql("zz")} AS hash
       |  FROM $prefix${steps.size})""".stripMargin
  }

  /** q189 (SemDeDup) replayed end-to-end: the q52 coarse-quantizer
    * replay (same init/Lloyd's/assign CTE shapes as
    * [[ivfTopKOracleSql]]), then within-cell pairwise cosine with the
    * drop-if-an-earlier-id-is-above-τ rule and the per-cell census.
    * FP stance identical to q52/q53 (τ compares in double; gaps
    * O(0.01)).
    */
  private def semDedupOracleSql(kCells: Int, iterations: Int, tau: Double,
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
       |         FROM xh ORDER BY hs LIMIT $kCells),
       |c0 AS MATERIALIZED (SELECT init.cell, v.v AS cv FROM init JOIN vecs v ON v.id = init.id),
       |$lloyd,
       |${assign("afin", s"c$iterations")},
       |drp AS (SELECT DISTINCT x.id FROM afin x JOIN afin y
       |  ON x.cell = y.cell AND y.id < x.id
       |  AND list_dot_product(x.v, x.v) > 0 AND list_dot_product(y.v, y.v) > 0
       |  WHERE list_cosine_similarity(x.v, y.v) > $tau)
       |SELECT a.cell, count(*)::BIGINT AS n_vecs,
       |  sum(CASE WHEN drp.id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
       |    AS n_dropped,
       |  (count(*) - sum(CASE WHEN drp.id IS NOT NULL THEN 1 ELSE 0 END))
       |    ::BIGINT AS n_kept
       |FROM afin a LEFT JOIN drp ON drp.id = a.id
       |GROUP BY a.cell""".stripMargin
  }

  val all: Seq[Query] = Seq(
    // Exact dedup keyed on content value
    Query("q23_dedup_exact", (s, d) =>
      Dedup.exactGroupsByValue(t(s, d, "documents"), "text", "doc_id"),
      """SELECT min(doc_id) AS keep_id, count(*) AS copies
        |FROM documents GROUP BY text""".stripMargin),

    // MinHash+LSH near-dup pairs with exact-Jaccard rerank. Threshold 0.8
    // (true near-dups in this corpus sit at J >= 0.9); banding derives
    // from the threshold via bandingFor -> (4, 4), S-curve midpoint 0.707.
    Query("q29_minhash_neardups", (s, d) =>
      Dedup.minHashNearDups(t(s, d, "documents"), "doc_id", "text",
        shingleSize = 3, numHashes = 16, jaccardThreshold = 0.8),
      // Exact word-3-shingle Jaccard over ALL pairs: equals the LSH output
      // because every true pair at this threshold survives banding at the
      // gate SF (verified; determinism makes the equality stable per SF).
      s"""WITH tk AS (SELECT doc_id, $tokensSql AS toks FROM documents),
         |sh AS (SELECT doc_id,
         |  list_distinct(list_transform(generate_series(1, len(toks) - 2),
         |    i -> array_to_string(toks[i:i+2], ' '))) AS feats
         | FROM tk WHERE len(toks) >= 3)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         | len(list_intersect(a.feats, b.feats))::DOUBLE
         |   / len(list_distinct(list_concat(a.feats, b.feats))) AS jaccard
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |WHERE len(list_intersect(a.feats, b.feats))::DOUBLE
         |   / len(list_distinct(list_concat(a.feats, b.feats))) >= 0.8""".stripMargin),

    // SimHash near-dup pairs (no oracle)
    Query("q30_simhash_neardups", (s, d) =>
      Dedup.simHashNearDups(t(s, d, "documents"), "doc_id", "text", maxHamming = 3),
      // SimHash all-pairs hamming: the 4×16-bit pigeonhole banding
      // GUARANTEES total recall at hamming <= 3, so the engine's banded
      // output equals this exact all-pairs scan by construction.
      s"""WITH $simhashCtes,
         |sig AS (SELECT doc_id, ${toI64Sql("sh")} AS sh FROM simsig)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
         |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sh, b.sh)) <= 3""".stripMargin),

    // Char-ngram MinHash near-dups with exact Jaccard rerank. Threshold
    // 0.8 -> bandingFor gives (4, 4): r=4 rows/band matters here — the
    // synthetic docs share a tiny vocab, so looser bands collide half the
    // corpus into candidates (47s at sf0.1 with r=2; ~2s with r=4 at the
    // same recall, since all true pairs sit at J >= 0.92).
    Query("q35_ngram_jaccard", (s, d) =>
      Dedup.ngramJaccardPairs(t(s, d, "documents"), "doc_id", "text",
        n = 5, threshold = 0.8, numHashes = 16),
      // Exact char-5-gram Jaccard over ALL pairs (ASCII corpus: char grams
      // == the kernel's byte grams; hashed-gram Jaccard == string-gram
      // Jaccard absent 64-bit collisions). Equality with the LSH output
      // verified at the gate SF, stable by determinism.
      // Intersections via an exploded gram self-join, union by
      // |A|+|B|−|A∩B| — the all-pairs list_intersect form cost 29 s of
      // oracle budget (O(n²) pairs × O(|doc|) lists, intersect computed
      // twice); this runs in 1.7 s with the identical integer-ratio
      // doubles (the q58/q235 oracle-budget pass)
      """WITH gl AS (SELECT doc_id,
        |  list_distinct(list_transform(generate_series(1, length(lower(text)) - 4),
        |    i -> substring(lower(text), i, 5))) AS feats
        | FROM documents WHERE length(lower(text)) >= 5),
        |g AS (SELECT doc_id, unnest(feats) AS f FROM gl),
        |sz AS (SELECT doc_id, len(feats)::BIGINT AS n FROM gl),
        |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    count(*)::BIGINT AS i
        |  FROM g a JOIN g b ON a.f = b.f AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |  i::DOUBLE / (sa.n + sb.n - i) AS jaccard
        |FROM inter JOIN sz sa ON sa.doc_id = id_a
        |JOIN sz sb ON sb.doc_id = id_b
        |WHERE i::DOUBLE / (sa.n + sb.n - i) >= 0.8""".stripMargin),

    // Embedding-cosine near-dup representatives. Oracle-exact: the DuckDB
    // oracle replays the banded LSH + rerank + label propagation with the
    // same seeded plane constants (embedNearDupOracleSql); q76 separately
    // pins recall vs the exact pair set.
    Query("q53_embed_neardups", (s, d) => {
      val pairs = graft.operators.Dedup.embeddingNearDups(
        t(s, d, "embeddings"), threshold = 0.3)
      graft.operators.Dedup.nearDupRepresentatives(pairs)
    },
      embedNearDupOracleSql(threshold = 0.3)),

    // Winnowing (MOSS) verbatim-overlap candidates (no oracle).
    // minShared=30: the synthetic docs share a ~30-word vocab, so nearly
    // every pair shares a few ≥8-char substrings (p99 ≈ 19 shared
    // fingerprints); 30 keeps only substantial verbatim overlap.
    // Dense variant: this corpus is collision-dense (94% of pairs share a
    // fingerprint at sf0.1), so the compact-set broadcast form wins 5.5x
    // over the fingerprint join (6.7 s vs 37 s; see Dedup scaladoc). Same
    // exact output - the oracle is implementation-agnostic.
    Query("q58_winnow_neardups", (s, d) =>
      graft.operators.Dedup.winnowNearDupsDense(t(s, d, "documents"), "doc_id", "text",
        minShared = 30),
      // Winnowing is exact+deterministic (no LSH), so the all-pairs
      // fingerprint-set intersection is a true oracle, not recall-dependent.
      s"""WITH ${winnowCtes(k = 8, window = 6)},
         |fpset AS (SELECT DISTINCT doc_id, sh FROM dsel)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared_fingerprints
         |FROM fpset a JOIN fpset b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= 30""".stripMargin),

    // MOSS overlap localization: byte offsets of every shared winnowing
    // fingerprint, for the near-dup pairs q58 surfaces (positions-level
    // oracle — q58 checks only the set level). Pairs-scoped form: the
    // positions kernel + hash join run only over pair members (the
    // corpus-wide collision self-join measured 207 s at sf0.1; this is ~2 s)
    Query("q84_winnow_overlaps", (s, d) => {
      val docs = t(s, d, "documents")
      val pairs = graft.operators.Dedup
        .winnowNearDupsDense(docs, "doc_id", "text", minShared = 30)
        .select("id_a", "id_b")
      graft.operators.Dedup.winnowOverlaps(docs, "doc_id", "text", pairs,
        k = 8, window = 6)
    },
      // Positions-level winnowing oracle: dsel carries the selected
      // (hash, position) sites; join per near-dup pair (q58's >= 30 set)
      s"""WITH ${winnowCtes(k = 8, window = 6)},
         |fpset AS (SELECT DISTINCT doc_id, sh FROM dsel),
         |np AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM fpset a JOIN fpset b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2 HAVING count(*) >= 30)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.sh AS hash,
         |  a.spos AS pos_a, b.spos AS pos_b
         |FROM dsel a JOIN dsel b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |JOIN np ON np.id_a = a.doc_id AND np.id_b = b.doc_id""".stripMargin),

    // Normalization-aware exact dedup: case/whitespace variants collapse
    // (variants synthesized deterministically — upper half the corpus,
    // double-space the other — so normalized groups differ from raw q23's)
    Query("q130_dedup_normalized", (s, d) => {
      val varied = t(s, d, "documents").select(col("doc_id"),
        when(col("doc_id") % 2 === 0, upper(col("text")))
          .otherwise(regexp_replace(col("text"), " ", "  ")).as("text_v"))
      graft.operators.Dedup.exactGroupsNormalized(varied, "text_v", "doc_id")
    },
      // canonical form = trim(collapse-ws(lower)): the synthesized case/
      // whitespace variants must land in the same groups as the originals
      """WITH v AS (SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN upper(text)
        |       ELSE regexp_replace(text, ' ', '  ', 'g') END AS text_v
        | FROM documents)
        |SELECT min(doc_id) AS keep_id, count(*) AS copies
        |FROM v GROUP BY trim(regexp_replace(lower(text_v), '\s+', ' ', 'g'))""".stripMargin),

    // Containment pairs (asymmetric near-dup): |A∩B| / min(|A|,|B|)
    // over word-3-shingles at τ=0.8 — exact (shared-shingle candidates
    // have total recall for any τ > 0)
    Query("q129_containment_pairs", (s, d) =>
      graft.operators.Dedup.containmentPairs(
        t(s, d, "documents"), "doc_id", "text",
        shingleSize = 3, threshold = 0.8),
      // exact containment over shingle STRING sets (engine hashes them to
      // 64-bit — identical sets absent a collision, the q35 precedent)
      s"""WITH tk AS (SELECT doc_id, $tokensSql AS toks FROM documents),
         |sh AS (SELECT doc_id,
         |  list_distinct(list_transform(generate_series(1, len(toks) - 2),
         |    i -> array_to_string(toks[i:i+2], ' '))) AS feats
         | FROM tk WHERE len(toks) >= 3)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         | len(list_intersect(a.feats, b.feats))::DOUBLE
         |   / least(len(a.feats), len(b.feats))::DOUBLE AS containment
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |WHERE len(list_intersect(a.feats, b.feats))::DOUBLE
         |   / least(len(a.feats), len(b.feats))::DOUBLE >= 0.8""".stripMargin),

    // Leakage-safe split: near-dup clusters (q53's banded-LSH graph at
    // τ=0.3) split by their component representative, so every member
    // of a cluster lands in the same train/val/test side
    Query("q124_leakage_safe_split", (s, d) => {
      val emb = t(s, d, "embeddings")
      val pairs = graft.operators.Dedup.embeddingNearDups(emb, threshold = 0.3)
      graft.operators.TrainingData.leakageSafeSplit(
        emb.select(col("vec_id")), pairs, "vec_id", trainPct = 90, valPct = 5)
    },
      // component-representative split key: reps from the q53 relation
      // (recursive reachability closure), unpaired ids key on themselves,
      // then the q89 split-hash replay over the key
      {
      val repSql = embedNearDupOracleSql(threshold = 0.3)
      s"""WITH reps AS (SELECT id AS rid, rep FROM ($repSql)),
         |vecs AS (SELECT e.vec_id AS id0, coalesce(reps.rep, e.vec_id) AS id
         |  FROM embeddings e LEFT JOIN reps ON reps.rid = e.vec_id),
         |${xxh64Chain("xh", "vecs", "id", Seq("id0"))},
         |b AS (SELECT id0, ((hs % 100) + 100) % 100 AS bucket FROM xh)
         |SELECT id0 AS vec_id, bucket,
         |  CASE WHEN bucket < 90 THEN 'train'
         |       WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split
         |FROM b""".stripMargin
    }),

    // Chaining-drift audit: per near-dup cluster, the minimum pairwise
    // cosine — flags transitive over-merges (A–B–C chains whose A–C
    // similarity is below the pair threshold) before members delete
    Query("q276_cluster_chaining", (s, d) =>
      graft.operators.Dedup.clusterChainingAudit(
        t(s, d, "embeddings"), threshold = 0.3),
      // Chaining replay: q53's fixpoint labels as a nested subquery, the
      // xxh64-ranked member sample (cap 256 — never binding at this SF,
      // so audited_pairs == n_pairs and truncated is all-false), per-
      // cluster all-pairs cosine minimum over the sample, same τ flag
      s"""WITH r AS (${embedNearDupOracleSql(threshold = 0.3)}),
         |${xxh64Chain("cax", "r", "id", Seq("id", "rep"))},
         |samp AS (SELECT id, rep FROM (SELECT id, rep,
         |    row_number() OVER (PARTITION BY rep ORDER BY hs, id) AS rk
         |  FROM cax) WHERE rk <= 256),
         |vec AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
         |  FROM embeddings
         |  WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
         |m AS (SELECT samp.id, samp.rep, vec.v FROM samp JOIN vec USING (id)),
         |pw AS (SELECT a.rep AS cluster,
         |    list_cosine_similarity(a.v, b.v) AS c
         |  FROM m a JOIN m b ON a.rep = b.rep AND a.id < b.id),
         |sz AS (SELECT rep AS cluster, count(*)::BIGINT AS size
         |  FROM r GROUP BY rep)
         |SELECT p.cluster, sz.size,
         |  (sz.size * (sz.size - 1) // 2)::BIGINT AS n_pairs,
         |  count(*)::BIGINT AS audited_pairs,
         |  round(min(c), 4) AS min_pair_cosine, min(c) < 0.3 AS chained,
         |  sz.size > 256 AS truncated
         |FROM pw p JOIN sz USING (cluster)
         |GROUP BY p.cluster, sz.size""".stripMargin),

    // Dedup yield curve: ONE banded candidate pass re-sliced at four
    // thresholds — pairs, flagged docs, and the corpus share per τ; the
    // release table that prices a dedup threshold without re-running
    // the pipeline per τ
    Query("q315_dedup_yield", (s, d) =>
      graft.operators.Dedup.dedupYieldSweep(t(s, d, "embeddings"),
        thresholds = Seq(0.3, 0.5, 0.7, 0.9)),
      // Yield-sweep replay: same seeded planes and banded candidates as
      // q53's family, one scored-pair set re-sliced per threshold
      {
      val vals = hyperplaneValuesSql(15, 4, 64, 42L)
      s"""WITH planes(plane_id, p) AS (VALUES $vals),
         |vecs AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
         |  FROM embeddings
         |  WHERE list_dot_product(embedding::DOUBLE[],
         |    embedding::DOUBLE[]) > 0),
         |bands AS MATERIALIZED (SELECT id, plane_id // 4 AS band,
         |    SUM((CASE WHEN list_dot_product(v, p) >= 0 THEN 1 ELSE 0 END)
         |      << (plane_id % 4))::BIGINT AS key
         |  FROM vecs CROSS JOIN planes GROUP BY id, plane_id // 4),
         |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.key = b.key AND a.id < b.id),
         |sc AS MATERIALIZED (SELECT cand.id_a, cand.id_b,
         |    list_cosine_similarity(va.v, vb.v) AS c
         |  FROM cand JOIN vecs va ON va.id = cand.id_a
         |  JOIN vecs vb ON vb.id = cand.id_b),
         |th AS (SELECT unnest([0.3, 0.5, 0.7, 0.9]::DOUBLE[]) AS threshold),
         |tot AS (SELECT count(*)::BIGINT AS total FROM vecs),
         |f AS MATERIALIZED (SELECT th.threshold, sc.id_a, sc.id_b
         |  FROM th JOIN sc ON sc.c >= th.threshold),
         |p AS (SELECT threshold, count(*)::BIGINT AS n_pairs
         |  FROM f GROUP BY threshold),
         |dd AS (SELECT threshold, count(DISTINCT id)::BIGINT
         |    AS n_docs_flagged FROM (
         |    SELECT threshold, id_a AS id FROM f
         |    UNION ALL SELECT threshold, id_b AS id FROM f)
         |  GROUP BY threshold)
         |SELECT th.threshold, coalesce(n_pairs, 0) AS n_pairs,
         |  coalesce(n_docs_flagged, 0) AS n_docs_flagged,
         |  round(coalesce(n_docs_flagged, 0)::DOUBLE / total, 4)
         |    AS flagged_share
         |FROM th LEFT JOIN p USING (threshold)
         |LEFT JOIN dd USING (threshold) CROSS JOIN tot""".stripMargin
    }),

    // Cross-source contamination matrix over a synthesized partial
    // mirror (every 3rd doc re-attributed with case noise): canonical
    // content hashes must match the mirror back to its origin sources
    Query("q317_source_overlap", (s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("text"), col("source"))
      val mirror = docs.filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), upper(col("text")).as("text"),
          lit("mirror").as("source"))
      graft.operators.Dedup.sourceOverlap(docs.unionByName(mirror),
        "doc_id", "text", "source")
    },
      // Source-overlap replay: same mirror synthesis, canonical =
      // trim(collapse-ws(lower)) — distinct over canonical STRINGS ==
      // distinct over the engine's 8-byte hashes absent a collision
      """WITH base AS (
        |  SELECT doc_id, text, source FROM documents
        |  UNION ALL
        |  SELECT doc_id, upper(text) AS text, 'mirror' AS source
        |  FROM documents WHERE doc_id % 3 = 0),
        |hs AS (SELECT DISTINCT source,
        |    trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS c
        |  FROM base WHERE text IS NOT NULL),
        |tot AS (SELECT source, count(*)::BIGINT AS n FROM hs
        |  GROUP BY source),
        |sh AS (SELECT a.source AS source_a, b.source AS source_b,
        |    count(*)::BIGINT AS n_shared
        |  FROM hs a JOIN hs b ON a.c = b.c AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT source_a, source_b, ta.n AS n_a, tb.n AS n_b, n_shared,
        |  round(n_shared::DOUBLE / (ta.n + tb.n - n_shared), 4)
        |    AS jaccard
        |FROM sh JOIN tot ta ON ta.source = sh.source_a
        |JOIN tot tb ON tb.source = sh.source_b""".stripMargin),

    // Mirror census — the incremental-crawl loop composed with the
    // persisted content index: newly-discovered URLs (every 13th doc's
    // text re-surfacing at a /mir/ URL, every 17th doc spawning a
    // genuinely fresh /new/ page) flagged against the FNV-64 content
    // index of the existing corpus, rolled up per host — "how much of
    // what this host 'adds' is content we already have"
    Query("q390_mirror_census", (s, d) => {
      val tmp = sys.props("java.io.tmpdir")
      val path = s"$tmp/graft_q390_idx_${s.sparkContext.applicationId}"
      rmrf(new java.io.File(path))
      val docs = t(s, d, "documents").filter(col("doc_id") >= 0)
      val dd = col("doc_id")
      // 32 buckets: the lane builds its index in-query (gate
      // self-containment); at gate/bench SFs the 256-bucket fleet
      // layout is pure per-directory listing overhead (the
      // writeContentIndex Scaladoc contract)
      graft.operators.Dedup.writeContentIndex(docs, "text", path,
        buckets = 32)
      val mirrors = docs.filter(dd % 13 === 0).select(
        concat(lit("http://m"), dd % 5, lit(".test/mir/"), dd).as("url"),
        col("text"))
      val fresh = docs.filter(dd % 17 === 0).select(
        concat(lit("http://m"), dd % 5, lit(".test/new/"), dd).as("url"),
        concat(lit("fresh page "), dd).as("text"))
      val flagged = graft.operators.Dedup.dedupAgainstIndex(
        mirrors.unionAll(fresh), "url", "text", path)
      flagged
        .select(graft.operators.UrlOps.urlHost(col("id")).as("host"),
          col("is_dup"))
        .groupBy(col("host"))
        .agg(count(lit(1)).as("n_added"),
          sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_mirrored"),
          sum(when(col("is_dup"), 0L).otherwise(1L)).as("n_new"))
    },
      // Mirror-census replay: canonical text, the exact FNV-64 chain as
      // signed i64 (the q281 convention), membership of each added URL's
      // content against the whole-corpus hash set, per-host rollup
      s"""WITH canon AS (SELECT doc_id,
         |    trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS c
         |  FROM documents WHERE doc_id >= 0),
         |hist AS (SELECT DISTINCT
         |    ${toI64Sql(fnvSql("c"))} AS h
         |  FROM canon WHERE c IS NOT NULL),
         |addeds AS (
         |  SELECT 'http://m' || (doc_id % 5) || '.test/mir/' || doc_id
         |      AS url, c FROM canon WHERE doc_id % 13 = 0
         |  UNION ALL
         |  SELECT 'http://m' || (doc_id % 5) || '.test/new/' || doc_id,
         |    'fresh page ' || doc_id FROM canon WHERE doc_id % 17 = 0),
         |hh AS (SELECT url, CASE WHEN c IS NOT NULL
         |    THEN ${toI64Sql(fnvSql("c"))} END AS h FROM addeds),
         |fl AS (SELECT url, (h IS NOT NULL AND EXISTS
         |    (SELECT 1 FROM hist WHERE hist.h = hh.h)) AS dup FROM hh)
         |SELECT regexp_extract(url, '^http://([^/]*)/', 1) AS host,
         |  count(*)::BIGINT AS n_added,
         |  sum(CASE WHEN dup THEN 1 ELSE 0 END)::BIGINT AS n_mirrored,
         |  sum(CASE WHEN dup THEN 0 ELSE 1 END)::BIGINT AS n_new
         |FROM fl GROUP BY 1""".stripMargin),

    // MinHash calibration: estimate-vs-exact Jaccard over an id-lattice
    // pair sample, binned by estimate decile — the "trust the sketch"
    // audit before any threshold moves off exact reranking
    Query("q341_minhash_calibration", (s, d) =>
      Dedup.minhashCalibration(t(s, d, "documents"), "doc_id", "text",
        shingleSize = 3, numHashes = 16, steps = Seq(1L, 7L, 50L)),
      // Calibration replay: per-component minhash via the j-seeded
      // splitmix chain (signed mins — the engine's Long compare), exact
      // jaccard on the same distinct-shingle sets, identical binning
      {
      val mx = mixJChain("mx", "fj", "fb", Seq("doc_id"))
      s"""WITH tk AS (SELECT doc_id, $tokensSql AS toks FROM documents),
         |sh AS MATERIALIZED (SELECT doc_id,
         |  list_distinct(list_transform(generate_series(1, len(toks) - 2),
         |    i -> array_to_string(toks[i:i+2], ' '))) AS feats
         | FROM tk WHERE len(toks) >= 3),
         |fe AS (SELECT doc_id, unnest(feats) AS f FROM sh),
         |fh AS MATERIALIZED (SELECT doc_id, ${fnvSql("f")} AS fb FROM fe),
         |fj AS (SELECT doc_id, fb,
         |  unnest(generate_series(0, 15)) AS j FROM fh),
         |$mx,
         |sg AS MATERIALIZED (SELECT doc_id, j, min(hash) AS mh
         |  FROM mx GROUP BY 1, 2),
         |pr AS MATERIALIZED (
         |  SELECT a.doc_id AS ia, b.doc_id AS ib, a.feats AS fa,
         |    b.feats AS fb2
         |  FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
         |  UNION ALL SELECT a.doc_id, b.doc_id, a.feats, b.feats
         |  FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 7
         |  UNION ALL SELECT a.doc_id, b.doc_id, a.feats, b.feats
         |  FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 50),
         |em AS (SELECT p.ia, p.ib,
         |    sum(CASE WHEN x.mh = y.mh THEN 1 ELSE 0 END)::BIGINT AS m
         |  FROM pr p JOIN sg x ON x.doc_id = p.ia
         |  JOIN sg y ON y.doc_id = p.ib AND y.j = x.j
         |  GROUP BY 1, 2),
         |ex AS (SELECT ia, ib,
         |    len(list_intersect(fa, fb2))::DOUBLE
         |      / len(list_distinct(list_concat(fa, fb2)))::DOUBLE AS jx
         |  FROM pr),
         |sc AS (SELECT em.m::DOUBLE / 16.0::DOUBLE AS e, ex.jx
         |  FROM em JOIN ex ON em.ia = ex.ia AND em.ib = ex.ib),
         |bn AS (SELECT least(floor(e * 10), 9)::BIGINT AS bin, e, jx
         |  FROM sc)
         |SELECT bin, count(*)::BIGINT AS n_pairs,
         |  round(CAST(SUM(e::DECIMAL(18,6)) AS DECIMAL(38,6))::DOUBLE
         |    / count(*)::DOUBLE, 4) AS mean_estimate,
         |  round(CAST(SUM(round(jx, 6)::DECIMAL(18,6)) AS DECIMAL(38,6))
         |    ::DOUBLE / count(*)::DOUBLE, 4) AS mean_exact,
         |  round(CAST(SUM(round(abs(e - jx), 6)::DECIMAL(18,6))
         |    AS DECIMAL(38,6))::DOUBLE / count(*)::DOUBLE, 4) AS mae
         |FROM bn GROUP BY 1""".stripMargin
    }),

    // Incremental dedup against a persisted content-hash index: 2/3 of
    // the corpus indexed as canonical FNV-64 hashes (256 hash buckets),
    // the arriving third flagged by one hash join — 8 B/doc, text never
    // shuffles; the shard-arrival form of q23's exact dedup
    Query("q281_incremental_dedup", (s, d) => {
      val tmp = sys.props("java.io.tmpdir")
      val path = s"$tmp/graft_q281_idx_${s.sparkContext.applicationId}"
      rmrf(new java.io.File(path))
      val docs = t(s, d, "documents")
      graft.operators.Dedup.writeContentIndex(
        docs.filter(col("doc_id") % 3 =!= 0), "text", path)
      graft.operators.Dedup.dedupAgainstIndex(
        docs.filter(col("doc_id") % 3 === 0), "doc_id", "text", path)
        .withColumnRenamed("id", "doc_id")
    },
      // Incremental-dedup replay: canonical text, the FNV-64 chain as
      // signed i64, EXISTS membership against the indexed two-thirds
      // (null-safe false — null text is never a dup)
      s"""WITH canon AS (SELECT doc_id,
         |    trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS c
         |  FROM documents),
         |hh AS (SELECT doc_id, CASE WHEN c IS NOT NULL
         |    THEN ${toI64Sql(fnvSql("c"))} END AS h FROM canon),
         |hist AS (SELECT DISTINCT h FROM hh
         |  WHERE doc_id % 3 <> 0 AND h IS NOT NULL)
         |SELECT doc_id, h AS content_hash,
         |  EXISTS (SELECT 1 FROM hist WHERE hist.h = hh.h) AS is_dup
         |FROM hh WHERE doc_id % 3 = 0""".stripMargin),

    // Dedup-savings budget: per source, docs/bytes that normalized
    // exact dedup would remove (min-id winners keep their bytes) — the
    // is-the-pass-worth-scheduling number
    Query("q273_dedup_savings", (s, d) =>
      graft.operators.Dedup.dedupSavings(
        t(s, d, "documents").filter(col("text").isNotNull),
        "doc_id", "text", "source", coalesce(col("n_chars"), lit(0L)))
        .withColumnRenamed("grp", "source"),
      // Savings replay: same canonical form (q130's), min-id winners,
      // per-source non-winner doc/byte rollup
      """WITH b AS (SELECT doc_id, source,
        |    coalesce(n_chars, 0)::BIGINT AS bytes,
        |    trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS canon
        |  FROM documents WHERE text IS NOT NULL),
        |w AS (SELECT canon, min(doc_id) AS win FROM b GROUP BY canon)
        |SELECT b.source, count(*)::BIGINT AS n_docs,
        |  sum(CASE WHEN b.doc_id <> w.win THEN 1 ELSE 0 END)::BIGINT
        |    AS dup_docs,
        |  sum(CASE WHEN b.doc_id <> w.win THEN b.bytes ELSE 0 END)::BIGINT
        |    AS bytes_saved,
        |  CASE WHEN sum(b.bytes) > 0 THEN
        |    round(sum(CASE WHEN b.doc_id <> w.win THEN b.bytes ELSE 0 END)
        |      ::DOUBLE / sum(b.bytes)::DOUBLE, 4) END AS savings_ratio
        |FROM b JOIN w USING (canon) GROUP BY b.source""".stripMargin),

    // LSH banding-quality audit: cosine histogram of the UNthresholded
    // candidate pairs (0.1 buckets) with a cumulative-from-the-top
    // count — reads off precision at any τ and the decay below it,
    // the tune-before-you-scale table for bands×rows
    Query("q268_lsh_candidate_histogram", (s, d) => {
      val cand = graft.operators.Dedup.embeddingCandidateScores(
        t(s, d, "embeddings"))
      val buckets = cand
        .select(floor(col("cosine") * 10).cast("long").as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("n_pairs"))
      buckets.withColumn("n_at_or_above",
        sum(col("n_pairs")).over(
          Window.orderBy(col("bucket").desc)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    },
      // Histogram replay: the q53 candidate CTE chain (same planes,
      // bands, self-join), bucketed with a descending cumulative window
      {
      val vals = hyperplaneValuesSql(15, 4, 64, 42L)
      s"""WITH planes(plane_id, p) AS (VALUES $vals),
         |vecs AS (
         |  SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
         |  WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
         |bands AS (
         |  SELECT id, plane_id // 4 AS band,
         |    SUM((CASE WHEN list_dot_product(v, p) >= 0 THEN 1 ELSE 0 END)
         |      << (plane_id % 4))::BIGINT AS key
         |  FROM vecs CROSS JOIN planes GROUP BY id, plane_id // 4),
         |cand AS (
         |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.key = b.key AND a.id < b.id),
         |sc AS (SELECT CAST(floor(list_cosine_similarity(va.v, vb.v) * 10)
         |    AS BIGINT) AS bucket
         |  FROM cand JOIN vecs va ON va.id = cand.id_a
         |    JOIN vecs vb ON vb.id = cand.id_b),
         |h AS (SELECT bucket, count(*)::BIGINT AS n_pairs
         |  FROM sc GROUP BY bucket)
         |SELECT bucket, n_pairs,
         |  CAST(sum(n_pairs) OVER (ORDER BY bucket DESC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |    AS n_at_or_above
         |FROM h""".stripMargin
    }),

    // Canonical-document selection: hash-gated consecutive-id pairs
    // form chains of near-dup clusters; keep the highest-n_chars member
    // per cluster (ties to lowest id) — the best-of-cluster keep policy
    // that upgrades keep-first dedup. Singletons keep themselves.
    Query("q259_canonical_selection", (s, d) => {
      val docs = t(s, d, "documents")
      val pairs = docs
        .select(col("doc_id").as("id_a"), (col("doc_id") + 1).as("id_b"))
        .filter(pmod(xxhash64(col("id_a")), lit(5L)) === 0)
        .join(docs.select(col("doc_id").as("id_b")), Seq("id_b"), "left_semi")
      graft.operators.Dedup.selectCanonical(docs, "doc_id",
        coalesce(col("n_chars"), lit(-1L)), pairs)
    },
      // Canonical-selection replay: hash-gated chain pairs, recursive-CTE
      // connected components (the q132 pattern), then the deterministic
      // winner rule (score DESC, id ASC) via row_number
      s"""WITH RECURSIVE vecs AS (SELECT doc_id AS id FROM documents),
         |${xxh64Chain("xh", "vecs", "id", Seq("id"))},
         |p AS (SELECT xh.id AS pa, xh.id + 1 AS pb FROM xh
         |  WHERE ((hs % 5) + 5) % 5 = 0
         |    AND xh.id + 1 IN (SELECT doc_id FROM documents)),
         |e AS (SELECT pa AS u, pb AS v FROM p
         |  UNION SELECT pb AS u, pa AS v FROM p),
         |verts AS (SELECT DISTINCT u AS x FROM e),
         |reach(a, b) AS (SELECT x, x FROM verts
         |  UNION SELECT r.a, e.v FROM reach r JOIN e ON r.b = e.u),
         |comp AS (SELECT a AS id, min(b) AS rep FROM reach GROUP BY a),
         |lab AS (SELECT d.doc_id AS id,
         |    coalesce(d.n_chars, -1)::BIGINT AS score,
         |    coalesce(c.rep, d.doc_id) AS cluster
         |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.id),
         |w AS (SELECT *, row_number() OVER (PARTITION BY cluster
         |    ORDER BY score DESC, id ASC) AS rn FROM lab),
         |b2 AS (SELECT cluster, id AS canonical_id FROM w WHERE rn = 1),
         |sz AS (SELECT cluster, count(*)::BIGINT AS cluster_size
         |  FROM lab GROUP BY cluster)
         |SELECT lab.id, lab.cluster, b2.canonical_id, sz.cluster_size,
         |  lab.id = b2.canonical_id AS keep
         |FROM lab JOIN b2 USING (cluster) JOIN sz USING (cluster)""".stripMargin),

    // SemDeDup: k-means clusters (q52's quantizer), within-cluster
    // pairwise cosine, drop a vector when an earlier id in its cluster
    // sits above τ — per-cluster census of the semantic-dedup pass
    Query("q189_semdedup", (s, d) => {
      val emb = t(s, d, "embeddings")
      val model = graft.operators.IvfIndex.train(emb, k = 8, iterations = 3)
      graft.operators.Dedup.semDedup(emb, model, tau = 0.3)
    },
      // SemDeDup replay: q52's Lloyd's CTEs + within-cell pairwise τ rule
      semDedupOracleSql(kCells = 8, iterations = 3,
      tau = 0.3)),

    // Blocked sorted-neighborhood near-dup pairs: canonical-prefix sort
    // order, window-3 neighborhood inside 2-char prefix blocks,
    // distinct-token Jaccard ≥ 0.5 — the record-linkage blocking
    // alternative to the q29/q30 LSH family
    Query("q198_sorted_neighborhood", (s, d) =>
      graft.operators.Dedup.sortedNeighborhood(t(s, d, "documents"),
        "doc_id", "text", prefixLen = 12, blockLen = 2, window = 3,
        tau = 0.5),
      // Sorted-neighborhood replay: same canonicalization, same
      // (key, id) in-block rank, rank-distance ≤ window−1 pairs, exact
      // integer distinct-token Jaccard
      s"""WITH b AS (SELECT doc_id AS id,
         |    trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS canon,
         |    list_sort(list_distinct($tokensSql)) AS toks FROM documents),
         |k0 AS (SELECT id, toks, canon, canon[1:12] AS ky, canon[1:2] AS blk0
         |  FROM b),
         |sz AS (SELECT blk0, count(*)::BIGINT AS n FROM k0 GROUP BY blk0),
         |k AS (SELECT id, toks, ky,
         |    CASE WHEN sz.n > 65536 THEN canon[1:4] ELSE blk0 END AS blk
         |  FROM k0 JOIN sz USING (blk0)),
         |r AS (SELECT id, toks, ky, blk, row_number() OVER (
         |    PARTITION BY blk ORDER BY ky, id) AS rn FROM k),
         |p AS (SELECT a.id AS id_a, c.id AS id_b,
         |    len(list_intersect(a.toks, c.toks))::BIGINT AS i,
         |    (len(a.toks) + len(c.toks)
         |      - len(list_intersect(a.toks, c.toks)))::BIGINT AS u
         |  FROM r a JOIN r c ON a.blk = c.blk
         |    AND c.rn > a.rn AND c.rn <= a.rn + 2)
         |SELECT id_a, id_b, round(i::DOUBLE / u::DOUBLE, 4) AS jaccard
         |FROM p
         |WHERE u > 0 AND round(i::DOUBLE / u::DOUBLE, 4) >= 0.5"""
        .stripMargin),

    // Fellegi-Sunter record linkage over nation-blocked customer pairs:
    // shared (m,u) weights with the oracle (one source of truth)
    Query("q225_record_linkage", (s, d) => {
      val cents = (col("c_acctbal").cast("decimal(12,2)") * 100)
        .cast("long")
      val exprs: Seq[Column] = Seq(col("c_mktsegment"),
        expr("cast(cast(c_acctbal as decimal(12,2)) * 100 as long)" +
          " div 100000"),
        cents % 10)
      graft.operators.Dedup.linkageScores(
        Tables.customer(s, d), "c_custkey", col("c_nationkey"),
        linkageFields.zip(exprs).map { case ((n, m, u), e) => (n, e, m, u) },
        threshold = 3.0)
    },
      // Linkage replay: generated from the SAME (m,u) constants
      linkageOracleSql),

    // Best-of-cluster curation: near-dup clusters (q53's fixpoint
    // labels) keep their HIGHEST-quality member, not the min-id — the
    // "dedup keeps the best copy" policy real pipelines want
    Query("q169_best_of_cluster", (s, d) => {
      val pairs = graft.operators.Dedup.embeddingNearDups(
        t(s, d, "embeddings"), threshold = 0.3)
      val reps = graft.operators.Dedup.nearDupRepresentatives(pairs)
      val quality = TextAnalysis.qualityScores(
        t(s, d, "documents"), "doc_id", "text")
      reps.join(quality, reps("id") === quality("doc_id"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("rep"))
            .orderBy(col("quality_score").desc, col("id"))))
        .filter(col("rk") === 1)
        .select(col("rep").as("cluster"), col("id").as("best_id"),
          col("quality_score"))
    },
      // Best-of-cluster replay: the q53 closure (nested CTE subquery) +
      // the q26 quality replay, winner per rep by (score DESC, id) —
      // scores are the shared 4dp-rounded column, so the order is total
      s"""SELECT r.rep AS cluster, r.id AS best_id, q.quality_score
         |FROM (${embedNearDupOracleSql(threshold = 0.3)}) r
         |JOIN ($qualityScoreOracleSql) q ON q.doc_id = r.id
         |QUALIFY row_number() OVER (PARTITION BY r.rep
         |  ORDER BY q.quality_score DESC, r.id) = 1""".stripMargin),

    // Pair-level recall contract for the banded embedding near-dup path
    // (q53's candidate generator): fraction of exact cosine>=0.3 pairs
    // captured must be >= 0.8 (measured 0.885-0.889 at every SF; theory
    // 1-(1-p^4)^15 ~ 0.87 at tau=0.3). The exact side is the labeled
    // oracle-scale theta-join (same as q31); the oracle pins its count.
    Query("q76_embed_dedup_recall", (s, d) => {
      val emb = t(s, d, "embeddings")
      val exact = Similarity.thresholdPairs(emb, 0.3).select("id_a", "id_b")
      val approx = graft.operators.Dedup.embeddingNearDups(emb, threshold = 0.3)
        .select("id_a", "id_b").withColumn("hit", lit(1))
      exact.join(approx, Seq("id_a", "id_b"), "left")
        .agg(count(lit(1)).as("exact_pairs"),
          sum(coalesce(col("hit"), lit(0))).as("found"))
        .select(col("exact_pairs"),
          (col("found") >= col("exact_pairs") * 0.8).as("recall_ok"))
    },
      """SELECT count(*) AS exact_pairs, TRUE AS recall_ok
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.3""".stripMargin))
}
