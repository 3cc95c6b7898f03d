package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Helpers used by more than one query family: table loading, exact
  * decimal sums, scratch-dir cleanup, shared fixtures, and the DuckDB
  * replay fragments (hash chains, tokenization) several oracles build on.
  */
private[graft] object Shared {

  def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.table(s, dir, name)

  // shared scratch-dir cleanup for the index-building lanes (local
  // tmpdir only — persisted-index lanes write under java.io.tmpdir)
  def rmrf(p: java.io.File): Unit = {
    if (p.isDirectory) Option(p.listFiles()).foreach(_.foreach(rmrf))
    p.delete(): Unit
  }

  /** sum(CAST(c AS DECIMAL(18,scale))) surfaced as DOUBLE — exact,
    * aggregation-order-independent.
    */
  def decSum(c: Column, scale: Int = 4): Column =
    sum(c.cast(s"decimal(18,$scale)")).cast("double")

  /** q334/q340 shared fixture: deterministic invisible-character
    * injections over a clean corpus (bidi overrides every 7th doc,
    * zero-width padding every 11th, a C0 control every 13th, a Cyrillic
    * homoglyph word every 17th) — pure per-row, so it runs unchanged on
    * batch AND readStream frames.
    */
  def trojanInjected(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull).select(col("doc_id"),
      concat(col("text"),
        when(col("doc_id") % 7 === 0,
          lit("\u202E hidden \u202C")).otherwise(lit("")),
        when(col("doc_id") % 11 === 0,
          lit("\u200Bpad\uFEFF")).otherwise(lit("")),
        when(col("doc_id") % 13 === 0,
          lit("\u0007")).otherwise(lit("")),
        when(col("doc_id") % 17 === 0,
          lit(" p\u0430ypal")).otherwise(lit(""))).as("text"))

  /** Shared q334/q340 oracle prefix: the injection replay plus the
    * per-doc strip-and-measure audit.
    */
  val trojanOracleCtes: String =
    """WITH inj AS (SELECT doc_id, text
      |    || CASE WHEN doc_id % 7 = 0
      |         THEN chr(8238) || ' hidden ' || chr(8236) ELSE '' END
      |    || CASE WHEN doc_id % 11 = 0
      |         THEN chr(8203) || 'pad' || chr(65279) ELSE '' END
      |    || CASE WHEN doc_id % 13 = 0 THEN chr(7) ELSE '' END
      |    || CASE WHEN doc_id % 17 = 0
      |         THEN ' p' || chr(1072) || 'ypal' ELSE '' END AS text
      |  FROM documents WHERE text IS NOT NULL),
      |a AS (SELECT doc_id,
      |    (length(text) - length(regexp_replace(text,
      |      '[\x{202A}-\x{202E}\x{2066}-\x{2069}]', '', 'g')))::BIGINT
      |      AS n_bidi,
      |    (length(text) - length(regexp_replace(text,
      |      '[\x{200B}-\x{200D}\x{FEFF}]', '', 'g')))::BIGINT
      |      AS n_zero_width,
      |    (length(text) - length(regexp_replace(text,
      |      '[\x{00}-\x{08}\x{0B}\x{0C}\x{0E}-\x{1F}\x{7F}]', '',
      |      'g')))::BIGINT AS n_control,
      |    regexp_matches(text,
      |      '[A-Za-z][\x{0400}-\x{04FF}]|[\x{0400}-\x{04FF}][A-Za-z]')
      |      AS mixed_script
      |  FROM inj)""".stripMargin

  val tokensSql =
    "list_filter(string_split_regex(lower(text), '\\s+'), tk -> tk <> '')"

  /** q382/q383/q389 shared page fixture: an uppercase/ported page URL
    * and a per-doc HTML body whose href arms exercise every RFC 3986
    * reference-resolution rule — absolute, protocol-relative,
    * root-relative (with a tracking param that must strip),
    * dot-segment relative, plain relative, fragment-only and mailto
    * (both unresolvable). Arm presence varies per doc so link_pos
    * indexing is exercised too.
    */
  def linkPageFixture(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val dd = col("doc_id")
    val pp = when(dd % 6 === 0, ":80").when(dd % 6 === 1, ":8080")
      .otherwise("")
    val pageUrl = concat(lit("http://H"), dd % 5, lit(".Test"), pp,
      lit("/dir"), dd % 3, lit("/p"), dd % 11)
    val html = concat(
      lit("<html><body><a href=\"http://ex"), dd % 4, lit(".org/x/"),
      dd % 7, lit("\">A</a>"),
      when(dd % 2 === 0, concat(lit("<a href=\"//cdn"), dd % 3,
        lit(".test/l\">B</a>"))).otherwise(lit("")),
      lit("<a href=\"/root/"), dd % 5, lit("?id="), dd % 9,
      lit("&utm_source=f\">C</a>"),
      when(dd % 3 === 0, concat(lit("<a href=\"../up/"), dd % 6,
        lit("\">D</a>"))).otherwise(lit("")),
      lit("<a href=\"sub/"), dd % 4, lit("\">E</a>"),
      when(dd % 5 === 0, lit("<a href=\"#frag\">F</a>")).otherwise(lit("")),
      when(dd % 7 === 0, concat(lit("<a href=\"mailto:a@b"), dd % 3,
        lit(".c\">G</a>"))).otherwise(lit("")),
      lit("</body></html>"))
    docs.filter(dd >= 0)
      .select(dd, pageUrl.as("page_url"), html.as("page_html"))
  }

  /** q382/q383/q389 shared oracle scaffolding: the [[linkPageFixture]]
    * arms stated closed-form — per arm its document-order position
    * among the arms present for that doc, the raw href, the canonical
    * resolved target (tracking param stripped, dot-segments resolved,
    * :80 dropped / :8080 kept, null for fragment/mailto) and both
    * edge hosts.
    */
  lazy val linkArmsCtes: String =
    """WITH dk AS (SELECT doc_id,
      |    doc_id % 2 = 0 AS h2, doc_id % 3 = 0 AS h3,
      |    doc_id % 5 = 0 AS h5, doc_id % 7 = 0 AS h7,
      |    CASE WHEN doc_id % 6 = 1 THEN ':8080' ELSE '' END AS hp,
      |    'http://H' || (doc_id % 5) || '.Test' ||
      |      (CASE WHEN doc_id % 6 = 0 THEN ':80'
      |            WHEN doc_id % 6 = 1 THEN ':8080' ELSE '' END) ||
      |      '/dir' || (doc_id % 3) || '/p' || (doc_id % 11) AS page_url,
      |    'h' || (doc_id % 5) || '.test' AS src_host
      |  FROM documents WHERE doc_id >= 0),
      |arms AS (
      |  SELECT doc_id, page_url, src_host, 0 AS link_pos,
      |    'http://ex' || (doc_id % 4) || '.org/x/' || (doc_id % 7) AS href,
      |    'http://ex' || (doc_id % 4) || '.org/x/' || (doc_id % 7) AS target,
      |    'ex' || (doc_id % 4) || '.org' AS dst_host, 'A' AS anchor
      |  FROM dk
      |  UNION ALL
      |  SELECT doc_id, page_url, src_host, 1,
      |    '//cdn' || (doc_id % 3) || '.test/l',
      |    'http://cdn' || (doc_id % 3) || '.test/l',
      |    'cdn' || (doc_id % 3) || '.test', 'B'
      |  FROM dk WHERE h2
      |  UNION ALL
      |  SELECT doc_id, page_url, src_host,
      |    1 + (CASE WHEN h2 THEN 1 ELSE 0 END),
      |    '/root/' || (doc_id % 5) || '?id=' || (doc_id % 9)
      |      || '&utm_source=f',
      |    'http://' || src_host || hp || '/root/' || (doc_id % 5)
      |      || '?id=' || (doc_id % 9),
      |    src_host, 'C'
      |  FROM dk
      |  UNION ALL
      |  SELECT doc_id, page_url, src_host,
      |    2 + (CASE WHEN h2 THEN 1 ELSE 0 END),
      |    '../up/' || (doc_id % 6),
      |    'http://' || src_host || hp || '/up/' || (doc_id % 6),
      |    src_host, 'D'
      |  FROM dk WHERE h3
      |  UNION ALL
      |  SELECT doc_id, page_url, src_host,
      |    2 + (CASE WHEN h2 THEN 1 ELSE 0 END)
      |      + (CASE WHEN h3 THEN 1 ELSE 0 END),
      |    'sub/' || (doc_id % 4),
      |    'http://' || src_host || hp || '/dir' || (doc_id % 3)
      |      || '/sub/' || (doc_id % 4),
      |    src_host, 'E'
      |  FROM dk
      |  UNION ALL
      |  SELECT doc_id, page_url, src_host,
      |    3 + (CASE WHEN h2 THEN 1 ELSE 0 END)
      |      + (CASE WHEN h3 THEN 1 ELSE 0 END),
      |    '#frag', NULL, NULL, 'F'
      |  FROM dk WHERE h5
      |  UNION ALL
      |  SELECT doc_id, page_url, src_host,
      |    3 + (CASE WHEN h2 THEN 1 ELSE 0 END)
      |      + (CASE WHEN h3 THEN 1 ELSE 0 END)
      |      + (CASE WHEN h5 THEN 1 ELSE 0 END),
      |    'mailto:a@b' || (doc_id % 3) || '.c', NULL, NULL, 'G'
      |  FROM dk WHERE h7)""".stripMargin

  lazy val linkExtractOracleSql: String = linkArmsCtes +
    """
      |SELECT doc_id, page_url AS url,
      |  CAST(link_pos AS BIGINT) AS link_pos, href, target
      |FROM arms""".stripMargin

  /** q368/q376 shared oracle: the WARC synthesis arithmetic — n =
    * d%3+1 alternating response/request records, payload i carries
    * (d%6)+i+1 bytes, record 0 targets /d/<id>/0.
    */
  lazy val warcCensusOracleSql =
    """SELECT doc_id AS media_id,
      |  CAST(doc_id % 3 + 1 AS INT) AS n_records,
      |  CAST((doc_id % 3 + 2) // 2 AS INT) AS n_response,
      |  CAST((doc_id % 3 + 1) // 2 AS INT) AS n_request,
      |  CAST((doc_id % 3 + 1) * (doc_id % 6 + 1)
      |    + (doc_id % 3 + 1) * (doc_id % 3) // 2 AS BIGINT)
      |    AS total_payload,
      |  'http://ex.org/d/' || doc_id || '/0' AS first_uri
      |FROM documents WHERE doc_id >= 0""".stripMargin

  /** Shared by q353 (batch) and q357 (streaming gate): the green-list
    * watermark screen replay — FNV-64 parity of (prev ‖ 0x01 ‖ cur)
    * per adjacent token pair, single-IEEE-op green_frac/z outputs.
    */
  lazy val watermarkOracleSql =
    s"""WITH tk AS (SELECT doc_id, $tokensSql AS toks FROM documents
       |  WHERE text IS NOT NULL),
       |p AS (SELECT doc_id, len(toks) - 1 AS m,
       |    len(list_filter(generate_series(1, len(toks) - 1),
       |      pi -> (${fnvSql("toks[pi] || chr(1) || toks[pi+1]")}) % 2 = 0))
       |      AS g
       |  FROM tk WHERE len(toks) >= 2)
       |SELECT doc_id, m AS m_pairs, g AS g_green,
       |  g::DOUBLE / m::DOUBLE AS green_frac,
       |  (2 * g - m)::DOUBLE / sqrt(m::DOUBLE) AS z
       |FROM p""".stripMargin

  /** Shared q110/q112 oracle: BM25 scores from first principles on the
    * documents table. Double literals are interpolated from the SAME
    * Scala constants the Spark plans use (shortest round-trip repr →
    * identical doubles); ordering runs on the UNROUNDED score, mirroring
    * TextAnalysis.scoredTopK — rounding only for display, so no
    * Spark-vs-DuckDB boundary-rounding reorder is possible.
    */
  def bm25OracleSql(terms: Seq[String], k: Int, idSelect: String): String = {
    val k1 = 1.2; val b = 0.75
    val tfs = terms.indices.map(i =>
      s"len(list_filter(toks, t -> t = '${terms(i)}')) AS tf$i").mkString(",\n  ")
    val dfs = terms.indices.map(i =>
      s"sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END)::DOUBLE AS df$i").mkString(",\n  ")
    val hits = terms.indices.map(i => s"CASE WHEN tf$i > 0 THEN 1 ELSE 0 END")
      .mkString(" + ")
    val score = terms.indices.map(i =>
      s"""ln(1.0 + (n - df$i + 0.5) / (df$i + 0.5))
         | * (tf$i::DOUBLE * ${k1 + 1.0})
         | / (tf$i::DOUBLE + $k1 * (${1.0 - b} + $b * dl::DOUBLE / avgdl))"""
        .stripMargin.replace("\n", "")).mkString("\n   + ")
    s"""WITH tk AS (SELECT doc_id, $tokensSql AS toks FROM documents),
       |base AS (SELECT doc_id, len(toks) AS dl,
       |  $tfs FROM tk),
       |st AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl,
       |  $dfs FROM base),
       |scored AS (SELECT doc_id, ($hits)::BIGINT AS n_hits,
       |  ($score) AS raw
       | FROM base, st
       | WHERE ${terms.indices.map(i => s"tf$i > 0").mkString(" OR ")}
       | ORDER BY raw DESC, doc_id LIMIT $k)
       |SELECT $idSelect, n_hits, round(raw, 4) AS score FROM scored""".stripMargin
  }

  /** q260's semantic-decontamination replay, shared with q267's
    * combined report: seeded hyperplane planes, band keys per split,
    * cross-set candidates, exact cosine gate, per-train rollup.
    */
  def semanticDecontamOracleSql: String = {
    val vals = hyperplaneValuesSql(15, 4, 64, 42L)
    s"""WITH planes(plane_id, p) AS (VALUES $vals),
       |tr AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
       |  FROM embeddings WHERE vec_id % 97 <> 0
       |    AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
       |ev AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
       |  FROM embeddings WHERE vec_id % 97 = 0
       |    AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
       |tbands AS (
       |  SELECT id, plane_id // 4 AS band,
       |    SUM((CASE WHEN list_dot_product(v, p) >= 0 THEN 1 ELSE 0 END)
       |      << (plane_id % 4))::BIGINT AS key
       |  FROM tr CROSS JOIN planes GROUP BY id, plane_id // 4),
       |ebands AS (
       |  SELECT id, plane_id // 4 AS band,
       |    SUM((CASE WHEN list_dot_product(v, p) >= 0 THEN 1 ELSE 0 END)
       |      << (plane_id % 4))::BIGINT AS key
       |  FROM ev CROSS JOIN planes GROUP BY id, plane_id // 4),
       |cand AS (SELECT DISTINCT t.id AS id, e.id AS eval_id
       |  FROM tbands t JOIN ebands e ON t.band = e.band AND t.key = e.key),
       |scored AS (SELECT cand.id, cand.eval_id,
       |    list_cosine_similarity(tv.v, evv.v) AS c
       |  FROM cand JOIN tr tv ON tv.id = cand.id
       |    JOIN ev evv ON evv.id = cand.eval_id),
       |hits AS (SELECT id, c FROM scored WHERE c >= 0.3)
       |SELECT id, count(*)::BIGINT AS n_hits,
       |  round(max(c), 4) AS max_cosine, true AS contaminated
       |FROM hits GROUP BY id""".stripMargin
  }

  /** FNV-1a 64 over the bytes of `s`, as a DuckDB HUGEINT in [0, 2^64):
    * the exact arithmetic of HashUtil.fnv64, replayed with a 128-bit
    * accumulator (h*prime < 2^104, no overflow) and an explicit mod 2^64.
    * ASCII-only corpus (verified: length == octet_length for all docs),
    * so ascii(substring(..)) IS the byte value.
    */
  def fnvSql(s: String): String =
    s"""list_reduce(
       |  list_prepend(14695981039346656037::HUGEINT,
       |    list_transform(generate_series(1, octet_length(encode($s))),
       |      i -> ascii(substring($s, i, 1))::HUGEINT)),
       |  (h, b) -> (xor(h, b) * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT)""".stripMargin

  /** Reinterpret a [0, 2^64) HUGEINT as the signed 64-bit value Spark holds. */
  def toI64Sql(r: String): String =
    s"""CASE WHEN ($r) >= 9223372036854775808::HUGEINT
       | THEN (($r) - 18446744073709551616::HUGEINT)::BIGINT ELSE ($r)::BIGINT END""".stripMargin

  /** CTE chain computing HashUtil.simhash64 per doc_id: FNV-hash each
    * token, ±1-count each of the 64 bits, set bit iff count > 0. Emits
    * `simsig(doc_id, sh)` with sh as unsigned HUGEINT (docs with zero
    * tokens get 0, matching the kernel's empty-array result).
    */
  val simhashCtes =
    s"""simbase AS (SELECT doc_id, $tokensSql AS toks FROM documents),
       |simtok AS (SELECT doc_id, unnest(toks) AS tk FROM simbase),
       |simth AS (SELECT doc_id, ${fnvSql("tk")} AS h FROM simtok),
       |simthj AS (SELECT doc_id, h, unnest(generate_series(0, 63)) AS j FROM simth),
       |simbits AS (SELECT doc_id, j,
       |    sum(CASE WHEN (h // (2::HUGEINT ^ j)::HUGEINT) % 2 = 1 THEN 1 ELSE -1 END) AS cnt
       |  FROM simthj GROUP BY doc_id, j),
       |simsig AS (SELECT b.doc_id, coalesce(s.sh, 0::HUGEINT) AS sh
       |  FROM simbase b LEFT JOIN (SELECT doc_id,
       |      coalesce(sum(CASE WHEN cnt > 0 THEN (2::HUGEINT ^ j)::HUGEINT END), 0::HUGEINT) AS sh
       |    FROM simbits GROUP BY doc_id) s USING (doc_id))""".stripMargin

  /** CTE chain replaying HashUtil.winnowSelections(k, window) over
    * documents.text: FNV gram hashes (signed compare), leftmost-argmin
    * per sliding window, consecutive-site dedup (= distinct sites, since
    * selection positions are non-decreasing). Ends with
    * `dsel(doc_id, sh, spos)` — the selected (hash, position) sites.
    *
    * The sliding-window min runs as a WINDOW FRAME over the dense gram
    * positions, not a windows×grams range join: the join form planned
    * as a per-doc nested loop in DuckDB (O(|doc|²) per doc — measured
    * 146 s of the gate's 804 s oracle budget on q58 alone, the #2
    * contributor to the driver-side correctness-stage wall time); the
    * frame form is one linear pass, 5 s, bit-identical output.
    */
  def winnowCtes(k: Int, window: Int): String =
    s"""grams AS (SELECT doc_id, unnest(generate_series(0, length(text) - $k)) AS pos, text
       |  FROM documents WHERE length(text) >= $k),
       |gh AS (SELECT doc_id, pos, ${toI64Sql(fnvSql(s"substring(text, pos + 1, $k)"))} AS gh FROM grams),
       |n_g AS (SELECT doc_id, count(*) AS n FROM gh GROUP BY doc_id),
       |sel AS (SELECT gh.doc_id, pos AS ww, n,
       |    min(struct_pack(gh := gh, pos := pos)) OVER (
       |      PARTITION BY gh.doc_id ORDER BY pos
       |      ROWS BETWEEN CURRENT ROW AND ${window - 1} FOLLOWING) AS m
       |  FROM gh JOIN n_g USING (doc_id)),
       |dsel AS (SELECT DISTINCT doc_id, m.gh AS sh, m.pos AS spos FROM sel
       |  WHERE ww < greatest(n - $window + 1, 1))""".stripMargin

  /** The engine's seeded hyperplanes as a DuckDB VALUES literal.
    * Double.toString = shortest round-trip repr → DuckDB parses back the
    * identical double; shared by every hyperplane-LSH replay oracle.
    */
  def hyperplaneValuesSql(numBands: Int, planesPerBand: Int,
      dim: Int, seed: Long): String =
    graft.operators.Similarity
      .randomHyperplanes(numBands * planesPerBand, dim, seed)
      .zipWithIndex.map { case (p, i) =>
        p.map(java.lang.Double.toString).mkString(s"($i, [", ",", "]::DOUBLE[])")
      }.mkString(",\n")

  // ---- xxhash64-of-long replay in DuckDB HUGEINT arithmetic ------------
  // Spark's xxhash64 on a LongType column is XXH64.hashLong(v, seed=42):
  // one 8-byte round + avalanche, all mod-2^64. DuckDB BIGINT multiply
  // overflows, and HUGEINT can't hold a full 64×64 product either, so
  // mul64 splits into 32-bit halves: a·b ≡ al·bl + ((al·bh + ah·bl) mod
  // 2^32)·2^32 (mod 2^64) — every intermediate < 2^65 fits HUGEINT.
  // Verified identical to Spark's xxhash64 on 10k longs.
  val M64 = "18446744073709551616::HUGEINT" // 2^64

  def mul64(a: String, b: BigInt): String = {
    val (bh, bl) = (b >> 32, b & 0xffffffffL)
    s"""((($a) % 4294967296::HUGEINT) * $bl::HUGEINT +
       | (((($a) % 4294967296::HUGEINT) * $bh::HUGEINT + (($a) // 4294967296::HUGEINT) * $bl::HUGEINT)
       |  % 4294967296::HUGEINT) * 4294967296::HUGEINT) % $M64""".stripMargin
  }

  def rotl64(x: String, r: Int): String =
    s"((($x) * ${BigInt(1) << r}::HUGEINT) % $M64 + ($x) // ${BigInt(1) << (64 - r)}::HUGEINT)"

  def shrXor64(x: String, n: Int): String =
    s"xor($x, ($x) // ${BigInt(1) << n}::HUGEINT)"

  /** CTE chain `$prefix(<carry>, hash)`: signed splitmix64 finalizer of
    * the unsigned-HUGEINT-valued `$inExpr` (typically an [[fnvSql]]
    * chain) over `$src` — the BottomKHashes sketch hash. Staged as CTE
    * steps because mul64 textually repeats its operand (nesting would
    * blow the SQL up exponentially).
    */
  def mix64Chain(prefix: String, src: String, inExpr: String,
      carry: Seq[String]): String = {
    val C1 = BigInt("9E3779B97F4A7C15", 16)
    val C2 = BigInt("BF58476D1CE4E5B9", 16)
    val C3 = BigInt("94D049BB133111EB", 16)
    val steps = Seq(
      "z1" -> s"(u + $C1::HUGEINT) % $M64",
      "z2" -> shrXor64("z1", 30), "z3" -> mul64("z2", C2),
      "z4" -> shrXor64("z3", 27), "z5" -> mul64("z4", C3),
      "zz" -> shrXor64("z5", 31))
    val chain = steps.zipWithIndex.map { case ((n, e), i) =>
      s"$prefix${i + 1} AS (SELECT *, $e AS $n FROM $prefix$i)"
    }.mkString(",\n")
    val cs = carry.mkString(", ")
    s"""${prefix}0 AS (SELECT $cs, ($inExpr)::HUGEINT AS u FROM $src),
       |$chain,
       |$prefix AS (SELECT $cs, ${toI64Sql("zz")} AS hash FROM $prefix${steps.size})""".stripMargin
  }

  /** CTE chain `$prefix(<carry>, hs)`: signed xxhash64 (seed 42) of the
    * long-valued `$inExpr` evaluated over `$src`, carrying `carry`
    * columns through. Reusable — distinct prefixes let one oracle apply
    * the hash to several inputs.
    */
  def xxh64Chain(prefix: String, src: String, inExpr: String,
      carry: Seq[String]): String = {
    val P1 = BigInt("9E3779B185EBCA87", 16); val P2 = BigInt("C2B2AE3D27D4EB4F", 16)
    val P3 = BigInt("165667B19E3779F9", 16); val P4 = BigInt("85EBCA77C2B2AE63", 16)
    val P5 = BigInt("27D4EB2F165667C5", 16)
    val seedH = (BigInt(42) + P5 + 8) & ((BigInt(1) << 64) - 1)
    // carried columns must not shadow chain step names: DuckDB silently
    // renames the colliding step (h1 -> h1_1) and later steps resolve
    // the CARRIED column instead — a wrong-hash footgun found via q258
    val reserved = Set("u", "hs", "k1a", "k1b", "k1", "h0", "h1", "h2",
      "f1", "f2", "f3", "f4", "hh")
    require(carry.forall(c => !reserved.contains(c.toLowerCase)),
      s"xxh64Chain carry ${carry.mkString(",")} collides with step names")
    val steps = Seq(
      "k1a" -> mul64("u", P2), "k1b" -> rotl64("k1a", 31), "k1" -> mul64("k1b", P1),
      "h0" -> s"xor($seedH::HUGEINT, k1)", "h1" -> rotl64("h0", 27),
      "h2" -> s"(${mul64("h1", P1)} + $P4::HUGEINT) % $M64",
      "f1" -> shrXor64("h2", 33), "f2" -> mul64("f1", P2),
      "f3" -> shrXor64("f2", 29), "f4" -> mul64("f3", P3), "hh" -> shrXor64("f4", 32))
    // MATERIALIZED per step is load-bearing: several steps reference
    // their input twice (rotl, shr-xor), so DuckDB's default CTE
    // inlining doubles the substituted expression per step — a single
    // chain grows ~32×, and chain-of-chain compositions (q258) square
    // that into minutes of planning. Materializing pins each step to
    // one tiny intermediate table.
    val chain = steps.zipWithIndex.map { case ((n, e), i) =>
      s"$prefix${i + 1} AS MATERIALIZED (SELECT *, $e AS $n FROM $prefix$i)"
    }.mkString(",\n")
    val cs = carry.mkString(", ")
    s"""${prefix}0 AS MATERIALIZED (SELECT $cs, ($inExpr)::HUGEINT AS u FROM $src),
       |$chain,
       |$prefix AS MATERIALIZED (SELECT $cs, ${toI64Sql("hh")} AS hs FROM $prefix${steps.size})""".stripMargin
  }

  /** Back-compat form: `xh(id, hs)` over `vecs.id`. */
  def xxh64LongCtes: String = xxh64Chain("xh", "vecs", "id", Seq("id"))

  /** The q156 EWMA replay (recursive CTE), shared with the streaming
    * form q166 (one file = one batch → unconditional equality).
    */
  def ewmaOracleSql: String =
    """WITH RECURSIVE e AS (SELECT user_id AS u, event_id AS id, value,
        |    epoch_us(ts) AS us FROM events WHERE value IS NOT NULL),
        |o AS (SELECT u, id, value::DOUBLE AS x,
        |    row_number() OVER (PARTITION BY u ORDER BY us, id) AS rn FROM e),
        |r AS (
        |  SELECT u, id, x, rn, x AS ewma, NULL::DOUBLE AS dev
        |  FROM o WHERE rn = 1
        |  UNION ALL
        |  SELECT o.u, o.id, o.x, o.rn,
        |    0.25::DOUBLE * o.x + 0.75::DOUBLE * r.ewma AS ewma,
        |    o.x - r.ewma AS dev
        |  FROM o JOIN r ON o.u = r.u AND o.rn = r.rn + 1)
        |SELECT id AS event_id, ewma, dev AS deviation FROM r""".stripMargin

  /** The q26 quality-score replay, shared with q169 (best-of-cluster
    * winner selection).
    */
  def qualityScoreOracleSql: String =
    s"""WITH tk AS (SELECT doc_id, text, $tokensSql AS toks FROM documents),
         |m AS (SELECT doc_id,
         |  len(toks)::DOUBLE AS n_tokens,
         |  CASE WHEN length(text) > 0
         |    THEN (length(text) - length(regexp_replace(text, '[.,;:!?''"()\\-]', '', 'g')))::DOUBLE / length(text)
         |    ELSE 0.0 END AS punct_ratio,
         |  CASE WHEN len(toks) > 0
         |    THEN len(list_filter(toks, tk2 -> list_contains(['the','a','an','and','or','of','to','in','is','it'], tk2)))::DOUBLE / len(toks)
         |    ELSE 0.0 END AS sw_ratio
         | FROM tk)
         |SELECT doc_id,
         | round(least(n_tokens / 20.0, 1.0)
         |   * greatest(1.0 - punct_ratio * 5.0, 0.0)
         |   * least(sw_ratio * 5.0, 1.0), 4) AS quality_score
         |FROM m""".stripMargin

  /** The q140 Gopher-quality replay, shared with the streaming gate
    * (q154) which filters it to keep=true.
    */
  def gopherQualityOracleSql: String =
    s"""WITH tk AS (SELECT doc_id, text, $tokensSql AS toks FROM documents),
         |ld AS (SELECT doc_id, text, toks,
         |    CASE WHEN len(toks) > 0 THEN
         |      list_transform(generate_series(0, (len(toks) - 1) // 10),
         |        i -> array_to_string(toks[i * 10 + 1 : i * 10 + 10], ' '))
         |    ELSE [] END AS lines FROM tk),
         |m AS (SELECT doc_id, len(toks) AS nw, len(lines) AS nl,
         |    list_reduce(list_prepend(0::BIGINT,
         |      list_transform(toks, t -> length(t)::BIGINT)), (a, b) -> a + b)
         |      AS wlen,
         |    (length(text) - length(replace(text, '#', ''))) AS hashes,
         |    (length(text) - length(replace(text, '...', ''))) // 3 AS ells,
         |    len(list_filter(lines, l -> l LIKE '-%' OR l LIKE '*%'
         |      OR l LIKE '•%')) AS bullets,
         |    len(list_filter(lines, l -> l LIKE '%...')) AS elllines,
         |    len(list_filter(toks, t -> regexp_matches(t, '[a-zA-Z]')))
         |      AS alphas,
         |    len(list_filter(toks, t -> list_contains(
         |      ['the','a','an','and','or','of','to','in','is','it'], t)))
         |      AS sw
         |  FROM ld),
         |r AS (SELECT doc_id, nw::BIGINT AS n_words,
         |    CASE WHEN nw > 0 THEN wlen::DOUBLE / nw ELSE 0.0 END
         |      AS mean_word_len,
         |    CASE WHEN nw > 0 THEN (hashes + ells)::DOUBLE / nw ELSE 0.0 END
         |      AS symbol_to_word,
         |    CASE WHEN nl > 0 THEN bullets::DOUBLE / nl ELSE 0.0 END
         |      AS bullet_line_frac,
         |    CASE WHEN nl > 0 THEN elllines::DOUBLE / nl ELSE 0.0 END
         |      AS ellipsis_line_frac,
         |    CASE WHEN nw > 0 THEN alphas::DOUBLE / nw ELSE 0.0 END
         |      AS alpha_word_frac,
         |    sw::BIGINT AS stopword_hits
         |  FROM m)
         |SELECT doc_id, n_words, mean_word_len, symbol_to_word,
         |  bullet_line_frac, ellipsis_line_frac, alpha_word_frac,
         |  stopword_hits,
         |  (n_words >= 50 AND n_words <= 100000
         |    AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
         |    AND symbol_to_word < 0.1 AND bullet_line_frac < 0.9
         |    AND ellipsis_line_frac < 0.3 AND alpha_word_frac > 0.8
         |    AND stopword_hits >= 2) AS keep
         |FROM r""".stripMargin
}
