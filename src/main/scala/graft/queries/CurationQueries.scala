package graft
package queries

import org.apache.spark.sql.functions._

import Shared._

/** Training-data curation ([[graft.operators.TrainingData]],
  * [[graft.operators.Curation]]): sampling, mixtures, splits,
  * decontamination, PII and shard planning.
  */
object CurationQueries {

  /** Shared q92/q108 oracle: exact word-3-gram contamination as a plain
    * semi-join — the broadcast path (q92) and the Bloom-pruned +
    * exact-rerank path (q108) must both reduce to exactly this relation.
    */
  private def decontamOracleSql: String =
    s"""WITH tk AS (SELECT doc_id, $tokensSql AS toks FROM documents),
       |sh AS (SELECT doc_id,
       |  list_distinct(list_transform(generate_series(1, len(toks) - 2),
       |    i -> array_to_string(toks[i:i+2], ' '))) AS g
       | FROM tk WHERE len(toks) >= 3),
       |ev AS (SELECT DISTINCT gram FROM
       |  (SELECT unnest(g) AS gram FROM sh WHERE doc_id % 97 = 0)),
       |tr AS (SELECT doc_id, unnest(g) AS gram FROM sh WHERE doc_id % 97 <> 0)
       |SELECT tr.doc_id AS id, count(*) AS n_hits, true AS contaminated
       |FROM tr JOIN ev USING (gram) GROUP BY tr.doc_id""".stripMargin

  val all: Seq[Query] = Seq(
    // End-to-end training-data pipeline: curation funnel (lang + quality
    // + exact dedup) → deterministic 90/5/5 split → 256-token sequence
    // packing of the train split across 2 shards. One declarative plan;
    // the oracle composes the q62/q89/q90 replays.
    Query("q105_pipeline_e2e", (s, d) => {
      val curated = graft.operators.Curation.curate(
        t(s, d, "documents"),
        graft.operators.Curation.Config(
          allowedLangs = Some(Set("en", "fr", "de", "es")),
          minQuality = 0.3, minTokens = 5, nearDupJaccard = None))
      val train = graft.operators.TrainingData
        .deterministicSplit(curated, "doc_id", trainPct = 90, valPct = 5)
        .filter(col("split") === "train")
      graft.operators.TrainingData.packSequences(
        train, "doc_id", col("n_tokens"),
        // sign-preserving % matches the oracle's doc_id % 2 (see q287)
        capacity = 256, shard = col("doc_id") % lit(2))
    },
      // q62's funnel CTEs → q89's split hash chain → q90's packing window,
      // composed into one statement (same single-sources-of-truth replays)
      s"""WITH tk AS (SELECT doc_id, text, lang, $tokensSql AS toks FROM documents),
         |m AS (SELECT doc_id, text, lang,
         |  len(toks) AS n_tokens,
         |  round(least(len(toks) / 20.0, 1.0)
         |    * greatest(1.0 - (CASE WHEN length(text) > 0
         |        THEN (length(text) - length(regexp_replace(text, '[.,;:!?''"()\\-]', '', 'g')))::DOUBLE / length(text)
         |        ELSE 0.0 END) * 5.0, 0.0)
         |    * least((CASE WHEN len(toks) > 0
         |        THEN len(list_filter(toks, tk2 -> list_contains(['the','a','an','and','or','of','to','in','is','it'], tk2)))::DOUBLE / len(toks)
         |        ELSE 0.0 END) * 5.0, 1.0), 4) AS quality_score
         | FROM tk),
         |gated AS (SELECT * FROM m
         | WHERE lang IN ('en','fr','de','es') AND n_tokens >= 5 AND quality_score >= 0.3),
         |keep AS (SELECT min(doc_id) AS doc_id FROM gated GROUP BY text),
         |cur AS (SELECT g.doc_id, g.n_tokens FROM gated g JOIN keep USING (doc_id)),
         |${xxh64Chain("xh", "cur", "doc_id", Seq("doc_id", "n_tokens"))},
         |trn AS (SELECT doc_id, doc_id % 2 AS shard, n_tokens FROM xh
         | WHERE ((hs % 100) + 100) % 100 < 90),
         |o AS (SELECT doc_id, shard, n_tokens,
         |    CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id) AS BIGINT) AS end_off
         |  FROM trn WHERE n_tokens > 0),
         |e AS (SELECT doc_id, shard, end_off - n_tokens AS start_off, end_off,
         |    unnest(generate_series((end_off - n_tokens) // 256, (end_off - 1) // 256)) AS chunk_id
         |  FROM o)
         |SELECT shard, chunk_id, doc_id,
         |  greatest(start_off, chunk_id * 256) AS tok_start,
         |  least(end_off, (chunk_id + 1) * 256) AS tok_end,
         |  least(end_off, (chunk_id + 1) * 256)
         |    - greatest(start_off, chunk_id * 256) AS tokens_in_chunk
         |FROM e""".stripMargin),

    // A-ES weighted sampling: length-weighted top-100 draw, fully
    // deterministic (FNV of the id string → u → ln(u)/w key), replayed
    // bit-for-bit by the oracle's HUGEINT FNV chain. key_4dp +0.0
    // canonicalizes the round(-tiny) → -0.0 render pitfall.
    Query("q133_weighted_sample", (s, d) => {
      val sampled = graft.operators.TrainingData.weightedSample(
        t(s, d, "documents"), "doc_id", col("n_chars").cast("double"), 100)
      sampled.select(col("doc_id"), col("n_chars"),
        (round(col("sample_key"), 4) + lit(0.0)).as("key_4dp"))
    },
      // A-ES replay: identical FNV-1a u, identical ln-key formula; both
      // engines rank their own raw doubles (the q110 rationale), values
      // compare at 4dp
      s"""WITH h AS (
         |  SELECT doc_id, n_chars,
         |    ((${fnvSql("doc_id::VARCHAR")}) // 2048 + 1)::DOUBLE
         |      / 9007199254740992.0 AS u
         |  FROM documents WHERE n_chars > 0),
         |k AS (SELECT doc_id, n_chars, ln(u) / n_chars::DOUBLE AS key FROM h)
         |SELECT doc_id, n_chars, round(key, 4) + 0.0 AS key_4dp
         |FROM k ORDER BY key DESC, doc_id LIMIT 100""".stripMargin),

    // Bloom-pruned decontamination: same output as q92, but the corpus
    // side is pre-filtered by a Bloom filter over the eval grams (the
    // scale path when the eval set is too large to broadcast exactly);
    // exact semi-join rerank kills the Bloom false positives.
    Query("q108_decontam_bloom", (s, d) => {
      val docs = t(s, d, "documents")
      graft.operators.TrainingData.decontaminateBloom(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0),
        "doc_id", "text", n = 3, expectedEvalGrams = 50000L)
    },
      // identical semantics to q92 by construction (Bloom prune + exact
      // rerank = plain exact semi-join)
      decontamOracleSql),

    // Deterministic exact-k-per-stratum sample: 7 docs per language by
    // smallest xxhash64(doc_id) — the fixed-budget reservoir shape
    // (WindowGroupLimit pre-prunes map-side; plan-guarded)
    Query("q117_sample_exact_k", (s, d) =>
      graft.operators.TrainingData.sampleExactK(
        t(s, d, "documents").select(col("doc_id"), col("lang")),
        "doc_id", "lang", k = 7),
      // exact-k reservoir replay: the same signed-xxhash64 rank inside
      // each language, k smallest kept
      s"""WITH vecs AS (SELECT doc_id AS id, lang FROM documents),
         |${xxh64Chain("xh", "vecs", "id", Seq("id", "lang"))}
         |SELECT id AS doc_id, lang FROM (
         |  SELECT id, lang,
         |    row_number() OVER (PARTITION BY lang ORDER BY hs, id) AS rn
         |  FROM xh)
         |WHERE rn <= 7""".stripMargin),

    // Deterministic stratified sample: per-language hash-gate rates
    Query("q102_stratified_sample", (s, d) =>
      graft.operators.TrainingData.stratifiedSample(
        t(s, d, "documents"), "doc_id", "lang",
        rates = Map("en" -> 0.5, "fr" -> 1.0, "zh" -> 0.1), defaultRate = 0.25)
        .select("doc_id", "lang"),
      s"""WITH vecs AS (SELECT doc_id AS id, lang FROM documents),
         |${xxh64Chain("xh", "vecs", "id", Seq("id", "lang"))}
         |SELECT id AS doc_id, lang FROM xh
         |WHERE ((hs % 1000000) + 1000000) % 1000000 <
         |  CASE lang WHEN 'en' THEN 500000 WHEN 'fr' THEN 1000000
         |            WHEN 'zh' THEN 100000 ELSE 250000 END""".stripMargin),

    // Weighted corpus mixing with a deterministic shuffle key
    Query("q103_corpus_mix", (s, d) => {
      val docs = t(s, d, "documents")
      graft.operators.TrainingData.mixCorpora(Seq(
        ("src0", docs.filter(col("source") === "src0"), 1.0),
        ("src1", docs.filter(col("source") === "src1"), 0.5),
        ("src2", docs.filter(col("source") === "src2"), 0.25)), "doc_id")
        .select("source_name", "doc_id", "shuffle_key")
    },
      s"""WITH src AS (SELECT doc_id, source,
         |    CASE source WHEN 'src0' THEN 0 WHEN 'src1' THEN 1 ELSE 2 END AS sidx,
         |    CASE source WHEN 'src0' THEN 1000000 WHEN 'src1' THEN 500000 ELSE 250000 END AS thr
         |  FROM documents WHERE source IN ('src0', 'src1', 'src2')),
         |${xxh64Chain("g", "src", "doc_id * 3 + sidx", Seq("doc_id", "source", "sidx", "thr"))},
         |kept AS (SELECT doc_id, source, hs AS gate_hs FROM g
         |  WHERE ((hs % 1000000) + 1000000) % 1000000 < thr),
         |${xxh64Chain("sk", "kept",
            "gate_hs + CASE WHEN gate_hs < 0 THEN 18446744073709551616 ELSE 0 END",
            Seq("doc_id", "source"))}
         |SELECT source AS source_name, doc_id, hs AS shuffle_key FROM sk""".stripMargin),

    // Deterministic hash split: reproducible train/val/test assignment
    // (pmod(xxhash64(id), 100)) — oracle replays the hash in HUGEINT SQL
    Query("q89_det_split", (s, d) =>
      graft.operators.TrainingData.deterministicSplit(
        t(s, d, "documents"), "doc_id", trainPct = 90, valPct = 5)
        .select("doc_id", "bucket", "split"),
      {
      val b = "((hs % 100) + 100) % 100" // pmod for signed hs
      s"""WITH vecs AS (SELECT doc_id AS id FROM documents),
         |$xxh64LongCtes
         |SELECT id AS doc_id, $b AS bucket,
         |  CASE WHEN $b < 90 THEN 'train'
         |       WHEN $b < 95 THEN 'val' ELSE 'test' END AS split
         |FROM xh""".stripMargin
    }),

    // PII redaction over deterministically synthesized PII (the corpus
    // itself is clean): email/phone/IPv4 seeded from doc_id, counts on
    // pre-redaction text, patterns shared Java-regex/RE2
    Query("q91_pii_redact", (s, d) => {
      val withPii = t(s, d, "documents").select(col("doc_id"),
        concat(
          substring(col("text"), 1, 40),
          when(col("doc_id") % 3 === 0,
            concat(lit(" contact user"), col("doc_id"), lit("@mail.example.com")))
            .otherwise(lit("")),
          when(col("doc_id") % 4 === 0,
            concat(lit(" call 555-010-"),
              lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
            .otherwise(lit("")),
          when(col("doc_id") % 5 === 0,
            concat(lit(" from 10.0."), (col("doc_id") % 256).cast("string"),
              lit("."), ((col("doc_id") * 7) % 256).cast("string")))
            .otherwise(lit(""))).as("t"))
      graft.operators.TrainingData.redactPii(withPii, "t")
        .select("doc_id", "n_email", "n_phone", "n_ipv4", "redacted")
    },
      {
      val pats = graft.operators.TrainingData.piiPatterns
      val counts = pats.map { case (kind, pat, _) =>
        s"len(regexp_extract_all(t, '$pat'))::BIGINT AS n_$kind" }.mkString(",\n ")
      val redacted = pats.foldLeft("t") { case (acc, (_, pat, repl)) =>
        s"regexp_replace($acc, '$pat', '$repl', 'g')" }
      s"""WITH src AS (SELECT doc_id,
         | substring(text, 1, 40)
         | || CASE WHEN doc_id % 3 = 0 THEN ' contact user' || doc_id::VARCHAR || '@mail.example.com' ELSE '' END
         | || CASE WHEN doc_id % 4 = 0 THEN ' call 555-010-' || lpad((doc_id % 10000)::VARCHAR, 4, '0') ELSE '' END
         | || CASE WHEN doc_id % 5 = 0 THEN ' from 10.0.' || (doc_id % 256)::VARCHAR || '.' || ((doc_id * 7) % 256)::VARCHAR ELSE '' END AS t
         | FROM documents)
         |SELECT doc_id, $counts,
         | $redacted AS redacted
         |FROM src""".stripMargin
    }),

    // Benchmark decontamination: train docs sharing any word-3-gram with
    // the eval slice (doc_id % 97 = 0); n_hits = distinct matched grams
    Query("q92_decontam", (s, d) => {
      val docs = t(s, d, "documents")
      graft.operators.TrainingData.decontaminate(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0),
        "doc_id", "text", n = 3)
    },
      decontamOracleSql),

    // Training-data curation funnel (lang + quality gates, exact dedup) —
    // the near-dup stage is exercised in q29/spec; omitted here so the
    // whole pipeline stays SQL-oracle-checkable
    Query("q62_curation", (s, d) =>
      graft.operators.Curation.curate(
        t(s, d, "documents"),
        graft.operators.Curation.Config(
          allowedLangs = Some(Set("en", "fr", "de", "es")),
          minQuality = 0.3, minTokens = 5, nearDupJaccard = None))
        .select(col("doc_id"), col("n_tokens"), col("quality_score")),
      s"""WITH tk AS (SELECT doc_id, text, lang, $tokensSql AS toks FROM documents),
         |m AS (SELECT doc_id, text, lang,
         |  len(toks) AS n_tokens,
         |  round(least(len(toks) / 20.0, 1.0)
         |    * greatest(1.0 - (CASE WHEN length(text) > 0
         |        THEN (length(text) - length(regexp_replace(text, '[.,;:!?''"()\\-]', '', 'g')))::DOUBLE / length(text)
         |        ELSE 0.0 END) * 5.0, 0.0)
         |    * least((CASE WHEN len(toks) > 0
         |        THEN len(list_filter(toks, tk2 -> list_contains(['the','a','an','and','or','of','to','in','is','it'], tk2)))::DOUBLE / len(toks)
         |        ELSE 0.0 END) * 5.0, 1.0), 4) AS quality_score
         | FROM tk),
         |gated AS (SELECT * FROM m
         | WHERE lang IN ('en','fr','de','es') AND n_tokens >= 5 AND quality_score >= 0.3),
         |keep AS (SELECT min(doc_id) AS doc_id FROM gated GROUP BY text)
         |SELECT g.doc_id, g.n_tokens, g.quality_score
         |FROM gated g JOIN keep USING (doc_id)""".stripMargin),

    // PII with VALIDATED financial identifiers: credit-card candidates
    // gated on the Luhn checksum and IBANs on ISO 13616 mod-97, over
    // synthetic text mixing known-valid numbers with doc-varying digit
    // runs whose validity is data-dependent — syntactic candidate
    // counts sit next to validated counts, so the census pins exactly
    // which digit runs the checksum gates kept from being redacted
    Query("q257_pii_validated", (s, d) => {
      val d16 = lpad(((col("doc_id") * 2654435761L) % 10000000000000000L)
        .cast("string"), 16, "0")
      val t0 = concat(
        lit("order "), d16,
        when(col("doc_id") % 7 === 0,
          lit(" pay 4111 1111 1111 1111 now")).otherwise(lit("")),
        when(col("doc_id") % 11 === 0,
          lit(" iban GB82WEST12345698765432 ok")).otherwise(lit("")),
        when(col("doc_id") % 13 === 0,
          lit(" bad GB82WEST12345698765433")).otherwise(lit("")),
        lit(" ref DE"), lpad((col("doc_id") % 100).cast("string"), 2, "0"),
        lit("BANK"),
        lpad(((col("doc_id") * 31) % 1000000000000L).cast("string"), 12, "0"))
      val withT = t(s, d, "documents").select(col("doc_id"), t0.as("t"))
      graft.operators.TrainingData.redactPiiValidated(withT, "t")
        .select(col("doc_id"),
          size(regexp_extract_all(col("t"),
            lit(graft.operators.TrainingData.ccCandidatePattern), lit(0)))
            .as("n_cc_cand"),
          col("n_ccard"),
          size(regexp_extract_all(col("t"),
            lit(graft.operators.TrainingData.ibanCandidatePattern), lit(0)))
            .as("n_iban_cand"),
          col("n_iban"), col("redacted"))
    },
      // Luhn / mod-97 replayed structurally in DuckDB: indexed
      // list_transform doubles every second digit from the right (DuckDB
      // lambdas index from 1, Spark from 0 — the parity flips), and the
      // IBAN residue folds char-by-char through list_reduce with a
      // stringified accumulator. Redaction fold order is irrelevant by
      // construction (no validated candidate is a substring of another),
      // so DuckDB's unordered list_distinct is safe.
      s"""WITH txt AS (SELECT doc_id,
         |  'order ' || lpad(CAST((doc_id * 2654435761) % 10000000000000000 AS VARCHAR), 16, '0')
         |  || CASE WHEN doc_id % 7 = 0 THEN ' pay 4111 1111 1111 1111 now' ELSE '' END
         |  || CASE WHEN doc_id % 11 = 0 THEN ' iban GB82WEST12345698765432 ok' ELSE '' END
         |  || CASE WHEN doc_id % 13 = 0 THEN ' bad GB82WEST12345698765433' ELSE '' END
         |  || ' ref DE' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
         |  || 'BANK' || lpad(CAST((doc_id * 31) % 1000000000000 AS VARCHAR), 12, '0') AS t
         |  FROM documents),
         |cc AS (SELECT doc_id, t,
         |  regexp_extract_all(t, '\\b[0-9](?:[ -]?[0-9]){12,18}\\b') AS cands,
         |  list_filter(regexp_extract_all(t, '\\b[0-9](?:[ -]?[0-9]){12,18}\\b'), c ->
         |    len(regexp_extract_all(c, '[0-9]')) BETWEEN 13 AND 19 AND
         |    list_sum(list_transform(list_reverse(regexp_extract_all(c, '[0-9]')), (x, i) ->
         |      CASE WHEN i % 2 = 0 THEN
         |        CASE WHEN 2*CAST(x AS INT) > 9 THEN 2*CAST(x AS INT) - 9 ELSE 2*CAST(x AS INT) END
         |      ELSE CAST(x AS INT) END)) % 10 = 0) AS valid
         |  FROM txt),
         |ib AS (SELECT doc_id,
         |  regexp_extract_all(t, '\\b[A-Z]{2}[0-9]{2}[A-Z0-9]{11,30}\\b') AS cands,
         |  list_filter(regexp_extract_all(t, '\\b[A-Z]{2}[0-9]{2}[A-Z0-9]{11,30}\\b'), c ->
         |    len(c) BETWEEN 15 AND 34 AND
         |    CAST(list_reduce(list_prepend('0',
         |      regexp_extract_all(substr(c, 5) || substr(c, 1, 4), '.')), (a, x) ->
         |      CASE WHEN x BETWEEN '0' AND '9'
         |        THEN CAST((CAST(a AS BIGINT) * 10 + CAST(x AS BIGINT)) % 97 AS VARCHAR)
         |        ELSE CAST((CAST(a AS BIGINT) * 100 + ascii(x) - 55) % 97 AS VARCHAR)
         |      END) AS BIGINT) = 1) AS valid
         |  FROM txt)
         |SELECT cc.doc_id,
         |  len(cc.cands)::INT AS n_cc_cand,
         |  len(cc.valid)::INT AS n_ccard,
         |  len(ib.cands)::INT AS n_iban_cand,
         |  len(ib.valid)::INT AS n_iban,
         |  list_reduce(list_prepend(
         |    list_reduce(list_prepend(cc.t,
         |      list_transform(list_sort(list_transform(list_distinct(ib.valid),
         |        c -> lpad(CAST(99 - len(c) AS VARCHAR), 2, '0') || c)),
         |        k -> substr(k, 3))),
         |      (a, x) -> replace(a, x, '<IBAN>')),
         |    list_transform(list_sort(list_transform(list_distinct(cc.valid),
         |      c -> lpad(CAST(99 - len(c) AS VARCHAR), 2, '0') || c)),
         |      k -> substr(k, 3))), (a, x) -> replace(a, x, '<CC>')) AS redacted
         |FROM cc JOIN ib ON cc.doc_id = ib.doc_id""".stripMargin),

    // Release-shard manifest: xxh64(id) mod 8 sharding with per-shard
    // doc/token/byte counts + an order-independent xor content
    // checksum — the verify-without-rereading table a release ships
    Query("q316_shard_manifest", (s, d) =>
      graft.operators.TrainingData.shardManifest(
        t(s, d, "documents"), "doc_id", "text", nShards = 8),
      // Shard-manifest replay: exact xxh64(doc_id) chain for the shard
      // assignment, token/byte sums with the null→0 convention, and the
      // same signed-64 FNV xor checksum (both engines skip NULLs)
      {
      s"""WITH ${xxh64Chain("dh", "documents", "doc_id", Seq("doc_id"))},
         |j AS (SELECT ((dh.hs % 8) + 8) % 8 AS shard, d.text
         |  FROM documents d JOIN dh ON dh.doc_id = d.doc_id)
         |SELECT shard, count(*)::BIGINT AS n_docs,
         |  SUM(COALESCE(len($tokensSql), 0))::BIGINT AS n_tokens,
         |  SUM(COALESCE(octet_length(encode(text)), 0))::BIGINT AS n_bytes,
         |  bit_xor(${toI64Sql(fnvSql("text"))}) AS content_checksum
         |FROM j GROUP BY shard""".stripMargin
    }),

    // Range-shard write planning without a global sort: deterministic
    // hash sample → two-phase exact sample ranks → ⌈i·m/S⌉ boundary
    // keys folded into one bounded array → exact realized-shard audit
    // (counts/min/max/skew) against the broadcast boundaries
    Query("q354_range_shard_plan", (s, d) =>
      graft.operators.TrainingData.rangeShardPlan(
        t(s, d, "orders"), "o_orderkey", shards = 8),
      // Shard-plan replay: same xxh64 sample gate, global row_number
      // ranks (the engine's two-phase ranks compute the same integers),
      // integer ⌈i·m/S⌉ boundaries, identical left-closed bucket rule
      s"""WITH keys AS (SELECT o_orderkey AS k FROM orders),
         |${xxh64Chain("xh", "keys", "k", Seq("k"))},
         |smp AS MATERIALIZED (SELECT k FROM xh
         |  WHERE ((hs % 64) + 64) % 64 = 0),
         |r AS MATERIALIZED (SELECT k,
         |  row_number() OVER (ORDER BY k) AS rk FROM smp),
         |mm AS (SELECT count(*) AS m FROM smp),
         |rks AS (SELECT (i * mm.m + 7) // 8 AS rk
         |  FROM generate_series(1, 7) t(i), mm),
         |b AS (SELECT r.k AS bk FROM r JOIN rks USING (rk)),
         |barr AS (SELECT coalesce(list(bk ORDER BY bk), []) AS bounds
         |  FROM b),
         |a AS (SELECT k, len(list_filter(barr.bounds, x -> x < k))
         |    AS shard_idx FROM keys, barr),
         |g AS (SELECT shard_idx, count(*)::BIGINT AS n_rows,
         |    min(k) AS k_min, max(k) AS k_max FROM a GROUP BY 1)
         |SELECT shard_idx, n_rows, k_min, k_max,
         |  (n_rows * 8)::DOUBLE
         |    / (SELECT count(*) FROM keys)::DOUBLE AS skew
         |FROM g""".stripMargin),

    // Combined decontamination report: every train doc × which
    // detector fired — exact word-3-gram (q92), semantic cosine
    // (q260), both, or clean — the sign-off table a dataset release
    // reviews, not two disjoint flag lists
    Query("q267_decontam_report", (s, d) => {
      val docs = t(s, d, "documents")
      val emb = t(s, d, "embeddings")
      val exact = graft.operators.TrainingData.decontaminate(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0),
        "doc_id", "text", n = 3)
        .select(col("id").as("doc_id"), col("n_hits").as("exact_hits"))
      val sem = graft.operators.TrainingData.decontaminateSemantic(
        emb.filter(col("vec_id") % 97 =!= 0),
        emb.filter(col("vec_id") % 97 === 0),
        threshold = 0.3)
        .select(col("id").as("doc_id"), col("n_hits").as("sem_hits"),
          col("max_cosine"))
      docs.filter(col("doc_id") % 97 =!= 0).select(col("doc_id"))
        .join(exact, Seq("doc_id"), "left")
        .join(sem, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("exact_hits"), lit(0L)).as("exact_hits"),
          coalesce(col("sem_hits"), lit(0L)).as("sem_hits"),
          col("max_cosine"),
          when(col("exact_hits").isNotNull && col("sem_hits").isNotNull,
            "both")
            .when(col("exact_hits").isNotNull, "exact")
            .when(col("sem_hits").isNotNull, "semantic")
            .otherwise("clean").as("status"))
    },
      // Report replay: both shared decontam chains as nested subqueries,
      // left-joined onto the train universe
      s"""WITH ex AS ($decontamOracleSql),
         |se AS ($semanticDecontamOracleSql),
         |u AS (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0)
         |SELECT u.doc_id,
         |  coalesce(ex.n_hits, 0)::BIGINT AS exact_hits,
         |  coalesce(se.n_hits, 0)::BIGINT AS sem_hits,
         |  se.max_cosine,
         |  CASE WHEN ex.n_hits IS NOT NULL AND se.n_hits IS NOT NULL
         |      THEN 'both'
         |    WHEN ex.n_hits IS NOT NULL THEN 'exact'
         |    WHEN se.n_hits IS NOT NULL THEN 'semantic'
         |    ELSE 'clean' END AS status
         |FROM u LEFT JOIN ex ON ex.id = u.doc_id
         |  LEFT JOIN se ON se.id = u.doc_id""".stripMargin),

    // SEMANTIC decontamination: train docs whose embedding lands within
    // cosine 0.3 of any eval vector (vec_id % 97 = 0, the q92 split
    // convention) via cross-set banded hyperplane LSH + exact rerank —
    // catches the paraphrase contamination n-gram checks miss
    Query("q260_decontam_semantic", (s, d) => {
      val emb = t(s, d, "embeddings")
      graft.operators.TrainingData.decontaminateSemantic(
        emb.filter(col("vec_id") % 97 =!= 0),
        emb.filter(col("vec_id") % 97 === 0),
        threshold = 0.3)
    },
      // Semantic-decontam replay: same seeded planes, band keys on both
      // split sides, cross-set candidate join, exact cosine gate + rollup
      semanticDecontamOracleSql),

    // Quantile normalization: per-source n_chars mapped onto the pooled
    // corpus distribution at the same fractional rank — cross-source
    // calibration (q158 uniformizes within a group; this aligns groups
    // to one shared scale). All-BIGINT rank math; outputs are input
    // values
    Query("q191_quantile_normalize", (s, d) =>
      graft.operators.TrainingData.quantileNormalize(
        t(s, d, "documents").select(col("doc_id"), col("source"),
          col("n_chars")),
        "source", "n_chars", outCol = "n_chars_norm"),
      // Quantile-normalization replay: RANGE-frame ≤-count, BIGINT
      // ceil-division target position, distinct-value pooled cumulative
      // lookup
      """WITH b AS (SELECT doc_id, source, n_chars FROM documents
        |  WHERE n_chars IS NOT NULL),
        |p AS (SELECT n_chars AS pv, count(*) AS pc FROM b GROUP BY 1),
        |pc AS (SELECT pv, pc, sum(pc) OVER (ORDER BY pv
        |    ROWS UNBOUNDED PRECEDING) AS cum FROM p),
        |tt AS (SELECT count(*) AS tot FROM b),
        |r AS (SELECT doc_id, source, n_chars,
        |    count(*) OVER (PARTITION BY source ORDER BY n_chars
        |      RANGE UNBOUNDED PRECEDING) AS c,
        |    count(*) OVER (PARTITION BY source) AS gn FROM b)
        |SELECT doc_id, source, n_chars, pv AS n_chars_norm
        |FROM r CROSS JOIN tt JOIN pc
        |  ON c * tot <= cum * gn AND c * tot > (cum - pc.pc) * gn"""
        .stripMargin),

    // Deterministic cross-source negative sampling: fnv-bucket probing,
    // min (h_a XOR h_c, cid) pick per probe round — reproducible
    // contrastive negatives with no RNG and no n² pair space
    Query("q199_negative_sample", (s, d) =>
      graft.operators.TrainingData.negativeSample(t(s, d, "documents"),
        "doc_id", "source", k = 4, buckets = 256),
      // Negative-sampling replay: per-doc fnv (unsigned mod 256 = Spark's
      // signed pmod, 256 | 2^64), probe-bucket equi-join, signed XOR pair
      // key, (pk, cid) argmin
      s"""WITH base AS (SELECT doc_id AS id, source AS lab,
         |    ${fnvSql("doc_id::VARCHAR")} AS hu FROM documents),
         |pr AS (SELECT id, lab, hu, (hu % 256)::BIGINT AS b FROM base),
         |probes AS (SELECT id, lab, hu, b, r FROM pr
         |  CROSS JOIN (SELECT unnest(generate_series(1, 4)) AS r)),
         |j AS (SELECT p.id, p.r, c.id AS cid, c.lab AS clab,
         |    ${toI64Sql("xor(p.hu, c.hu)")} AS pk
         |  FROM probes p JOIN pr c ON ((p.b + p.r) % 256) = c.b
         |  WHERE c.lab <> p.lab),
         |rk AS (SELECT id, r, cid, clab, row_number() OVER (
         |    PARTITION BY id, r ORDER BY pk, cid) AS rn FROM j)
         |SELECT id AS doc_id, r::BIGINT AS probe, cid AS neg_id,
         |  clab AS neg_label
         |FROM rk WHERE rn = 1""".stripMargin),

    // Temperature-scaled (τ=.5) source mixture weights: √ shares —
    // the one correctly-rounded power — ordered denominator fold
    Query("q237_temperature_mixture", (s, d) =>
      graft.operators.TrainingData.temperatureMixture(
        t(s, d, "documents"), "source", "text"),
      // Mixture replay: same √ shares and group-ordered denominator fold
      s"""WITH tk AS (SELECT source AS g,
         |    coalesce(len($tokensSql), 0) AS n FROM documents),
         |c AS (SELECT g, sum(n)::BIGINT AS n_tokens FROM tk GROUP BY g),
         |st AS (SELECT sum(n_tokens)::BIGINT AS tot,
         |    list_reduce(list_prepend(0.0,
         |      list(sqrt(n_tokens::DOUBLE) ORDER BY g)),
         |      (a, b) -> a + b) AS den
         |  FROM c)
         |SELECT c.g AS source, c.n_tokens,
         |  round(c.n_tokens::DOUBLE / st.tot::DOUBLE, 4) AS raw_share,
         |  round(sqrt(c.n_tokens::DOUBLE) / st.den, 4) AS temp_share,
         |  round((sqrt(c.n_tokens::DOUBLE) / st.den)
         |    / (c.n_tokens::DOUBLE / st.tot::DOUBLE), 4) AS boost
         |FROM c CROSS JOIN st""".stripMargin),

    // Cross-source duplicate leakage matrix (60-char head fingerprint)
    Query("q241_source_leakage", (s, d) =>
      graft.operators.TrainingData.crossSourceLeakage(
        t(s, d, "documents"), "source", "text", prefixChars = 60),
      // Leakage replay: same md5 head-fingerprint identity and pair join
      """WITH sh AS (SELECT DISTINCT source AS g,
        |    md5(substring(text, 1, 60)) AS h
        |  FROM documents WHERE text IS NOT NULL),
        |sz AS (SELECT g, count(*)::BIGINT AS nd FROM sh GROUP BY g),
        |iv AS (SELECT a.g AS g1, b.g AS g2, count(*)::BIGINT AS n_shared
        |  FROM sh a JOIN sh b ON a.h = b.h AND a.g < b.g
        |  GROUP BY a.g, b.g)
        |SELECT g1, g2, n_shared,
        |  round(n_shared::DOUBLE / s1.nd::DOUBLE, 4) AS share_of_g1,
        |  round(n_shared::DOUBLE / s2.nd::DOUBLE, 4) AS share_of_g2
        |FROM iv JOIN sz s1 ON s1.g = iv.g1
        |JOIN sz s2 ON s2.g = iv.g2""".stripMargin),

    // One-row corpus datasheet
    Query("q244_datasheet", (s, d) =>
      graft.operators.Curation.datasheet(t(s, d, "documents"),
        "source", "text"),
      // Datasheet replay: exact counts, md5 dup census, distinct-length
      // median
      s"""WITH b AS (SELECT source AS g, text AS t, $tokensSql AS toks
         |  FROM documents),
         |c AS (SELECT count(*)::BIGINT AS n_docs,
         |    count(DISTINCT g)::BIGINT AS n_sources,
         |    sum(CASE WHEN t IS NULL THEN 1 ELSE 0 END)::BIGINT
         |      AS n_null_text,
         |    sum(coalesce(len(toks), 0))::BIGINT AS n_tokens,
         |    count(DISTINCT CASE WHEN t IS NOT NULL THEN md5(t) END)
         |      ::BIGINT AS nd
         |  FROM b),
         |v AS (SELECT count(DISTINCT tok)::BIGINT AS n_vocab FROM
         |  (SELECT unnest(toks) AS tok FROM b)),
         |lg AS (SELECT len(toks)::BIGINT AS len, count(*)::BIGINT AS c
         |  FROM b WHERE t IS NOT NULL GROUP BY len(toks)),
         |nl AS (SELECT sum(c)::BIGINT AS nl FROM lg),
         |cu AS (SELECT len, sum(c) OVER (ORDER BY len)::BIGINT AS cu,
         |    nl.nl FROM lg CROSS JOIN nl),
         |md AS (SELECT min(CASE WHEN cu >= (50 * nl + 99) // 100
         |    THEN len END)::BIGINT AS p50_doc_tokens FROM cu)
         |SELECT c.n_docs, c.n_sources, c.n_null_text, c.n_tokens,
         |  v.n_vocab,
         |  (c.n_docs - c.n_null_text - c.nd)::BIGINT AS n_exact_dups,
         |  round((c.n_docs - c.n_null_text - c.nd)::DOUBLE
         |    / (c.n_docs - c.n_null_text)::DOUBLE, 4) AS dup_rate,
         |  round(c.n_tokens::DOUBLE
         |    / (c.n_docs - c.n_null_text)::DOUBLE, 4) AS mean_doc_tokens,
         |  md.p50_doc_tokens
         |FROM c CROSS JOIN v CROSS JOIN md""".stripMargin),

    // Snapshot diff: v2 synthesized deterministically (drop id%7=0,
    // rewrite id%5=0, add id%13=0 clones under new ids) — the
    // added/removed/changed/unchanged census between two crawls
    Query("q173_snapshot_diff", (s, d) => {
      val v1 = t(s, d, "documents").select(col("doc_id"), col("text"))
      val v2 = v1.filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 5 === 0, upper(col("text")))
            .otherwise(col("text")).as("text"))
        .union(v1.filter(col("doc_id") % 13 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      graft.operators.TrainingData.snapshotDiff(v1, v2, "doc_id", "text")
    },
      // Snapshot-diff replay: identical v2 synthesis, same status ladder
      """WITH v1 AS (SELECT doc_id, text FROM documents),
        |v2 AS (SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN upper(text) ELSE text END AS text
        |  FROM v1 WHERE doc_id % 7 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text FROM v1
        |  WHERE doc_id % 13 = 0),
        |j AS (SELECT coalesce(a.doc_id, b.doc_id) AS id,
        |    a.doc_id AS oid, b.doc_id AS nid, a.text AS o, b.text AS nw
        |  FROM v1 a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id)
        |SELECT CASE WHEN oid IS NULL THEN 'added'
        |    WHEN nid IS NULL THEN 'removed'
        |    WHEN o IS NOT DISTINCT FROM nw THEN 'unchanged'
        |    ELSE 'changed' END AS status,
        |  count(*) AS n
        |FROM j GROUP BY 1""".stripMargin),

    // Rank-based score normalization within event_type groups (quantile
    // scaling for blending heterogeneous scores) — exact quotients
    Query("q158_rank_normalize", (s, d) =>
      graft.operators.TrainingData.rankNormalize(
        Tables.events(s, d)
          .filter(col("value").isNotNull)
          .select(col("event_id"), col("event_type"), col("value")),
        "event_type", "value"),
      // Rank-normalize replay: RANK-ties semantics, exact quotients
      """SELECT event_id, event_type, value,
        |  CASE WHEN n > 1 THEN (rk - 1)::DOUBLE / (n - 1) ELSE 0.0 END
        |    AS score_norm
        |FROM (SELECT event_id, event_type, value,
        |    rank() OVER (PARTITION BY event_type ORDER BY value) AS rk,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM events WHERE value IS NOT NULL)""".stripMargin),

    // Data-mixture audit vs a target language mix: exact shares, excess,
    // and 4dp KL contributions per language
    Query("q151_mixture_audit", (s, d) =>
      graft.operators.TrainingData.mixtureAudit(
        t(s, d, "documents"), "lang", "text",
        targets = Map("en" -> 0.4, "de" -> 0.15, "es" -> 0.15,
          "fr" -> 0.15, "zh" -> 0.15)),
      // Mixture audit replay: exact integer-quotient shares, literal
      // targets, 4dp KL terms
      s"""WITH g AS (SELECT lang, count(*) AS docs,
         |    CAST(sum(len($tokensSql)) AS BIGINT) AS tokens
         |  FROM documents GROUP BY lang),
         |t AS (SELECT CAST(sum(docs) AS BIGINT) AS n FROM g),
         |m AS (SELECT lang, docs, tokens,
         |    CASE lang WHEN 'en' THEN 0.4 WHEN 'de' THEN 0.15
         |      WHEN 'es' THEN 0.15 WHEN 'fr' THEN 0.15 WHEN 'zh' THEN 0.15
         |      ELSE 0.0 END AS tgt,
         |    docs::DOUBLE / n AS share FROM g CROSS JOIN t)
         |SELECT lang, docs::BIGINT AS docs, tokens, share,
         |  tgt AS target_share, share - tgt AS excess,
         |  CASE WHEN tgt > 0 THEN round(share * ln(share / tgt), 4) END
         |    AS kl_term
         |FROM m""".stripMargin))
}
