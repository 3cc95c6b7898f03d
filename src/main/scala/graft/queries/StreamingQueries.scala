package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Shared._

/** Structured Streaming ([[graft.streaming.StreamingOps]]): gates that read
  * their table as a file stream through `streamSource` and are judged by
  * the same oracle as their batch form, plus the hopping-window kernel.
  */
object StreamingQueries {

  /** Layout-adaptive streaming source for `<sfDir>/<tbl>.parquet`: the
    * driver's testdata ships single FILES (a file cannot be a stream
    * basePath, so stream the SF root with a filename glob), while
    * GenScale's sf1/sf10 layouts are Spark-written DIRECTORIES of part
    * files (the glob form matches zero leaves there — sf10 streaming
    * lanes silently processed nothing until round 9 caught it).
    */
  private def streamSource(s: SparkSession, d: String, tbl: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val path = new org.apache.hadoop.fs.Path(s"$d/$tbl.parquet")
    val fs = path.getFileSystem(s.sparkContext.hadoopConfiguration)
    val base = s.readStream.schema(schema).option("maxFilesPerTrigger", 1)
    if (fs.getFileStatus(path).isDirectory) base.parquet(s"$d/$tbl.parquet")
    else base.option("pathGlobFilter", s"$tbl.parquet").parquet(d)
  }

  val all: Seq[Query] = Seq(
    // Streaming lineage, oracle-checked: the SAME events parquet driven
    // through a bounded file stream → watermarked tumbling-window
    // aggregation → complete-mode foreachBatch overwrite sink, then the
    // final materialized state read back. Batch-equivalence becomes a
    // hash-exact ORACLE row (the q21 SQL), not just a ScalaTest: the
    // streaming plan must land on identical counts/sums per (hour, type).
    Query("q114_stream_hourly", (s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      val tmp = sys.props("java.io.tmpdir")
      val runTag = s.sparkContext.applicationId
      val outPath = s"$tmp/graft_q114_out_$runTag"
      val ckpt = s"$tmp/graft_q114_ckpt_$runTag"
      // clean slate: a stale checkpoint would replay 0 new files and
      // freeze the output at a previous run's result
      Seq(outPath, ckpt).foreach(p => rmrf(new java.io.File(p)))
      val raw = Tables.table(s, d, "events") // batch load, for the raw schema
      // the file-stream source lists DIRECTORIES; select the single
      // events file out of the sf dir with a glob filter
      val stream = Tables.normalizeEvents(
        streamSource(s, d, "events", raw.schema))
      val agg = graft.streaming.StreamingOps.hourlyEventCounts(stream, "ts")
      val q = graft.streaming.StreamingOps.overwriteCompletePerBatch(agg, outPath)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      graft.streaming.StreamingOps.readCompleteSink(s, outPath)
        .select(date_format(col("hour_start"), "yyyy-MM-dd HH:mm:ss").as("hour_ts"),
          col("event_type"), col("n"), col("sum_value"))
    },
      // batch-equivalence oracle: the streaming plan must equal q21's SQL
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_ts,
        | event_type, count(*) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin),

    // Hopping windows: 1-hour windows sliding every 30 min — each event
    // lands in exactly 2 windows; epoch-aligned on both engines
    Query("q127_hopping_windows", (s, d) =>
      graft.streaming.StreamingOps.hoppingEventCounts(
        Tables.events(s, d), "ts", watermarkDelay = None)
        .select(date_format(col("win_start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
          col("event_type"), col("n"), col("sum_value")),
      // every event contributes to [bucket, bucket - 30min]: with a 1 h
      // window and 30 min slide both candidate starts always qualify
      """SELECT strftime(s, '%Y-%m-%d %H:%M:%S') AS win_start, event_type,
        | count(*) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM (SELECT unnest([
        |    time_bucket(INTERVAL '30 minutes', ts),
        |    time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes']) AS s,
        |  event_type, value FROM events)
        |GROUP BY 1, 2""".stripMargin),

    // Streaming curation: the SAME Curation.statelessGates code driven
    // through a bounded file stream (append mode — the gates are narrow
    // stateless expressions, so no watermark/state is needed), written
    // per-batch and read back; oracle = the batch gate SQL. One function,
    // two execution modes, hash-identical output.
    Query("q120_stream_curation", (s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      val tmp = sys.props("java.io.tmpdir")
      val runTag = s.sparkContext.applicationId
      val outPath = s"$tmp/graft_q120_out_$runTag"
      val ckpt = s"$tmp/graft_q120_ckpt_$runTag"
      Seq(outPath, ckpt).foreach(p => rmrf(new java.io.File(p)))
      val raw = Tables.documents(s, d)
      val stream = streamSource(s, d, "documents", raw.schema)
      val gated = graft.operators.Curation.statelessGates(
        stream, graft.operators.Curation.Config(
          allowedLangs = Some(Set("en", "fr", "de", "es")),
          minQuality = 0.3, minTokens = 5, nearDupJaccard = None))
        .select(col("doc_id"), col("n_tokens"), col("quality_score"))
      val q = graft.streaming.StreamingOps.appendPerBatch(gated, outPath)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      graft.streaming.StreamingOps.readAppendSink(s, outPath)
    },
      // streaming curation = the batch gate SQL (q62's funnel minus the
      // stateful dedup leg): append-mode streaming must reproduce it exactly
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
         | FROM tk)
         |SELECT doc_id, n_tokens, quality_score FROM m
         |WHERE lang IN ('en','fr','de','es') AND n_tokens >= 5 AND quality_score >= 0.3""".stripMargin),

    // STREAMING crawl ingest: the q368 WARC census probe run unchanged
    // inside a file-stream ingest (per-batch append, probe columns
    // only — payload bytes never persist past the scan) — stream ==
    // batch checked by sharing q368's oracle
    Query("q376_stream_warc_census", (s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      val tmp = sys.props("java.io.tmpdir")
      val runTag = s.sparkContext.applicationId
      val outPath = s"$tmp/graft_q376_out_$runTag"
      val ckpt = s"$tmp/graft_q376_ckpt_$runTag"
      Seq(outPath, ckpt).foreach(p => rmrf(new java.io.File(p)))
      val raw = Tables.documents(s, d)
      val stream = streamSource(s, d, "documents", raw.schema)
      val census = graft.operators.Multimodal.warcMeta(
        graft.operators.Multimodal.syntheticWarcFromDocs(stream))
      val q = graft.streaming.StreamingOps.appendPerBatch(census, outPath)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      graft.streaming.StreamingOps.readAppendSink(s, outPath)
    },
      // streaming ingest == batch probe: one code path, same oracle (the
      // q353/q357 shared-oracle convention)
      warcCensusOracleSql),

    // STREAMING link census: q382's extraction run unchanged inside a
    // file-stream ingest (per-batch append) — stream == batch checked
    // by sharing q382's oracle verbatim
    Query("q389_stream_link_census", (s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      val tmp = sys.props("java.io.tmpdir")
      val runTag = s.sparkContext.applicationId
      val outPath = s"$tmp/graft_q389_out_$runTag"
      val ckpt = s"$tmp/graft_q389_ckpt_$runTag"
      Seq(outPath, ckpt).foreach(p => rmrf(new java.io.File(p)))
      val raw = Tables.documents(s, d)
      val stream = streamSource(s, d, "documents", raw.schema)
      val links = graft.operators.UrlOps.extractLinks(
        linkPageFixture(stream), "doc_id", "page_url", "page_html")
      val q = graft.streaming.StreamingOps.appendPerBatch(links, outPath)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      graft.streaming.StreamingOps.readAppendSink(s, outPath)
    },
      // streaming link census == batch extraction: one code path, same
      // oracle (the q368/q376 convention)
      linkExtractOracleSql),

    // STREAMING watermark ingest gate: the q353 screen run unchanged
    // on a readStream of the corpus (one code path, the q340
    // convention) — stream == batch checked by sharing q353's oracle
    Query("q357_stream_watermark", (s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      val tmp = sys.props("java.io.tmpdir")
      val runTag = s.sparkContext.applicationId
      val outPath = s"$tmp/graft_q357_out_$runTag"
      val ckpt = s"$tmp/graft_q357_ckpt_$runTag"
      Seq(outPath, ckpt).foreach(p => rmrf(new java.io.File(p)))
      val raw = Tables.documents(s, d)
      val stream = streamSource(s, d, "documents", raw.schema)
      val screened = graft.operators.QualityRules
        .watermarkScreen(stream, "doc_id", "text")
      val q = graft.streaming.StreamingOps.appendPerBatch(screened, outPath)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      graft.streaming.StreamingOps.readAppendSink(s, outPath)
    },
      // Streaming gate == batch screen: one code path, same oracle (the
      // q340/q309 served-equality convention)
      watermarkOracleSql),

    // Streaming incremental rollup: per-batch aggState partitions,
    // folded to the final per-source rollup — the q338 merge==recompute
    // contract as a MATERIALIZED VIEW under Structured Streaming; the
    // oracle recomputes from the full corpus, so equality is the proof
    Query("q345_stream_rollup", (s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      val tmp = sys.props("java.io.tmpdir")
      val runTag = s.sparkContext.applicationId
      val statePath = s"$tmp/graft_q345_state_$runTag"
      val ckpt = s"$tmp/graft_q345_ckpt_$runTag"
      Seq(statePath, ckpt).foreach(p => rmrf(new java.io.File(p)))
      val raw = Tables.documents(s, d)
      val stream = streamSource(s, d, "documents", raw.schema)
      val q = graft.streaming.StreamingOps
        .streamIncrementalRollup(stream, "source", "n_chars", statePath)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      graft.streaming.StreamingOps.readRollup(s, statePath, "source")
    },
      // Streaming rollup replay: the q338 full-corpus recompute — the
      // per-batch state fold must land on exactly this frame
      """WITH v AS (SELECT source AS k,
        |    round(n_chars::DOUBLE, 6)::DECIMAL(18,6) AS v
        |  FROM documents WHERE source IS NOT NULL AND n_chars IS NOT NULL)
        |SELECT k AS source, count(*)::BIGINT AS n,
        |  CAST(CAST(SUM(v) AS DECIMAL(38,6)) AS DOUBLE) AS sum_val,
        |  min(v)::DOUBLE AS min_val, max(v)::DOUBLE AS max_val
        |FROM v GROUP BY 1""".stripMargin),

    // Streaming trojan-source gate: the q334 audit is a pure per-row
    // program, so it runs UNCHANGED on a readStream frame (the q154
    // one-code-path contract) — the ingest-time security screen,
    // driver-checked against the batch oracle (stream == batch)
    Query("q340_stream_trojan", (s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      val tmp = sys.props("java.io.tmpdir")
      val runTag = s.sparkContext.applicationId
      val outPath = s"$tmp/graft_q340_out_$runTag"
      val ckpt = s"$tmp/graft_q340_ckpt_$runTag"
      Seq(outPath, ckpt).foreach(p => rmrf(new java.io.File(p)))
      val raw = Tables.documents(s, d)
      val stream = streamSource(s, d, "documents", raw.schema)
      val audited = graft.operators.QualityRules
        .trojanSourceAudit(trojanInjected(stream), "doc_id", "text")
        .filter(!col("clean"))
        .select(col("doc_id"), col("n_bidi"), col("n_zero_width"),
          col("n_control"), col("mixed_script"))
      val q = graft.streaming.StreamingOps.appendPerBatch(audited, outPath)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      graft.streaming.StreamingOps.readAppendSink(s, outPath)
    },
      // Streaming gate replay: stream == batch on the flagged subset
      (trojanOracleCtes + """
        |SELECT doc_id, n_bidi, n_zero_width, n_control, mixed_script
        |FROM a
        |WHERE NOT (n_bidi = 0 AND n_zero_width = 0 AND n_control = 0
        |  AND NOT mixed_script)""".stripMargin)),

    // Streaming dedup gate against a GROWING persisted index: the
    // crawl-shaped companion of q281 — seed index from 2/3 of the
    // corpus, stream the arriving third through one foreachBatch pass
    // that flags every doc against the seed snapshot AND appends the
    // batch's new hashes for the next run. Snapshot flagging makes the
    // output batch-layout-invariant (stream == batch unconditionally);
    // the spec pins grown-index == one-shot.
    Query("q299_stream_index_dedup", (s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      val tmp = sys.props("java.io.tmpdir")
      val runTag = s.sparkContext.applicationId
      val idxPath = s"$tmp/graft_q299_idx_$runTag"
      val outPath = s"$tmp/graft_q299_out_$runTag"
      val ckpt = s"$tmp/graft_q299_ckpt_$runTag"
      Seq(idxPath, outPath, ckpt).foreach(p => rmrf(new java.io.File(p)))
      val docs = t(s, d, "documents")
      // 16 buckets at gate SF: 256 near-empty partition dirs cost more
      // in listing than they save (bucket count is the scale knob)
      graft.operators.Dedup.writeContentIndex(
        docs.filter(col("doc_id") % 3 =!= 0), "text", idxPath, buckets = 16)
      val stream = streamSource(s, d, "documents", docs.schema)
        .filter(col("doc_id") % 3 === 0)
      val q = graft.streaming.StreamingOps.streamIndexDedupGate(
        stream, "doc_id", "text", idxPath, outPath, buckets = 16)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      new java.io.File(outPath).mkdirs(): Unit
      s.read.schema("id BIGINT, content_hash BIGINT, is_dup BOOLEAN, batch_id BIGINT")
        .parquet(outPath)
        .drop("batch_id") // retry-idempotency bookkeeping, not payload
        .withColumnRenamed("id", "doc_id")
    },
      // Streaming index-gate replay: identical to q281's semantics (the
      // snapshot contract makes the stream form replay the batch form)
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

    // Streaming NEAR-dup gate: per-row SimHash signatures (codegen, so
    // append-mode stays stateless) screened against the static blocked
    // set's signatures at hamming ≤ 3 — the online companion of q30's
    // batch SimHash dedup, same stream==batch contract as q263
    Query("q277_stream_neardup_gate", (s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      val tmp = sys.props("java.io.tmpdir")
      val runTag = s.sparkContext.applicationId
      val outPath = s"$tmp/graft_q277_out_$runTag"
      val ckpt = s"$tmp/graft_q277_ckpt_$runTag"
      Seq(outPath, ckpt).foreach(p => rmrf(new java.io.File(p)))
      val raw = Tables.documents(s, d)
      val blocked = raw.filter(col("doc_id") % 97 === 0 &&
        col("text").isNotNull)
      val stream = streamSource(s, d, "documents", raw.schema)
        .filter(col("text").isNotNull)
      val kept = graft.streaming.StreamingOps.streamNearDupGate(
        stream, blocked, col("text"), col("text"), maxHamming = 3)
        .select(col("doc_id"), col("lang"))
      val q = graft.streaming.StreamingOps.appendPerBatch(kept, outPath)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      new java.io.File(outPath).mkdirs(): Unit
      s.read.schema("doc_id BIGINT, lang STRING").parquet(outPath).drop("batch_id")
    },
      // Near-dup gate replay: q30's SimHash signature chain; a doc is
      // kept iff NO blocked-set signature (doc_id % 97 = 0) sits within
      // hamming 3 — for maxHamming ≤ 3 the exhaustive NOT EXISTS equals
      // the engine's gate semantics exactly
      s"""WITH $simhashCtes,
         |sig AS (SELECT doc_id, ${toI64Sql("sh")} AS sh FROM simsig),
         |doc AS (SELECT d.doc_id, d.lang, s.sh
         |  FROM documents d JOIN sig s USING (doc_id)
         |  WHERE d.text IS NOT NULL),
         |bl AS (SELECT DISTINCT sh FROM doc WHERE doc_id % 97 = 0)
         |SELECT doc_id, lang FROM doc
         |WHERE NOT EXISTS (SELECT 1 FROM bl
         |  WHERE bit_count(xor(doc.sh, bl.sh)) <= 3)""".stripMargin),

    // STREAMING decontamination gate: documents stream through a
    // broadcast anti join against the static md5 blocklist (the eval
    // split's content hashes) — the online exact-decontam pass; stream
    // result must equal the batch NOT-IN exactly
    Query("q263_stream_decontam_gate", (s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      val tmp = sys.props("java.io.tmpdir")
      // per-application paths: concurrent suite runs (gate + dev loop)
      // must not clobber each other's sink/checkpoint (round-6 advisory)
      val runTag = s.sparkContext.applicationId
      val outPath = s"$tmp/graft_q263_out_$runTag"
      val ckpt = s"$tmp/graft_q263_ckpt_$runTag"
      Seq(outPath, ckpt).foreach(p => rmrf(new java.io.File(p)))
      val raw = Tables.documents(s, d)
      val blocked = raw.filter(col("doc_id") % 97 === 0 &&
        col("text").isNotNull)
      val stream = streamSource(s, d, "documents", raw.schema)
        .filter(col("text").isNotNull)
      val kept = graft.streaming.StreamingOps.streamStaticGate(
        stream, blocked, md5(col("text")), md5(col("text")))
        .select(col("doc_id"), col("lang"))
      val q = graft.streaming.StreamingOps.appendPerBatch(kept, outPath)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // a gate that filters EVERY row leaves no parquet files behind —
      // ensure the sink dir exists and read with an explicit schema so
      // the empty-sink case yields an empty frame instead of a missing-
      // path / schema-inference failure
      new java.io.File(outPath).mkdirs(): Unit
      s.read.schema("doc_id BIGINT, lang STRING").parquet(outPath).drop("batch_id")
    },
      // Streaming gate replay: the batch NOT-IN over md5 content hashes
      // (exact-copy drop, eval split as the blocklist); both sides
      // filter null text so anti-join-passes-null vs NOT-IN-drops-null
      // can't diverge
      """SELECT doc_id, lang FROM documents
        |WHERE text IS NOT NULL AND md5(text) NOT IN
        |  (SELECT md5(text) FROM documents
        |   WHERE doc_id % 97 = 0 AND text IS NOT NULL)""".stripMargin),

    // Streaming EWMA: one double of flatMapGroupsWithState state per
    // key carries the recursion across batches; driver-checked against
    // the batch recursion (one file = one batch → unconditional)
    Query("q166_stream_ewma", (s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      val tmp = sys.props("java.io.tmpdir")
      val runTag = s.sparkContext.applicationId
      val outPath = s"$tmp/graft_q166_out_$runTag"
      val ckpt = s"$tmp/graft_q166_ckpt_$runTag"
      Seq(outPath, ckpt).foreach(p => rmrf(new java.io.File(p)))
      // schema must be the RAW file schema (whatever timestamp encoding
      // the file carries); Tables.normalizeEvents applies the same
      // schema-adaptive ts/ts_ns contract to the stream. Tables.table
      // (not a bare read): it tunes the session first.
      val fileSchema = Tables.table(s, d, "events").schema
      val stream = Tables.normalizeEvents(
        streamSource(s, d, "events", fileSchema))
      val smoothed = graft.operators.EventAnalytics.ewmaStream(
        stream, "user_id", "ts", "event_id", "value").toDF()
      val q = graft.streaming.StreamingOps.appendPerBatch(smoothed, outPath)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      graft.streaming.StreamingOps.readAppendSink(s, outPath)
    },
      // the streaming path must equal the batch recursion (one file = one
      // batch, so the equality is unconditional)
      ewmaOracleSql),

    // Streaming Gopher quality gate: gopherQuality is a pure per-row
    // program, so it runs UNCHANGED on a readStream frame (the q120
    // one-code-path contract); driver-checked against the batch SQL
    Query("q154_stream_quality", (s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      val tmp = sys.props("java.io.tmpdir")
      val runTag = s.sparkContext.applicationId
      val outPath = s"$tmp/graft_q154_out_$runTag"
      val ckpt = s"$tmp/graft_q154_ckpt_$runTag"
      Seq(outPath, ckpt).foreach(p => rmrf(new java.io.File(p)))
      val raw = Tables.documents(s, d)
      val stream = streamSource(s, d, "documents", raw.schema)
      val gated = graft.operators.QualityRules
        .gopherQuality(stream, "doc_id", "text")
        .filter(col("keep"))
        .select(col("doc_id"), col("n_words"), col("stopword_hits"))
      val q = graft.streaming.StreamingOps.appendPerBatch(gated, outPath)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      graft.streaming.StreamingOps.readAppendSink(s, outPath)
    },
      // Streaming quality gate replay: the same batch SQL restricted to
      // the keep=true rows the stream emits
      s"""SELECT doc_id, n_words, stopword_hits
         |FROM ($gopherQualityOracleSql) WHERE keep""".stripMargin))
}
