package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

import graft.operators.Stage

/** Structured-Streaming re-expressions of the engine's batch operators —
  * the reference pipeline is batch full-reload (etl_meteo.py:195-198), but
  * its hourly-observation model is naturally streaming-shaped (SURVEY §2.F
  * roadmap).
  *
  * Scale notes: watermarks bound all state; the windowed aggregation keeps
  * one row of state per (window, key). Everything below runs identically
  * on a real cluster — file sources shard by file, state shuffles by key.
  */
object StreamingOps {

  /** Tumbling-window event aggregation with a watermark (the streaming
    * analog of q21_events_hourly): counts + sums per (window, event_type),
    * late rows beyond `watermarkDelay` dropped, state GC'd.
    */
  def hourlyEventCounts(events: DataFrame, tsCol: String,
      watermarkDelay: String = "2 hours"): DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** HOPPING-window variant (window longer than the slide ⇒ each event
    * lands in windowLen/slide overlapping windows — the moving-average /
    * trailing-rate shape). Same state bounds as the tumbling form: one
    * row per (window, key) inside the watermark horizon. Works on batch
    * frames too (q127 oracle-checks the batch plan; `window()` is
    * epoch-aligned on both engines).
    */
  def hoppingEventCounts(events: DataFrame, tsCol: String,
      windowLen: String = "1 hour", slide: String = "30 minutes",
      watermarkDelay: Option[String] = Some("2 hours")): DataFrame = {
    val base = watermarkDelay.fold(events)(events.withWatermark(tsCol, _))
    base
      .groupBy(window(col(tsCol), windowLen, slide), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("sum_value"))
  }

  /** Append sink for row streams, replay-IDEMPOTENTLY: each
    * micro-batch lands in its own `batch_id=<id>` partition via
    * dynamic partition overwrite, so foreachBatch's at-least-once
    * contract (a batch retried after failure, or replayed on restart
    * because the driver died before the streaming commit log recorded
    * it) REPLACES the batch's own partition instead of appending a
    * second full copy of its rows — the same pattern the stateful
    * gates below use (round-8 advisory). Read the sink back with
    * [[readAppendSink]], which drops the bookkeeping column.
    */
  def appendPerBatch(stream: DataFrame, path: String): DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id").parquet(path)
      }

  /** Reader for an [[appendPerBatch]] sink: all batches' rows, minus
    * the `batch_id` bookkeeping partition column.
    */
  def readAppendSink(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path).drop("batch_id")

  /** Truncate-and-load sink — the reference's W1 overwrite semantics
    * (delete_many + insert_many, etl_meteo.py:195-198). ONLY correct when
    * each batch carries the COMPLETE result (a complete-output-mode
    * aggregation stream); for append-mode row streams use
    * [[appendPerBatch]] — overwriting per batch would drop earlier rows.
    * Each batch publishes through the batch layer's
    * [[graft.etl.ManifestCommit]] (stage → verify → manifest-pointer
    * flip), NOT a bare SaveMode.Overwrite: the bare form deletes the
    * sink before writing, so a crash mid-batch would leave readers an
    * empty/partial directory, while the manifest keeps the previous
    * batch's result readable up to the commit instant. Read back with
    * [[readCompleteSink]].
    */
  def overwriteCompletePerBatch(stream: DataFrame, path: String): DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .outputMode("complete")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.etl.ManifestCommit.commit(batch, path): Unit
      }

  /** Reader for an [[overwriteCompletePerBatch]] sink: resolves the
    * manifest pointer to the current published version.
    */
  def readCompleteSink(spark: SparkSession, path: String): DataFrame =
    graft.etl.ManifestCommit.current(spark, path) match {
      case Some(st) => spark.read.parquet(s"$path/${st.dataDir}")
      case None     => spark.read.parquet(path)
    }

  /** Stream-static decontamination gate: drop every stream row whose
    * `keyExpr` (typically a content hash) appears in the STATIC
    * `blocked` frame — the online form of the batch blocklist /
    * exact-decontamination pass, applied as documents arrive rather
    * than in a nightly sweep.
    *
    * Stream-static joins need no watermark (the static side is re-read
    * per micro-batch and carries no state); the blocklist is broadcast,
    * so each micro-batch is a stateless map-side anti join — the
    * streaming plan stays append-mode and unbounded-state-free. Null
    * keys never match an anti join and therefore PASS the gate — gate
    * them upstream if null content should not flow.
    */
  def streamStaticGate(stream: DataFrame, blocked: DataFrame,
      keyExpr: Column, blockedKey: Column): DataFrame =
    stream.withColumn("__k", keyExpr)
      .join(broadcast(blocked.select(blockedKey.as("__k")).distinct()),
        Seq("__k"), "left_anti")
      .drop("__k")

  /** Stream-static NEAR-duplicate gate — the online companion of the
    * batch SimHash dedup pass: drop every stream document whose 64-bit
    * SimHash signature sits within `maxHamming` bits of ANY document of
    * the static `blocked` frame (q30 semantics, applied as documents
    * arrive rather than in a nightly sweep).
    *
    * The per-row signature is a codegen expression staged as an
    * attribute (computed once per row — no shuffle, no state), so the
    * gate composes into any append-mode stream. The blocked side
    * reduces to its DISTINCT signatures, collected once and inlined as
    * a literal array that the filter scans with early exit — the same
    * blocked-side-is-a-benchmark-suite smallness contract as
    * [[streamStaticGate]] and the batch decontamination pass (bounded
    * driver collect, 8 B per blocked signature). For `maxHamming` ≤ 3
    * the exhaustive scan equals exact min-hamming thresholding — the
    * banded pigeonhole bound isn't even needed; for blocklists beyond
    * ~1e5 signatures run the batch banded join per micro-batch
    * (foreachBatch) instead.
    *
    * Null-signature rows (null text) PASS the gate unjudged — the
    * [[streamStaticGate]] null convention; gate them upstream if null
    * content should not flow.
    */
  def streamNearDupGate(stream: DataFrame, blocked: DataFrame,
      streamText: Column, blockedText: Column,
      maxHamming: Int = 3): DataFrame = {
    import graft.functions.HashFunctions.simhash64
    import graft.functions.TextFunctions.tokens
    require(maxHamming >= 0 && maxHamming <= 3,
      s"maxHamming in [0,3], got $maxHamming")
    val sigs: Array[Long] = blocked
      .filter(blockedText.isNotNull)
      .select(simhash64(tokens(blockedText)).as("sig"))
      .distinct().collect().map(_.getLong(0))
    stream
      .withColumn("__sig", simhash64(tokens(streamText)))
      .filter(col("__sig").isNull ||
        !coalesce(exists(lit(sigs),
          c => bit_count(col("__sig").bitwiseXOR(c)) <= maxHamming),
          lit(false)))
      .drop("__sig")
  }

  /** Streaming dedup gate against a PERSISTED content-hash index — the
    * production crawl shape: one pass both CURATES (flags every arriving
    * doc as dup/fresh) and MAINTAINS the index (appends each batch's new
    * hashes for the next run).
    *
    * Flags replay against a SNAPSHOT of the index taken at stream start,
    * so the output is invariant to batch layout (1 file/trigger or 100
    * — stream == batch holds unconditionally, the q263 contract);
    * within-run self-dups are the next run's catch, the standard
    * append-only index-gate semantics. The snapshot is hash-only (8
    * B/doc), checkpointed once before `start` starts the stream and
    * released when the stream terminates ([[graft.operators.Stage.forStream]]);
    * each foreachBatch writes its flags BEFORE growing the index (the
    * write materializes the flag join, so the append can never race it).
    *
    * Effectively-once output under micro-batch RETRIES (round-8
    * advisory): flags land in a `batch_id=<id>` partition via dynamic
    * partition overwrite, so a replayed batch REWRITES its own
    * partition instead of appending a duplicate copy (flags replay
    * against the start-of-stream snapshot, so the rewrite is
    * bit-identical); the index leg is already idempotent —
    * [[graft.operators.Dedup.appendToContentIndex]] anti-joins new
    * hashes against the stored set, so a replayed append adds nothing.
    * Readers drop the `batch_id` bookkeeping column.
    */
  def streamIndexDedupGate(stream: DataFrame, idCol: String, textCol: String,
      indexPath: String, outPath: String,
      buckets: Int = 256)(
      start: DataStreamWriter[org.apache.spark.sql.Row] => StreamingQuery): StreamingQuery = {
    val spark = stream.sparkSession
    Stage.forStream(spark.read.parquet(indexPath).select(col("h")).distinct()) { seed =>
      start(stream.writeStream.foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          graft.operators.Dedup
            .dedupAgainstHashes(batch.toDF(), idCol, textCol, seed)
            .withColumn("batch_id", lit(batchId))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id").parquet(outPath)
          graft.operators.Dedup
            .appendToContentIndex(batch.toDF(), textCol, indexPath, buckets)
          ()
      })
    }
  }

  /** Streaming incremental rollup — the q338 merge==recompute contract
    * under Structured Streaming: every micro-batch writes ITS OWN
    * [[graft.operators.Profile.aggState]] frame under a batch_id
    * partition (dynamic overwrite → a retried batch replaces itself,
    * effectively-once — the round-8 idempotency advisory), and
    * [[readRollup]] folds the partitions into the same exact display
    * shape a full-corpus recompute produces. The materialized-view
    * recipe: per-batch work is O(batch), state is per-key, and the
    * exactness argument is the DECIMAL merge algebra, not replay luck.
    */
  def streamIncrementalRollup(stream: DataFrame, keyCol: String,
      valueCol: String,
      statePath: String): DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
       batchId: Long) =>
        graft.operators.Profile.aggState(batch.toDF(), keyCol, valueCol)
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id").parquet(statePath)
        ()
    }

  /** Fold the per-batch [[streamIncrementalRollup]] states into the
    * final rollup (exact: DECIMAL sums add, min/max fold).
    */
  def readRollup(spark: SparkSession, statePath: String,
      keyCol: String): DataFrame =
    spark.read.parquet(statePath)
      .groupBy(col("__k"))
      .agg(sum(col("n")).as("n"),
        sum(col("__sum")).cast("decimal(38,6)").as("__s"),
        min(col("__min")).as("__m"), max(col("__max")).as("__x"))
      .select(col("__k").as(keyCol), col("n"),
        col("__s").cast("double").as("sum_val"),
        col("__m").cast("double").as("min_val"),
        col("__x").cast("double").as("max_val"))

  /** Start a memory-sink query over whatever is currently in the source
    * (local smoke harness: callers drive it with `processAllAvailable`).
    */
  def runToMemory(df: DataFrame, name: String, outputMode: String = "append"): StreamingQuery =
    df.writeStream
      .outputMode(outputMode)
      .format("memory")
      .queryName(name)
      .trigger(Trigger.ProcessingTime(0))
      .start()
}
