package graft.streaming

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

import graft.TestSpark

class StreamingOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def eventsStreamDir(): Path = {
    val dir = Files.createTempDirectory("graft-stream-events")
    Files.copy(java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      dir.resolve("events-0.parquet"), StandardCopyOption.REPLACE_EXISTING)
    dir
  }

  // schema-adaptive (the driver's events.parquet has shipped both
  // TIMESTAMP(NANOS)-as-long and TIMESTAMP(MICROS)): read with the RAW
  // file schema, then normalize to the ts/ts_ns contract exactly like
  // Tables.events does for batch reads
  private def rawEventsSchema: StructType =
    graft.Tables.table(spark, "/root/testdata/sf0.001", "events").schema
  private def eventsStream(dir: Path) =
    graft.Tables.normalizeEvents(
      spark.readStream.schema(rawEventsSchema).parquet(dir.toString))

  test("windowed agg with watermark matches the batch equivalent") {
    val dir = eventsStreamDir()
    val stream = eventsStream(dir)
    val q = StreamingOps.runToMemory(
      StreamingOps.hourlyEventCounts(stream, "ts"), "hourly_ev", outputMode = "complete")
    try {
      q.processAllAvailable()
      val streamed = spark.sql("SELECT * FROM hourly_ev")
        .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
      val batch = graft.Tables.events(spark, "/root/testdata/sf0.001")
        .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("s"))
        .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
      assert(streamed == batch)
    } finally q.stop()
  }

  test("hopping-window agg: each event lands in exactly windowLen/slide windows") {
    val dir = eventsStreamDir()
    val stream = eventsStream(dir)
    val q = StreamingOps.runToMemory(
      StreamingOps.hoppingEventCounts(stream, "ts"), "hopping_ev", outputMode = "complete")
    try {
      q.processAllAvailable()
      val streamed = spark.sql("SELECT * FROM hopping_ev")
      val totalEvents = graft.Tables.events(spark, "/root/testdata/sf0.001").count()
      // 1 h window / 30 min slide ⇒ every event counted twice overall
      assert(streamed.agg(sum(col("n"))).head().getLong(0) == 2 * totalEvents)
      // and the streaming result equals the batch plan of the same function
      val batch = StreamingOps.hoppingEventCounts(
        graft.Tables.events(spark, "/root/testdata/sf0.001"), "ts",
        watermarkDelay = None)
        .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
      val got = streamed
        .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
      assert(got == batch)
    } finally q.stop()
  }

  test("append sink accumulates rows ACROSS micro-batches (no overwrite loss)") {
    val srcDir = Files.createTempDirectory("graft-stream-sink-src")
    val outDir = Files.createTempDirectory("graft-stream-sink-out").resolve("sink")
    val schema = StructType(Seq(StructField("id", LongType), StructField("v", StringType)))
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1)
      .write.mode("overwrite").parquet(srcDir.resolve("f1").toString)
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir.toString + "/*")
    val q = StreamingOps.appendPerBatch(stream, outDir.toString).start()
    try {
      q.processAllAvailable()
      // second batch arrives later — its rows must ADD, not replace
      Seq((3L, "c")).toDF("id", "v").coalesce(1)
        .write.mode("overwrite").parquet(srcDir.resolve("f2").toString)
      q.processAllAvailable()
      val ids = StreamingOps.readAppendSink(spark, outDir.toString).collect().map(_.getLong(0)).toSet
      assert(ids == Set(1L, 2L, 3L), s"batch rows lost: $ids")
    } finally q.stop()
  }

  test("stream-static join: streaming events enriched with a static dimension") {
    val dir = eventsStreamDir()
    val stream = eventsStream(dir)
    val dim = Seq(("click", "interaction"), ("view", "interaction"),
      ("purchase", "commerce"), ("signup", "account"), ("error", "ops"))
      .toDF("event_type", "category")
    val joined = stream.join(dim, Seq("event_type"), "left")
      .groupBy("category").count()
    val q = StreamingOps.runToMemory(joined, "stream_static", outputMode = "complete")
    try {
      q.processAllAvailable()
      val got = spark.sql("SELECT * FROM stream_static")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val batch = graft.Tables.events(spark, "/root/testdata/sf0.001")
        .join(dim, Seq("event_type"), "left").groupBy("category").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == batch && got.values.sum == 1000)
    } finally q.stop()
  }

  test("streamStaticGate: broadcast anti join drops blocklisted keys per micro-batch") {
    val dir = eventsStreamDir()
    val stream = eventsStream(dir)
    val blocked = Seq("error", "signup").toDF("t")
    val gated = StreamingOps.streamStaticGate(stream, blocked,
      col("event_type"), col("t"))
      .groupBy("event_type").count()
    val q = StreamingOps.runToMemory(gated, "gate_sink", outputMode = "complete")
    try {
      q.processAllAvailable()
      val got = spark.sql("SELECT * FROM gate_sink")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(!got.contains("error") && !got.contains("signup"))
      val batch = graft.Tables.events(spark, "/root/testdata/sf0.001")
        .filter(!col("event_type").isin("error", "signup"))
        .groupBy("event_type").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == batch)
    } finally q.stop()
  }

  test("streamNearDupGate: SimHash screen drops near-dups of the blocked set") {
    // SimHash is a bag-of-tokens signature, so a token PERMUTATION of a
    // blocked doc has hamming 0 — the gate must drop it; an unrelated
    // doc passes; a null-text doc passes unjudged (the null convention)
    val blockedText = "the quick brown fox jumps over the lazy dog entirely"
    val docs = Seq(
      (1L, blockedText),                                             // exact
      (2L, "entirely lazy the dog over jumps fox brown quick the"),  // permuted
      (3L, "spark engines optimize distributed queries with catalyst today"),
      (4L, null.asInstanceOf[String]))
    val dir = Files.createTempDirectory("graft-stream-docs")
    docs.toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(dir.resolve("in").toString)
    val blocked = Seq((100L, blockedText)).toDF("doc_id", "text")
    val stream = spark.readStream
      .schema("doc_id BIGINT, text STRING")
      .parquet(dir.resolve("in").toString)
    val gated = StreamingOps.streamNearDupGate(
      stream, blocked, col("text"), col("text"), maxHamming = 3)
      .select(col("doc_id"))
    val q = StreamingOps.runToMemory(gated, "neardup_gate")
    try {
      q.processAllAvailable()
      val got = spark.sql("SELECT doc_id FROM neardup_gate")
        .collect().map(_.getLong(0)).toSet
      assert(got == Set(3L, 4L), s"kept: $got")
    } finally q.stop()
  }

  test("streaming session_window aggregation with watermark matches batch sessions") {
    val dir = eventsStreamDir()
    val stream = eventsStream(dir)
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n"))
    val q = StreamingOps.runToMemory(stream, "sess_win", outputMode = "complete")
    try {
      q.processAllAvailable()
      val streamed = spark.sql("SELECT user_id, n FROM sess_win")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(identity).view.mapValues(_.size).toMap
      val batch = graft.Tables.events(spark, "/root/testdata/sf0.001")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getLong(0), r.getAs[Long]("n")))
        .groupBy(identity).view.mapValues(_.size).toMap
      assert(streamed == batch)
    } finally q.stop()
  }

  test("complete-mode overwrite sink holds the full aggregate after each batch") {
    val srcDir = Files.createTempDirectory("graft-stream-agg-src")
    val outDir = Files.createTempDirectory("graft-stream-agg-out").resolve("sink")
    val schema = StructType(Seq(StructField("k", StringType), StructField("n", LongType)))
    Seq(("x", 1L), ("y", 1L)).toDF("k", "n").coalesce(1)
      .write.mode("overwrite").parquet(srcDir.resolve("f1").toString)
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir.toString + "/*")
      .groupBy("k").count()
    val q = StreamingOps.overwriteCompletePerBatch(stream, outDir.toString).start()
    try {
      q.processAllAvailable()
      Seq(("x", 1L)).toDF("k", "n").coalesce(1)
        .write.mode("overwrite").parquet(srcDir.resolve("f2").toString)
      q.processAllAvailable()
      val counts = StreamingOps.readCompleteSink(spark, outDir.toString)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(counts == Map("x" -> 2L, "y" -> 1L), s"got $counts")
    } finally q.stop()
  }

  test("stateless TrainingData ops run unchanged on a stream (split + redact + sample)") {
    // deterministicSplit / redactPii / stratifiedSample are narrow,
    // stateless Column programs — the SAME operator code runs in a
    // streaming plan with no watermark or state store, and produces
    // bit-identical rows to batch. (packSequences needs a total order per
    // shard, so it is a batch/sink-side step by design.)
    val dir = Files.createTempDirectory("graft-stream-docs")
    Files.copy(java.nio.file.Paths.get("/root/testdata/sf0.001/documents.parquet"),
      dir.resolve("docs-0.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val docsSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val stream = spark.readStream.schema(docsSchema).parquet(dir.toString)
    val piped = graft.operators.TrainingData.stratifiedSample(
      graft.operators.TrainingData.redactPii(
        graft.operators.TrainingData.deterministicSplit(stream, "doc_id"),
        "text"),
      "doc_id", "lang", rates = Map("en" -> 0.5), defaultRate = 1.0)
      .select("doc_id", "split", "n_email", "redacted")
    val q = StreamingOps.runToMemory(piped, "td_stream")
    try {
      q.processAllAvailable()
      val streamed = spark.sql("SELECT * FROM td_stream")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getString(3))).toSet
      val batchDocs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      val batch = graft.operators.TrainingData.stratifiedSample(
        graft.operators.TrainingData.redactPii(
          graft.operators.TrainingData.deterministicSplit(batchDocs, "doc_id"),
          "text"),
        "doc_id", "lang", rates = Map("en" -> 0.5), defaultRate = 1.0)
        .select("doc_id", "split", "n_email", "redacted")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getString(3))).toSet
      assert(streamed == batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("ewmaStream: state carries the recursion across batches") {
    import org.apache.spark.sql.streaming.Trigger
    // two time-split files → two batches in event-time order; the
    // cross-batch result must equal the batch fold over the union
    val src = graft.Tables.events(spark, "/root/testdata/sf0.001")
    val cut = src.agg(expr("percentile_approx(ts_ns, 0.5)")).head().getLong(0)
    val dir = Files.createTempDirectory("graft-ewma-stream")
    def writeHalf(cond: org.apache.spark.sql.Column, name: String): Unit = {
      // stage + move the single part file: the file stream source lists
      // FLAT files, not nested non-partition directories
      val stage = Files.createTempDirectory(s"graft-ewma-$name")
      src.filter(cond).select("event_id", "ts_ns", "user_id",
        "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = Files.list(stage).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).next()
      Files.move(part, dir.resolve(s"$name.parquet"),
        StandardCopyOption.REPLACE_EXISTING): Unit
    }
    writeHalf(col("ts_ns") <= cut, "a")
    Thread.sleep(1100)  // distinct modtimes → deterministic batch order
    writeHalf(col("ts_ns") > cut, "b")
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts_ns", LongType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir.toString)
      .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
    val out = graft.operators.EventAnalytics.ewmaStream(
      stream, "user_id", "ts", "event_id", "value").toDF()
    val sink = Files.createTempDirectory("graft-ewma-sink").toString + "/out"
    val ckpt = Files.createTempDirectory("graft-ewma-ckpt").toString
    val q = StreamingOps.appendPerBatch(out, sink)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = StreamingOps.readAppendSink(spark, sink)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val batch = graft.operators.EventAnalytics.ewma(src,
      "user_id", "ts", "event_id", "value")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(streamed == batch)   // exact double equality across batches
  }

  test("streamIndexDedupGate: flags match batch; grown index == one-shot; multi-batch invariant") {
    import org.apache.spark.sql.streaming.Trigger
    import graft.operators.Dedup
    val base = Files.createTempDirectory("graft-idx-gate")
    val docs = Seq(
      (1L, "seed text one"), (2L, "seed text two"), (3L, "arriving fresh"),
      (4L, "seed text one"),          // exact dup of the seed
      (5L, "Seed   TEXT two"),        // canonicalized dup of the seed
      (6L, "arriving fresh")          // within-run self-dup → NOT flagged
    ).toDF("doc_id", "text")
    val idx = s"$base/idx"
    Dedup.writeContentIndex(docs.filter($"doc_id" <= 2), "text", idx)
    // arriving docs as TWO files → two micro-batches at 1 file/trigger
    val streamDir = Files.createDirectory(base.resolve("in"))
    docs.filter($"doc_id" === 3L || $"doc_id" === 4L).coalesce(1)
      .write.parquet(s"$streamDir/f0.parquet")
    docs.filter($"doc_id" >= 5L).coalesce(1)
      .write.parquet(s"$streamDir/f1.parquet")
    val stream = spark.readStream
      .schema(StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType))))
      .option("maxFilesPerTrigger", 1).parquet(s"$streamDir/*")
    // start-of-stream index snapshot, kept for the retry-replay below
    val seedSnapshot = spark.read.parquet(idx).select($"h")
      .distinct().localCheckpoint(true)
    val out = s"$base/out"
    val q = StreamingOps.streamIndexDedupGate(stream, "doc_id", "text", idx, out)(
      _.option("checkpointLocation", s"$base/ckpt")
        .trigger(Trigger.AvailableNow()).start())
    q.awaitTermination()
    val flags = spark.read.parquet(out)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    // snapshot contract: dups of the SEED flag, within-run self-dups don't
    assert(flags == Map(3L -> false, 4L -> true, 5L -> true, 6L -> false))
    // grown index == one-shot index over the full corpus (hash sets equal)
    val grown = spark.read.parquet(idx).select("h")
      .collect().map(_.getLong(0)).toSet
    val oneShot = s"$base/oneshot"
    Dedup.writeContentIndex(docs, "text", oneShot)
    val full = spark.read.parquet(oneShot).select("h")
      .collect().map(_.getLong(0)).toSet
    assert(grown == full)
    // retry idempotency (round-8 advisory): replay batch 0's two legs —
    // the flag write overwrites its own batch_id partition (row count
    // and flags unchanged), the index append anti-joins to a no-op
    val withBatch = spark.read.parquet(out)
    val before = withBatch.count()
    val b0ids = withBatch.filter($"batch_id" === 0L)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(b0ids.nonEmpty) // AvailableNow at 1 file/trigger → batch 0 = f0
    val replayBatch = docs.filter($"doc_id".isInCollection(b0ids))
    Dedup.dedupAgainstHashes(replayBatch, "doc_id", "text", seedSnapshot)
      .withColumn("batch_id", lit(0L))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(out)
    Dedup.appendToContentIndex(replayBatch, "text", idx)
    assert(spark.read.parquet(out).count() == before)
    val reflags = spark.read.parquet(out)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(reflags == flags)
    val regrown = spark.read.parquet(idx).select("h")
      .collect().map(_.getLong(0)).toSet
    assert(regrown == full)
  }

  test("streamIndexDedupGate: the index snapshot lives as long as its stream") {
    import graft.operators.Dedup
    val base = Files.createTempDirectory("graft-idx-gate-life")
    val docs = Seq((1L, "seed text"), (2L, "seed text"), (3L, "seed text"),
      (4L, "fresh text")).toDF("doc_id", "text")
    val idx = s"$base/idx"
    Dedup.writeContentIndex(docs.filter($"doc_id" === 1L), "text", idx)
    val streamDir = Files.createDirectory(base.resolve("in"))
    // each batch lands whole: written beside the stream, then renamed in
    def arrive(name: String, ids: Long*): Unit = {
      docs.filter($"doc_id".isin(ids: _*)).coalesce(1).write.parquet(s"$base/$name")
      Files.move(base.resolve(name), streamDir.resolve(name))
    }
    def persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
    arrive("f0.parquet", 2L)
    val stream = spark.readStream
      .schema(StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType))))
      .parquet(s"$streamDir/*")
    val out = s"$base/out"
    val before = persisted
    val q = StreamingOps.streamIndexDedupGate(stream, "doc_id", "text", idx, out)(
      _.option("checkpointLocation", s"$base/ckpt").start())
    try {
      q.processAllAvailable()
      val snapshot = persisted -- before
      assert(snapshot.size == 1, s"staged while the stream runs: $snapshot")
      // what every later SparkEntry.queries build on the starting thread
      // does first; the running stream's snapshot is not in that scope
      graft.operators.Stage.releaseScope()
      assert(snapshot.subsetOf(persisted))
      arrive("f1.parquet", 3L, 4L)
      q.processAllAvailable()
      val flags = spark.read.parquet(out)
        .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
      assert(flags == Map(2L -> true, 3L -> true, 4L -> false))
      q.stop()
      // released by the query's terminated event, which arrives async
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while ((snapshot & persisted).nonEmpty && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert((snapshot & persisted).isEmpty, "snapshot still staged after the stream ended")
    } finally q.stop()
  }

  test("incremental rollup fold == full recompute; batch retry idempotent") {
    import spark.implicits._
    val statePath = java.nio.file.Files
      .createTempDirectory("graft_rollup").toString
    val b1 = Seq(("a", 1.0), ("a", 3.0), ("b", 10.0)).toDF("k", "v")
    val b2 = Seq(("b", 20.0), ("c", 5.0)).toDF("k", "v")
    def writeBatch(df: org.apache.spark.sql.DataFrame, id: Long): Unit =
      graft.operators.Profile.aggState(df, "k", "v")
        .withColumn("batch_id", org.apache.spark.sql.functions.lit(id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id").parquet(statePath)
    writeBatch(b1, 0L); writeBatch(b2, 1L)
    writeBatch(b2, 1L) // retried batch replaces itself, not duplicates
    val folded = graft.streaming.StreamingOps
      .readRollup(spark, statePath, "k").collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n"),
        r.getAs[Double]("sum_val"), r.getAs[Double]("min_val"),
        r.getAs[Double]("max_val"))).toMap
    assert(folded("a") == ((2L, 4.0, 1.0, 3.0)))
    assert(folded("b") == ((2L, 30.0, 10.0, 20.0)))
    assert(folded("c") == ((1L, 5.0, 5.0, 5.0)))
  }
}
