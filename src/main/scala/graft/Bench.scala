package graft

import org.apache.spark.sql.SparkSession

import graft.operators.Stage

/** Benchmark main — driver-run per round against SPARK_GRAFT_SF_DIR.
  *
  * Each headline query is forced to FULL execution with a noop-format
  * write (count() would let Catalyst prune the computed columns), after a
  * warmup pass that pays one-time JIT/codegen/parquet-footer costs so the
  * numbers reflect steady-state throughput.
  *
  * Usage: `runMain graft.Bench [lane ...]`. No arguments runs every lane
  * in [[lanes]]; arguments select the lanes whose names contain one of
  * them ([[Selection.select]]: a pattern that matches no lane fails before
  * the session starts). Environment: SPARK_GRAFT_SF_DIR (scale-factor
  * directory), SPARK_GRAFT_CPUS ([[GraftSession.cores]]),
  * SPARK_GRAFT_BENCH_RUNS (timed passes per lane, default 3).
  *
  * Output, one JSON object per line: the compact metric line
  * ([[compactLine]]), the raw runs with host facts ([[detailLine]]), the
  * worst run's task telemetry per lane ([[telemetryLine]]), and the
  * compact metric line again as the last line.
  */
object Bench {

  /** Headline queries: one per operator family (scan-agg, explode,
    * broadcast join, shuffle join, windows, dedup, text, similarity,
    * ANN, resample, curation).
    *
    * The similarity slots are the SCALE paths (LSH q34, IVF q52, plus
    * the exact-top-k baseline q32) — NOT q31's all-pairs theta-join,
    * which exists only as the oracle-scale exact baseline and would
    * advertise an O(n²) plan as the similarity number.
    */
  val headline: Seq[String] = Seq(
    "q01_pricing_summary",
    "q09_wordcount",
    "q10_join_broadcast",
    "q11_join_multiway",
    "q14_window_topn",
    "q15_window_running",
    "q21_events_hourly",
    "q23_dedup_exact",
    "q25_token_stats",
    "q29_minhash_neardups",
    "q32_cosine_topk",
    "q34_lsh_topk",
    "q36_asof_join",
    "q64_asof_native",
    "q47_sessionize",
    "q49_tpch_q6",
    "q51_tpch_q5",
    "q52_ivf_topk",
    "q59_resample_locf",
    "q62_curation",
    // round 3: planner-stress decorrelation + training-data scale paths
    "q85_tpch_q21",
    "q90_seq_packing",
    "q92_decontam",
    // round 5: repeated-span dedup (the Lee-et-al pass) + the persisted
    // BM25 index probe — the two new LLM-pipeline scale paths
    "q111_span_dedup",
    "q112_bm25_indexed",
    // round 6: linear-sketch frequency (CMS) + model-based quality
    // scoring — the two new constant-state / broadcast-model scale paths
    "q131_cms_freq",
    "q136_linear_model",
    // round 6b: the Gopher repetition pass (tagged n-gram explode), DSIR
    // importance weighting (hashed-feature broadcast model), and PQ
    // index-build + ADC search (the compressed-domain ANN path)
    "q139_gopher_repetition",
    "q143_dsir_weights",
    "q146_pq_adc",
    "q153_ivfadc",
    // round 5 (this round): the in-row phrase-search kernel (narrow
    // scan + top-k, no postings shuffle) and the island-based DAU/MAU
    // (integer delta machinery instead of a 28× explode)
    "q222_phrase_search",
    "q228_dau_mau",
    // round 6: iterative graph peel (checkpointed fixpoint), cross-set
    // embedding decontamination (broadcast eval side), and the CDC
    // chunk census (window cumsum + chunk-hash aggregate)
    "q258_kcore",
    "q260_decontam_semantic",
    "q266_cdc_chunks",
    // round 8: token-budget corpus selection — the two-phase bucketed
    // cumsum that replaces the single global window at scale
    "q294_token_budget",
    // round 9: the per-label embedding outlier pass (explode +
    // broadcast-stats + top-k window) and synchronous LPA (the
    // iteration-bounded community-detection shuffle shape). The served
    // decontam lane is measured by the servedEntry below (q309's query
    // form rebuilds its index in-query for gate self-containment — that
    // build belongs outside a "served" timing).
    "q328_mahalanobis",
    "q329_label_prop",
    // round 10: the three new scale paths — the zero-shuffle watermark
    // text scan, the sample-plan + exact-audit range sharder (the
    // no-global-sort write planner), and the narrow embedding-fold
    // matryoshka census
    "q353_watermark_screen",
    "q354_range_shard_plan",
    "q356_matryoshka_census",
    // round 11: the crawl stack closed end to end — WARC bytes →
    // charset decode → html extraction (narrow mapPartitions + regex
    // scan), the URL canonicalize + host rollup (regex column program
    // + one grouped count-distinct), and the min-match-length span
    // dedup (q111's shuffle + an islands window on the slim dup frame)
    "q372_warc_to_text",
    "q374_host_rollup",
    "q375_span_dedup_minlen",
    "q382_link_extract",
    "q384_snapshot_diff",
    "q388_main_content",
    "q390_mirror_census",
    "q394_crawl_to_corpus")

  /** Served-index lanes: the index is built once outside the timed
    * window and only the probe path is timed (see `servedLane`).
    */
  val served: Seq[String] = Seq("q52_ivf_served", "q153_ivfadc_served",
    "q34_lsh_served", "q260_decontam_served", "q351_bucketed_served")

  /** Every lane, in metric-line order. */
  val lanes: Seq[String] = headline ++ served :+ "etl_pipeline"

  /** One lane's timed runs; `failed` when any run (or the lane's index
    * build) threw, so fewer runs than passes back the median.
    */
  final case class LaneResult(name: String, runs: Seq[Double], failed: Boolean) {
    def median: Double = Bench.median(runs)
  }

  /** True median: the two middle elements averaged for even N (upper
    * -middle alone would record the max for N=2); -1.0 when no run
    * succeeded.
    */
  def median(runs: Seq[Double]): Double =
    if (runs.isEmpty) -1.0
    else {
      val s = runs.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  // Locale.ROOT: the f-interpolator uses the default locale, which can
  // emit comma decimal separators → invalid JSON
  private def num(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  private def failedJson(results: Seq[LaneResult]): String =
    results.filter(_.failed).map("\"" + _.name + "\"").mkString("[", ",", "]")

  /** The compact metric line: headline total, per-lane medians, and the
    * lanes with a failed run (a failed lane's -1.0 median is left out of
    * the total, so the list is what shows a crash).
    */
  def compactLine(results: Seq[LaneResult], sfDir: String): String = {
    val qs = results.map(r => "\"" + r.name + "\":" + num(r.median))
      .mkString("{", ",", "}")
    val total = results.map(_.median).filter(_ >= 0).sum
    s"""{"metric":"headline_total","value":${num(total)},"unit":"sec","queries":$qs,"sf":"$sfDir","failed":${failedJson(results)}}"""
  }

  /** The detail line: every raw run plus host facts (`env`, a JSON object). */
  def detailLine(results: Seq[LaneResult], env: String, sfDir: String): String = {
    val runsJson = results.map { r =>
      "\"" + r.name + "\":" + r.runs.map(num).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    s"""{"detail":"bench_runs","runs":$runsJson,"env":$env,"sf":"$sfDir","failed":${failedJson(results)}}"""
  }

  /** Telemetry keys: the task metrics ([[TaskMetricsListener.keys]]),
    * then the classes codegen compiled during the run
    * ([[GraftSession.codegenCompiles]]) and the RDDs still persisted
    * after it (`getPersistentRDDs`), so a codegen cache that thrashes and
    * staged blocks that outlive their query show up in the artifact.
    */
  val telemetryKeys: Seq[String] =
    TaskMetricsListener.keys :+ "codegen_compiles" :+ "staged_rdds"

  /** The telemetry line: per lane, the worst run's [[telemetryKeys]], in
    * that order, so a large-SF run carries its own spill/GC/shuffle and
    * compile evidence.
    */
  def telemetryLine(worst: Seq[(String, Seq[Double])], sfDir: String): String = {
    val queries = worst.map { case (name, units) =>
      "\"" + name + "\":" + telemetryKeys.zip(units)
        .map { case (k, v) => "\"" + k + "\":" + num(v) }
        .mkString("{", ",", "}")
    }.mkString("{", ",", "}")
    s"""{"detail":"telemetry","stat":"worst_run","queries":$queries,"sf":"$sfDir"}"""
  }

  private def runOnce(name: String, spark: SparkSession, sfDir: String): Unit =
    SparkEntry.queries(name)(spark, sfDir)
      .write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    // before the session: a typo'd lane fails here, not after warmup
    val selected = Selection.select(lanes, args.toSeq.map(_.trim).filter(_.nonEmpty)).toSet
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cores
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Per-lane task telemetry, worst run per lane ([[telemetryLine]]).
    val teleListener = new TaskMetricsListener
    spark.sparkContext.addSparkListener(teleListener)
    val teleWorst =
      scala.collection.mutable.LinkedHashMap[String, Seq[Double]]()
    def recordTele[T](name: String)(f: => T): T = {
      teleListener.reset()
      val compiles0 = GraftSession.codegenCompiles
      val out = f
      val units = TaskMetricsListener.toUnits(teleListener.snapshot()) :+
        (GraftSession.codegenCompiles - compiles0).toDouble :+
        spark.sparkContext.getPersistentRDDs.size.toDouble
      teleWorst(name) = teleWorst.get(name) match {
        case Some(prev) => prev.zip(units).map { case (a, b) => math.max(a, b) }
        case None => units
      }
      out
    }
    // One timed run: seconds, or None (logged) when it throws. A failed
    // run must not kill the benchmark before the JSON line is emitted.
    def timed(name: String)(body: => Unit): Option[Double] = recordTele(name) {
      try {
        val t0 = System.nanoTime()
        body
        Some((System.nanoTime() - t0) / 1e9)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}"); None
      }
    }

    val headlineLanes = headline.filter(selected)
    // Warmup: run every headline once at the smallest SF (JIT + codegen
    // cache, which GraftSession sizes to hold every lane's classes).
    // Guarded per query — a warmup failure must not kill the
    // benchmark before the JSON line is emitted.
    headlineLanes.foreach { name =>
      try runOnce(name, spark, "/root/testdata/sf0.001")
      catch { case e: Throwable =>
        System.err.println(s"[bench] warmup $name skipped: ${e.getMessage}")
      }
    }

    // Median-of-N with per-run times recorded. Round-over-round
    // comparisons on this host showed ~1.5-2x wall-clock drift on
    // IDENTICAL code at different times of day (r1 code: 6.84s shared-16
    // at 10:15, 10.78s at 16:25 the same day), so a single min hides
    // whether a delta is noise or regression. The JSON carries every raw
    // run plus host load so future rounds can separate the two without a
    // bisect.
    // toIntOption: a malformed env var must not kill the run before the
    // JSON line is emitted — fall back to the default instead
    val passes = sys.env.get("SPARK_GRAFT_BENCH_RUNS")
      .flatMap(_.toIntOption).filter(_ > 0).getOrElse(3)
    def passesOf(name: String)(body: => Unit): LaneResult = {
      val runs = Seq.fill(passes)(timed(name)(body))
      LaneResult(name, runs.flatten, runs.contains(None))
    }
    def loadAvg(): Double =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0).toDouble
      catch { case _: Throwable => -1.0 }
    // Idle-window gate (round-6 verdict #1/#2): the r6 artifact was
    // captured at loadavg 2.8-4.6 and recorded 1.3-1.55x noise reads
    // that an idle-host rerun (loadavg 0.6) showed were not real. If the
    // host is still busy after warmup (other gate stages draining), wait
    // — bounded at 120 s so a genuinely-loaded host still gets a record.
    // Round-11 tightening (r10 verdict #4): r10's artifact started at
    // loadavg 2.59 — UNDER the old bar of 4.0 — and still drifted
    // q21/q15/etl 1.4-1.9x, so the bar drops to 2.0 at 32 cpus; the
    // 120 s bound keeps a genuinely-busy host recordable.
    val quietBar = math.max(2.0, cpus / 16.0)
    val waitedSec = {
      var waited = 0
      while (loadAvg() > quietBar && waited < 120) {
        Thread.sleep(5000); waited += 5
      }
      waited
    }
    val loadStart = loadAvg()
    val results = headlineLanes.map(name =>
      passesOf(name)(runOnce(name, spark, sfDir)))
    // Full-pipeline ETL bench (BASELINE.md "full-pipeline wall clock" row):
    // N-station weather manifests synthesized at the run's scale factor,
    // driven through the SAME R1-R4 manifest path + transform + audits +
    // parquet sink as the golden suite (extract → integrity audit → load →
    // reconcile → post-load quality audit). Fixture synthesis happens
    // OUTSIDE the timed window; the row-count reconciliation inside each
    // run keeps the timing honest (a silently-empty pipeline can't "win").
    val etlResult = Option.when(selected("etl_pipeline")) {
      import graft.etl._
      val sf = sfDir.split("sf").lastOption.flatMap(_.toDoubleOption).getOrElse(0.1)
      val s = math.max(1.0, sf / 0.001)        // golden workload multiple
      val mult = math.min(s, 10.0).toInt       // rows-per-file growth, cap 10x
      val stations = math.max(2, math.round(2 * s / 10).toInt) // file-count growth
      val tmp = sys.props("java.io.tmpdir")
      val fx = EtlScaleFixtures.synthesize(s"$tmp/graft_etl_bench",
        stations, 337 * mult, stations, 109 * mult)
      // warmup at golden (1x) scale: first-ever pipeline execution pays
      // ~10x in JIT/codegen/CSV-parser setup (measured 50 s cold vs 5 s
      // warm at sf0.1) — the same steady-state policy as the headline set
      try {
        val warm = EtlScaleFixtures.synthesize(s"$tmp/graft_etl_warm", 2, 337, 2, 109)
        WeatherPipeline.runMany(spark, warm.manifests, Some(warm.jsonPath),
          new ParquetSink(s"$tmp/graft_etl_warm_sink")): Unit
      } catch { case e: Throwable =>
        System.err.println(s"[bench] etl warmup skipped: ${e.getMessage}")
      }
      passesOf("etl_pipeline") {
        val res = WeatherPipeline.runMany(spark, fx.manifests,
          Some(fx.jsonPath), new ParquetSink(s"$tmp/graft_etl_bench_sink"))
        require(res.rowsWritten == fx.expectedRows && res.countReconciled,
          s"etl bench rows ${res.rowsWritten} != expected ${fx.expectedRows}")
        require(res.postLoad.totalAnomalies == 0L, "etl bench anomalies != 0")
      }
    }
    // Served-path ANN entries (round-6 verdict #8): q52/q153 time index
    // TRAINING inside the query — right for a build job, wrong shape for
    // the path users run at scale. Here the persisted index is built
    // ONCE outside the timed window and only the probe path is timed:
    // model load + cell-pruned code scan + broadcast distance tables —
    // the steady-state serving shape. Training entries stay in the
    // headline as the build-job numbers.
    val servedResults: Seq[LaneResult] = {
      import graft.operators.{IvfAdc, IvfIndex}
      import org.apache.spark.sql.functions.col
      val tmp = sys.props("java.io.tmpdir")
      // sanitized: local appIds contain '-', which is not a valid SQL
      // identifier char — the q351 bucketed-table names broke unquoted
      val runTag = spark.sparkContext.applicationId.replace("-", "_")
      def servedLane(name: String)(build: () => Unit)(
          query: () => org.apache.spark.sql.DataFrame): LaneResult = {
        def probe(): Unit = query().write.format("noop").mode("overwrite").save()
        try {
          build()
          // warmup probe pass (JIT + parquet footers): untimed, and kept
          // out of the lane's worst-run telemetry
          try probe()
          catch { case e: Throwable =>
            System.err.println(s"[bench] warmup $name skipped: ${e.getMessage}")
          }
          passesOf(name)(probe())
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name build failed: ${e.getMessage}")
          LaneResult(name, Seq.empty, failed = true)
        } finally Stage.releaseScope() // these lanes call operators directly
      }
      lazy val emb = Tables.embeddings(spark, sfDir)
      lazy val probes = emb.filter(col("vec_id") < 5)
      val ivfPath = s"$tmp/graft_bench_ivf_$runTag"
      val adcPath = s"$tmp/graft_bench_ivfadc_$runTag"
      val lshPath = s"$tmp/graft_bench_lsh_$runTag"
      val deconPath = s"$tmp/graft_bench_decon_$runTag"
      def lane(name: String): LaneResult = name match {
        case "q52_ivf_served" => servedLane(name) { () =>
          val m = IvfIndex.train(emb, k = 8, iterations = 3)
          IvfIndex.writeIndex(emb, m, ivfPath)
        } (() => IvfIndex.topKFromIndex(spark, ivfPath, probes, k = 10, nprobe = 4))
        case "q153_ivfadc_served" => servedLane(name) { () =>
          val m = IvfAdc.train(emb, kCells = 8, m = 8, pqK = 16,
            iterations = 3, dim = 64)
          IvfAdc.writeIndex(emb, m, adcPath)
        } (() => IvfAdc.topKFromIndex(spark, adcPath, probes, nprobe = 4, k = 10))
        case "q34_lsh_served" => servedLane(name) { () =>
          graft.operators.Similarity.writeLshIndex(emb, lshPath)
        } (() => graft.operators.Similarity
          .bandedLshTopKFromIndex(spark, lshPath, probes, k = 10))
        // q260's steady-state shape (round-8 verdict #5): corpus index
        // built once outside the timed window; the timed path only
        // signatures the eval split and prunes the stored layout
        case "q260_decontam_served" => servedLane(name) { () =>
          graft.operators.Similarity.writeLshIndex(
            emb.filter(col("vec_id") % 97 =!= 0), deconPath)
        } (() => graft.operators.TrainingData.decontaminateSemanticServed(
          emb.filter(col("vec_id") % 97 === 0), deconPath, threshold = 0.3))
        // q351's steady-state shape: bucket-sorted lineitem/orders built
        // ONCE outside the timed window; the timed path is the
        // exchange-free co-located SMJ + the tiny status rollup (the
        // SCALE.md rule-#2 layout promise, measured)
        case "q351_bucketed_served" => servedLane(name) { () =>
          spark.sql(s"DROP TABLE IF EXISTS bench_b_lineitem_$runTag")
          spark.sql(s"DROP TABLE IF EXISTS bench_b_orders_$runTag")
          Tables.lineitem(spark, sfDir).write.mode("overwrite")
            .bucketBy(16, "l_orderkey").sortBy("l_orderkey")
            .saveAsTable(s"bench_b_lineitem_$runTag")
          Tables.orders(spark, sfDir).write.mode("overwrite")
            .bucketBy(16, "o_orderkey").sortBy("o_orderkey")
            .saveAsTable(s"bench_b_orders_$runTag")
        } { () =>
          import org.apache.spark.sql.functions.{count, lit, sum}
          spark.table(s"bench_b_lineitem_$runTag").hint("merge")
            .join(spark.table(s"bench_b_orders_$runTag"),
              col("l_orderkey") === col("o_orderkey"))
            .groupBy(col("o_orderstatus"))
            .agg(count(lit(1)).as("n_items"),
              sum(col("l_quantity").cast("decimal(18,2)"))
                .cast("decimal(38,2)").cast("string").as("total_qty"))
        }
      }
      served.filter(selected).map(lane)
    }
    val allResults = results ++ servedResults ++ etlResult
    val loadEnd = loadAvg()
    val env = s"""{"loadavg_start":${num(loadStart)},"loadavg_end":${num(loadEnd)},"cpus":$cpus,"stat":"median_of_$passes","idle_gate_wait_sec":$waitedSec}"""
    // Emission layout (round-5 postmortem): the driver records only the
    // LAST 2000 chars of output, and r1-r5 all shipped one giant JSON
    // line whose head fell outside that window → "parsed": null every
    // round. So: the COMPACT metric line (~1.1 KB, no per-run raws) is
    // printed FIRST and again LAST — the final copy is guaranteed to sit
    // whole inside a tail window (only sbt's ~65-char success line
    // follows), the first copy covers a head-capturing parser — and the
    // full per-run/env detail and the telemetry go on their own middle
    // lines (keyed "detail", not "metric", so a grep for the metric line
    // can't match a clipped detail line).
    val compact = compactLine(allResults, sfDir)
    println(compact)
    println(detailLine(allResults, env, sfDir))
    println(telemetryLine(teleWorst.toSeq, sfDir))
    System.out.flush()
    // stop() BEFORE the final metric copy: Spark shutdown can emit late
    // WARN lines; nothing may print after the final metric line (the
    // driver parses the stdout tail — round-5/6 postmortem). build.sbt
    // routes forked run output straight to stdout (OutputStrategy
    // .StdoutOutput) and suppresses sbt's epilogue, so this println IS
    // the final undecorated stdout line.
    spark.stop()
    println(compact)
    System.out.flush()
  }
}
