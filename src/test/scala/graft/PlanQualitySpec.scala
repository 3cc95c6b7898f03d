package graft

import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.scalatest.funsuite.AnyFunSuite

/** Plan-quality regression guards: these assert the PHYSICAL properties
  * the 100 TB design depends on, so a refactor that silently loses a
  * pushdown/broadcast/partial-agg shows up as a test failure, not a
  * production regression.
  */
class PlanQualitySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val d = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, d).queryExecution.executedPlan.toString

  /** Every SQL execution that building `name`'s frame starts — the
    * eager construction-time actions (per-round checkpoints, index
    * writes) a final-plan string cannot show. A SparkContext-level
    * listener sees them all, including executions in sessions cloned
    * with `newSession()`, whose QueryExecutionListeners are their own.
    */
  private def constructionExecutions(name: String): Seq[SparkListenerSQLExecutionStart] =
    TestSpark.eventsDuring(SparkEntry.queries(name)(spark, d))._2
      .collect { case s: SparkListenerSQLExecutionStart => s }

  private def nodes(p: SparkPlanInfo): Seq[SparkPlanInfo] =
    p +: p.children.flatMap(nodes)

  private def exchanges(p: SparkPlanInfo): Int =
    nodes(p).count(_.nodeName.endsWith("Exchange"))

  /** Root-to-node path to the first node matching `hit`, if any. */
  private def pathTo(p: SparkPlanInfo, hit: SparkPlanInfo => Boolean): Option[Seq[SparkPlanInfo]] =
    if (hit(p)) Some(Seq(p))
    else p.children.iterator.flatMap(c => pathTo(c, hit)).nextOption().map(p +: _)

  test("q01: filter pushed to parquet scan, columns pruned, partial+final agg") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p)
    assert(p.contains("ReadSchema") && !p.contains("l_suppkey"), "column pruning lost")
    assert("HashAggregate".r.findAllIn(p).size >= 2, "partial aggregation lost")
  }

  test("q10: dimension side broadcasts") {
    assert(plan("q10_join_broadcast").contains("BroadcastHashJoin"))
  }

  test("q14: window top-n gets map-side WindowGroupLimit pushdown") {
    val p = plan("q14_window_topn")
    assert(p.contains("WindowGroupLimit"), p.take(400))
  }

  test("q17: order+limit compiles to TakeOrderedAndProject (no full sort)") {
    assert(plan("q17_topk").contains("TakeOrderedAndProject"))
  }

  test("q36: as-of join is a single shuffle + window (no range explosion)") {
    val p = plan("q36_asof_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p.take(400))
    assert("ShuffleExchange|Exchange".r.findAllIn(p).size <= 3, "unexpected extra shuffles")
  }

  test("q09: wordcount aggregates partially before the shuffle") {
    val p = plan("q09_wordcount")
    assert("HashAggregate".r.findAllIn(p).size >= 2)
    assert(p.contains("ReadSchema: struct<text:string>"), "reads more than the text column")
  }

  test("q34 banded LSH: no cartesian/BNLJ — candidates form on the band-key equi-join") {
    val p = plan("q34_lsh_topk")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p.take(600))
  }

  test("q52 IVF probe prunes cell partitions at the scan") {
    val p = plan("q52_ivf_topk")
    assert(p.contains("PartitionFilters") && p.contains("cell#"), p.take(600))
    assert(!p.contains("CartesianProduct"), "IVF probe degenerated to cross product")
  }

  test("q59 resample: no cartesian grid explosion, single window pass for LOCF") {
    val p = plan("q59_resample_locf")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p.take(600))
  }

  test("q62 curation: gates evaluate in one narrow pass before the dedup shuffle") {
    val p = plan("q62_curation")
    // one aggregate shuffle (exact dedup) — the lang/quality gates must not
    // add their own exchanges
    assert("Exchange".r.findAllIn(p).size <= 2, p.take(600))
    assert(!p.toLowerCase.contains("batchevalpython") && !p.contains("ScalaUDF"))
  }

  test("q89 deterministic split is a narrow codegen map (no shuffle, no UDF)") {
    val p = plan("q89_det_split")
    assert(!p.contains("Exchange"), "split must not shuffle")
    assert(p.contains("*(1)"), "split fell out of codegen")
    assert(!p.contains("ScalaUDF"))
  }

  test("q90 sequence packing shuffles once (per-shard window), then explodes narrowly") {
    val p = plan("q90_seq_packing")
    assert("Exchange".r.findAllIn(p).size == 1, p.take(600))
    assert(p.contains("Generate explode"), "chunk-range explode missing")
  }

  test("q91 PII redaction is a narrow codegen map (no shuffle, no UDF)") {
    val p = plan("q91_pii_redact")
    assert(!p.contains("Exchange"), "redaction must not shuffle")
    assert(p.contains("*(1)"), "redaction fell out of codegen")
    assert(!p.contains("ScalaUDF"))
  }

  test("q92 decontamination broadcasts the eval side; corpus is never shuffled by the join") {
    val p = plan("q92_decontam")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"), p.take(600))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q85 TPC-H Q21: quantifiers decorrelate to semi + anti joins, no cartesian") {
    val p = plan("q85_tpch_q21")
    assert(p.contains("LeftSemi"), "EXISTS did not become a semi join")
    assert(p.contains("LeftAnti"), "NOT EXISTS did not become an anti join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p.take(600))
  }

  test("q51 (6 table reads) and q85 (4) rebuilt in the session start no Spark job") {
    // schema inference runs an RDD job per uninferred read, which no SQL
    // execution event shows, so this counts job starts
    for (name <- Seq("q51_tpch_q5", "q85_tpch_q21")) {
      SparkEntry.queries(name)(spark, d): Unit
      val jobs = TestSpark.jobsDuring(SparkEntry.queries(name)(spark, d))._2
      assert(jobs.isEmpty, s"$name rebuild started jobs ${jobs.map(_.jobId)}")
    }
  }

  test("a steady pass of the 14 relational perfbench lanes compiles no generated class") {
    // perfbench's relational_lanes set (src/test cannot import perfbench):
    // about 190 generated classes, more than Spark's default codegen
    // cache of 100 holds, so without GraftSession's larger cache every
    // pass compiles its whole set again. The steady pass is the third:
    // a class name carries its codegen stage id, and AQE can number
    // q228's stages on its first rebuild differently from its first
    // build, so the second pass may compile those stages once more
    val lanes = Seq("q01_pricing_summary", "q10_join_broadcast",
      "q11_join_multiway", "q14_window_topn", "q15_window_running", "q21_events_hourly",
      "q36_asof_join", "q64_asof_native", "q47_sessionize", "q49_tpch_q6",
      "q51_tpch_q5", "q59_resample_locf", "q85_tpch_q21", "q228_dau_mau")
    def pass(): Long = {
      val c0 = GraftSession.codegenCompiles
      lanes.foreach(n =>
        SparkEntry.queries(n)(spark, d).write.format("noop").mode("overwrite").save())
      GraftSession.codegenCompiles - c0
    }
    val first = pass()
    val second = pass()
    val third = pass()
    assert(third == 0,
      s"the third pass compiled $third classes (the first $first, the second $second)")
  }

  test("q101 TPC-H Q16: NOT IN plans as a null-aware anti join, dims broadcast") {
    val p = plan("q101_tpch_q16")
    assert(p.contains("LeftAnti"), "NOT IN did not become an anti join")
    assert(p.contains("BroadcastHashJoin"), "supplier/part side should broadcast")
  }

  test("q111 span dedup: checkpointed gram pass, hot/cold split, window winner") {
    val p = plan("q111_span_dedup")
    // the expensive positional-gram kernel (tokenize + transform +
    // posexplode + xxhash64) runs ONCE inside the eager localCheckpoint
    // job; the four downstream branches (sample census, hot winners,
    // hot dups, cold window) must read the materialized narrow rows,
    // never re-run the kernel
    assert(!p.contains("posexplode(transform"),
      "gram kernel leaked past the checkpoint into a downstream branch")
    assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"),
      "checkpointed gram frame missing from the plan")
    // (a SortAggregate IS expected now — the hot branch's min(struct)
    // winner aggregates over the bounded hot subset only; the corpus-
    // scale winner determination stays in the cold window)
    // cold path keeps the bounded per-hash window; hot path is the
    // broadcast min-winner route; they rejoin in a union
    assert(p.contains("RunningWindowFunction") || p.contains("Window"), p.take(400))
    assert(p.contains("BroadcastHashJoin"), "hot-gram broadcast route missing")
    assert(p.contains("Union"), "hot/cold split missing")
  }

  test("q117 exact-k sample gets map-side WindowGroupLimit pre-pruning") {
    val p = plan("q117_sample_exact_k")
    assert(p.contains("WindowGroupLimit"), p.take(500))
  }

  test("q112 BM25 index probe prunes postings buckets and never rescans the corpus") {
    val p = plan("q112_bm25_indexed")
    // bucket pruning on the term filter: only the query terms' buckets
    // are read from the postings table
    assert(p.contains("SelectedBucketsCount"), p.take(800))
    // the probe plan reads the index tables only — a documents.parquet
    // scan here would mean the "no corpus scan" contract is broken
    assert(!p.contains("documents.parquet"), "probe plan rescans the corpus")
  }

  test("q133 weighted sample is a top-k, not a global sort") {
    val p = plan("q133_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"), p.take(600))
    // a Sort node would mean the limit didn't fuse into per-partition heaps
    assert(!p.contains("Sort "), "weighted sample fell back to a global sort")
  }

  test("weather transform is one narrow codegen stage (no shuffle, no UDF)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-plan-csv")
    val content = "Time;Temperature;Humidity;Pressure;Speed;Precip. Accum.\n" +
      "12:04 AM;55,6 °F;92 %;29,82 in;4,5 mph;0,00 in\n"
    java.nio.file.Files.write(dir.resolve("wu.csv"),
      content.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    val df = graft.etl.WuCsvSource.read(spark,
      Seq(graft.etl.CsvManifestEntry(dir.resolve("wu.csv").toString, "2024-10-01")),
      "1001", graft.etl.WeatherSchema.SourceWu)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), "transform should be narrow")
    // `*(n)` prefixes mark WholeStageCodegen stages in simpleString
    assert(p.contains("*(1)"), "transform fell out of codegen")
    assert(!p.toLowerCase.contains("batchevalpython") && !p.contains("ScalaUDF"), "UDF crept in")
  }

  test("q294 token budget: doc-row windows stay bucket-partitioned (no global doc sort)") {
    val p = plan("q294_token_budget")
    // Window nodes print "Window [fns], [partition spec], [order spec]";
    // an empty partition spec ("], [], [") is a single-partition global
    // window. Exactly ONE is allowed — the ≤granularity-row bucket
    // frame's running sum; the per-doc cumsum must keep its bucket
    // partitioning or the operator has regressed to a global doc sort.
    val windowLines = p.linesIterator.filter(_.contains("Window ")).toSeq
    assert(windowLines.size >= 2,
      s"expected bucket window + doc window:\n${p.take(800)}")
    val global = windowLines.count(_.contains("], [], ["))
    assert(global <= 1, s"doc rows fell into a global window:\n${p.take(800)}")
  }

  // q296 Bradley-Terry has no final-plan guard by design: its MM
  // iterations execute EAGERLY during plan construction (checkpointed
  // per round), so queries("q296")'s plan is one checkpoint scan — the
  // pair-matrix partial-agg property lives in construction-time jobs a
  // plan string can't see. Eval.bradleyTerry's scaladoc documents it.

  test("q309 served decontam: stored band partitions prune at the scan; eval side broadcasts") {
    val p = plan("q309_decontam_served")
    // the candidate read must be a partition-pruned scan of the
    // persisted fused-band-key layout (dir-bucket partition column `pb`,
    // fused `bk` as a data column for in-dir skipping), not a
    // full-index scan — and the pruning must be JOIN-based (dynamic
    // partition pruning from the broadcast eval keys), not a
    // driver-collected Or-literal
    assert(p.contains("PartitionFilters") && p.contains("pb#") &&
      p.contains("bk#"), p.take(800))
    assert(p.contains("dynamicpruningexpression"), p.take(800))
    // the eval-side joins stay broadcast — the corpus/vecs side must
    // never shuffle for the gate
    assert(p.contains("BroadcastHashJoin"), p.take(800))
  }

  test("q326/q327 byte probes: narrow codegen maps, zero shuffle") {
    Seq("q326_png_meta", "q327_mp3_meta").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Exchange"), s"$q must not shuffle:\n${p.take(400)}")
    }
  }

  test("q328 mahalanobis: per-dim stats broadcast; label-partitioned window only") {
    val p = plan("q328_mahalanobis")
    assert(p.contains("BroadcastHashJoin"),
      s"labels·dims stats frame must broadcast:\n${p.take(600)}")
    val global = p.linesIterator.filter(_.contains("Window "))
      .count(_.contains("], [], ["))
    assert(global == 0, s"top-k window fell global:\n${p.take(800)}")
  }

  // q330 modularity / q331 HITS / q335 MMR execute their iterations
  // EAGERLY (localCheckpoint per round — the q296 Bradley-Terry
  // convention); their final plans are checkpoint scans, so the
  // per-round partial-agg properties are documented on the operators.
  // q329 LPA's rounds are guarded below through their construction-time
  // executions.

  test("q329 LPA: each generic round shuffles once; the edge side is neither re-shuffled nor re-sorted") {
    // the 2|E| symmetric edge checkpoint (u, v): pre-partitioned and
    // sorted by u once, before the rounds
    def edgeScan(e: SparkListenerSQLExecutionStart) = pathTo(e.sparkPlanInfo, n =>
      n.nodeName == "Scan ExistingRDD" && n.simpleString.contains("[u#"))
    // a generic round joins the label frame onto the edge checkpoint;
    // q329 runs 4 iterations and round 1 is the closed-form
    // min-neighbor pass (no join), so 3 generic rounds
    val rounds = constructionExecutions("q329_label_prop").filter(e =>
      edgeScan(e).isDefined && nodes(e.sparkPlanInfo).exists(_.nodeName.contains("Join")))
    assert(rounds.size == 3, s"expected 3 generic LPA rounds, saw ${rounds.size}")
    rounds.foreach { r =>
      val p = r.physicalPlanDescription
      // the single irreducible exchange: (v, label) rows by v for the
      // count agg; the label frame keeps hash(node) through its
      // checkpoint, so the join adds none
      assert(exchanges(r.sparkPlanInfo) == 1, s"round must shuffle exactly once:\n$p")
      // ...and the edge side reaches the merge join with no Sort/Exchange
      val path = edgeScan(r).get
      assert(path.exists(_.nodeName == "SortMergeJoin"),
        s"edge checkpoint must feed a merge join:\n$p")
      val belowJoin = path.dropWhile(_.nodeName != "SortMergeJoin").tail
      assert(!belowJoin.exists(n => n.nodeName == "Sort" || n.nodeName.endsWith("Exchange")),
        s"edge side re-sorted or re-shuffled:\n$p")
    }
  }

  test("q112 BM25 postings build: in-row term counts, zero shuffle") {
    // the termCounts kernel replaced explode + groupBy(term, id, dl):
    // the postings write is one narrow pass into the bucketed table
    val postingsWrites = constructionExecutions("q112_bm25_indexed").filter(e =>
      nodes(e.sparkPlanInfo).exists(_.nodeName == "Execute InsertIntoHadoopFsRelationCommand") &&
        e.physicalPlanDescription.contains("_postings"))
    assert(postingsWrites.size == 1, s"expected one postings write, saw ${postingsWrites.size}")
    val w = postingsWrites.head
    assert(exchanges(w.sparkPlanInfo) == 0,
      s"postings build must not shuffle:\n${w.physicalPlanDescription}")
  }

  test("q334 trojan audit: narrow codegen map, zero shuffle, no UDF") {
    val p = plan("q334_trojan_audit")
    assert(!p.contains("Exchange"), s"must not shuffle:\n${p.take(400)}")
    assert(!p.contains("BatchEvalPython") && !p.contains("SQLUDF"), p.take(200))
  }

  test("q336 conformal: rank windows stay group-partitioned; q̂ broadcasts") {
    val p = plan("q336_conformal")
    val global = p.linesIterator.filter(_.contains("Window "))
      .count(_.contains("], [], ["))
    assert(global == 0, s"calibration rank fell into a global window:\n${p.take(800)}")
    assert(p.contains("BroadcastHashJoin"),
      s"q̂ frame must broadcast to the test side:\n${p.take(600)}")
  }

  test("q337 half-sample SE: no window, partial+final aggs on the replicate explode") {
    val p = plan("q337_half_sample_se")
    assert(!p.contains("Window "), s"no window expected:\n${p.take(400)}")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "partial aggregation lost")
  }

  test("q351 bucketed fact-fact join: SMJ with the rollup as the ONLY exchange") {
    val p = plan("q351_bucketed_join")
    assert(p.contains("SortMergeJoin"), p.take(600))
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges == 1,
      s"expected exactly the final-agg exchange, got $exchanges:\n${p.take(900)}")
  }

  test("q353 watermark screen: narrow per-row program, zero shuffle, no UDF") {
    val p = plan("q353_watermark_screen")
    assert(!p.contains("Exchange"), s"watermark screen must not shuffle:\n${p.take(600)}")
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"), "UDF crept in")
  }

  test("q354 shard plan: boundaries broadcast to the audit; no sort-merge; partial+final audit agg") {
    val p = plan("q354_range_shard_plan")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"boundary array must broadcast:\n${p.take(900)}")
    assert(!p.contains("SortMergeJoin"), "audit must not sort-merge the fact side")
    assert(!p.contains("CartesianProduct"), "non-broadcast cross product")
    assert("HashAggregate".r.findAllIn(p).size >= 2, "partial aggregation lost")
  }

  test("q398 binary top-k: probes broadcast, corpus scanned once, no cartesian") {
    val p = plan("q398_binary_topk")
    // the 8 B/vector signature scan is only a win if the probe side
    // broadcasts (corpus never shuffles for candidate generation) and
    // the per-probe windows stay bounded
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      p.take(600))
    assert(!p.contains("CartesianProduct"), p.take(600))
    assert(p.contains("WindowGroupLimit"),
      "per-probe top-k lost its map-side group limit\n" + p.take(600))
  }

  test("q399 multi-probe served LSH: flip keys still ride DPP; vecs join stays hash") {
    val p = plan("q399_lsh_multiprobe")
    // multi-probe multiplies probe keys (r+1)×, but they must reach the
    // index scan the same way: broadcast + dynamic partition pruning on
    // the dir bucket — never a driver-collected literal or a full scan
    assert(p.contains("dynamicpruningexpression"), p.take(800))
    assert(p.contains("PartitionFilters") && p.contains("pb#"), p.take(800))
    // the corpus-dependent candidate frame must stream through a
    // shuffle-hash join (an SMJ would external-sort it — the measured
    // q260 spill shape)
    assert(p.contains("ShuffledHashJoin"), p.take(800))
  }

  // Round-10 guard for the DECIMAL-moment migration (VERDICT r9 #1):
  // the cohort-statistics lanes must never again hold a whole cohort
  // in one aggregation buffer. collect_list forces ObjectHashAggregate
  // and O(group) state; the migrated plans are plain HashAggregates
  // with partial+final split and O(1) decimal buffers.
  for (q <- Seq("q210_welch_ttest", "q211_skew_kurtosis",
      "q160_group_trend", "q238_cuped", "q229_position_attribution",
      "q196_mutual_info", "q183_burstiness"))
    test(s"$q: no whole-cohort collect fold — exact decimal partial+final aggs") {
      val p = plan(q)
      assert(!p.contains("collect_list"),
        s"cohort-scale collect_list reintroduced:\n${p.take(600)}")
      assert(!p.contains("ObjectHashAggregate"),
        s"non-codegen object agg in a cohort-stats lane:\n${p.take(600)}")
      assert("HashAggregate".r.findAllIn(p).size >= 2,
        "partial aggregation lost")
    }
}
