package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.functions.TextFunctions._
import graft.functions.HashFunctions._

/** Training-data pipeline operators: deterministic splits, sequence
  * packing, PII redaction, benchmark decontamination. These are the
  * corpus-preparation steps a pretraining pipeline runs after curation
  * (see [[Curation]]) and before serialization.
  *
  * All four are pure DataFrame/Column programs — no RNG state, no
  * driver-side loops — so they re-run identically on retries and
  * stragglers, which is the property that actually matters at 100 TB:
  * a `rand()`-based split silently reassigns rows when a task retries.
  */
object TrainingData {

  /** Deterministic train/val/test split: bucket = pmod(xxhash64(id), 100),
    * split by cumulative percentage. Reproducible across runs, clusters
    * and retries (the hash is a pure function of the id), stable under
    * corpus growth (a doc's split never changes when OTHER docs are
    * added/removed — the property k-fold or rank-based splits lack).
    * Narrow map, no shuffle.
    */
  def deterministicSplit(df: DataFrame, idCol: String,
      trainPct: Int = 90, valPct: Int = 5): DataFrame = {
    require(trainPct + valPct <= 100, "split percentages exceed 100")
    df.withColumn("bucket", pmod(xxhash64(col(idCol)), lit(100)))
      .withColumn("split",
        when(col("bucket") < trainPct, lit("train"))
          .when(col("bucket") < trainPct + valPct, lit("val"))
          .otherwise(lit("test")))
  }

  /** Concat-and-chunk sequence packing — the GPT-style pretraining layout:
    * documents are concatenated in deterministic (`shard`, id) order and
    * cut into fixed `capacity`-token chunks; a document straddling a cut
    * contributes a span to every chunk it overlaps. Emits one row per
    * (shard, chunk, doc): the chunk id and the [tok_start, tok_end) span
    * of the concatenated stream the doc contributes.
    *
    * Declarative: a running-sum window gives each doc its stream offset,
    * and `sequence(first_chunk, last_chunk)` explodes the overlapped
    * chunks — no sequential driver loop. The window partitions by
    * `shard`, which is the scale contract: packing is per-shard (per
    * output file), so shards pack in parallel and a global sort never
    * happens. More shards = more parallelism, same layout semantics.
    *
    * CONTRACT: `idCol` must be unique within each shard — it is the total
    * order the layout is defined by. The running sum uses a ROWS frame, so
    * duplicate ids still produce non-overlapping spans and chunks never
    * exceed `capacity`, but the relative placement of the tied rows is
    * not deterministic across runs (a RANGE frame would be worse: tied
    * rows would share one end_off and produce overlapping spans).
    */
  def packSequences(df: DataFrame, idCol: String, tokenCount: Column,
      capacity: Int, shard: Column): DataFrame = {
    require(capacity > 0, "capacity must be positive")
    val w = Window.partitionBy(col("shard")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.select(col(idCol), tokenCount.as("n_tokens"), shard.as("shard"))
      .filter(col("n_tokens") > 0)
      .withColumn("end_off", sum(col("n_tokens")).over(w))
      .withColumn("start_off", col("end_off") - col("n_tokens"))
      // integer `div`, not FP `/` + floor: offsets at 100 TB exceed the
      // 2^53 range where double division stays exact
      .withColumn("chunk_id", explode(sequence(
        expr(s"start_off div $capacity"),
        expr(s"(end_off - 1) div $capacity"))))
      .withColumn("tok_start",
        greatest(col("start_off"), col("chunk_id") * capacity))
      .withColumn("tok_end",
        least(col("end_off"), (col("chunk_id") + 1) * capacity))
      .select(col("shard"), col("chunk_id"), col(idCol),
        col("tok_start"), col("tok_end"),
        (col("tok_end") - col("tok_start")).as("tokens_in_chunk"))
  }

  /** Boundary-preserving packing audit — the OTHER sequence-packing
    * policy ([[packSequences]] concatenates and splits mid-document;
    * this one never splits): documents fill `capacity`-token bins
    * NEXT-fit in id order within each shard (one open bin — the O(1)
    * streaming-friendly policy real packers ship), and the audit reports per
    * shard how much padding that policy wastes — THE number that
    * decides concat-chunking vs boundary packing for a training run.
    * Documents larger than `capacity` contribute a full bin
    * (`least(n, capacity)`) and are counted in `n_oversize` (split them
    * first — the chunking operator exists for exactly that).
    *
    * Determinism/scale: bin assignment is a non-associative sequential
    * fold, so it runs as an id-ordered aggregate() fold per shard
    * (state = (bins, fill) only — O(1), never a per-doc list); shards
    * are the parallelism unit, sized upstream so a shard's doc list is
    * collectable (the same contract as packSequences' shard column).
    * All arithmetic is exact integers; the one divide is final.
    */
  def packBinsSummary(df: DataFrame, idCol: String, tokenCount: Column,
      capacity: Int, shard: Column): DataFrame = {
    require(capacity > 0, "capacity must be positive")
    val cap = lit(capacity.toLong)
    val base = df.select(col(idCol).as("id"),
        tokenCount.cast("long").as("n"), shard.as("shard"))
      .filter(col("n") > 0)
    base.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n")).as("total_tokens"),
        sum(least(col("n"), cap)).as("packed_tokens"),
        sum(when(col("n") > cap, 1L).otherwise(0L)).as("n_oversize"),
        aggregate(
          transform(array_sort(collect_list(struct(col("id"), col("n")))),
            s => least(s.getField("n"), cap)),
          struct(lit(0L).as("bins"), cap.as("fill")),
          (acc, n) => struct(
            when(acc.getField("fill") + n <= cap, acc.getField("bins"))
              .otherwise(acc.getField("bins") + 1L).as("bins"),
            when(acc.getField("fill") + n <= cap,
              acc.getField("fill") + n).otherwise(n).as("fill")))
          .getField("bins").as("n_bins"))
      .withColumn("padding_frac",
        round((col("n_bins") * cap - col("packed_tokens")).cast("double") /
          (col("n_bins") * cap).cast("double"), 4))
  }

  /** Token-budget corpus selection: greedy quality-first prefix — rank
    * every doc by (quality DESC, id ASC) and keep the maximal prefix
    * whose cumulative token count fits `budget` (the "best B tokens for
    * the next training run" cut; greedy-by-quality is the standard
    * practice, not a knapsack).
    *
    * Scale shape — the naive form is ONE global window (single
    * straggler partition over the whole corpus). Here the cumulative
    * sum is two-phase: quality quantized to `granularity` buckets
    * (floor(q·granularity) — monotone, so bucket order IS quality
    * order), per-bucket token totals off one partial-agg pass, an
    * ordered running sum over the BUCKET frame (bounded: ≤ granularity
    * × score range rows — the documented small-frame window contract),
    * then a per-doc window PARTITIONED by bucket for the within-bucket
    * remainder. Only the bucket frame is ever globally ordered; doc
    * rows shuffle once, by bucket. The cut is exact: the two-phase
    * cumsum equals the global (q DESC, id) cumsum because quantization
    * is order-compatible — the oracle replays the single-window form.
    */
  def tokenBudgetSelect(df: DataFrame, idCol: String, tokenCount: Column,
      quality: Column, budget: Long, granularity: Int = 1000): DataFrame = {
    require(budget > 0, "budget must be positive")
    require(granularity > 0, "granularity must be positive")
    val docs = df.select(col(idCol).as("id"),
        tokenCount.cast("long").as("n_tokens"),
        quality.cast("double").as("q"))
      .filter(col("n_tokens") > 0 && col("q").isNotNull)
      .withColumn("__b", floor(col("q") * granularity).cast("long"))
    val buckets = docs.groupBy(col("__b")).agg(sum(col("n_tokens")).as("__bt"))
    val wb = Window.orderBy(col("__b").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val cumB = buckets.withColumn("__cum_before",
      coalesce(sum(col("__bt")).over(wb), lit(0L)))
      .select(col("__b"), col("__cum_before"))
    val wd = Window.partitionBy(col("__b"))
      .orderBy(col("q").desc, col("id"))
    docs.join(cumB, Seq("__b"))
      .withColumn("cum_tokens", col("__cum_before") + sum(col("n_tokens")).over(wd))
      .withColumn("selected", col("cum_tokens") <= budget)
      .select(col("id"), col("n_tokens"), col("q"), col("cum_tokens"),
        col("selected"))
  }

  /** Range-shard WRITE PLANNING without a global sort — the layout
    * question every 100 TB re-partitioning job answers first: pick S−1
    * key boundaries that split the table into ≈equal range shards, then
    * audit what those boundaries actually realize. Two narrow passes:
    *
    *  1. PLAN on a deterministic hash sample (pmod(xxhash64(k),
    *     sampleMod)=0 — retry/growth-stable, no RNG): sample ranks are
    *     computed with the [[tokenBudgetSelect]] two-phase shape
    *     (coarse key-range bucket → small bucket-summary cumsum →
    *     per-bucket window) so NO single-partition global window ever
    *     sees the sample; boundary i = sample order statistic at
    *     nearest-rank ⌈i·m/S⌉ (exact integer arithmetic). The ≤ S−1
    *     boundary values fold into ONE array row (bounded by S, the
    *     mmrSelect k-bounded contract).
    *  2. AUDIT every row against the broadcast boundary array:
    *     shard = #{boundaries < k} (S−1 comparisons/row), then one
    *     partial+final count/min/max per shard — the realized
    *     distribution the plan would write, with skew = n·S/total.
    *
    * Spark's own RangePartitioner answers this with reservoir samples
    * collected to the driver; this form keeps the sample distributed
    * and the boundary rule exactly replayable (rank arithmetic, not
    * reservoir RNG). Rows equal to a boundary go left; duplicate
    * boundary values collapse (their shards realize empty and are not
    * emitted — the oracle's IN-filter dedups identically).
    *
    * Sizing contract: the bucket-SUMMARY cumsum is a global window, so
    * pick `bucketWidth` with distinct buckets ≈ key_span/bucketWidth
    * ≲ 10⁶ (and `sampleMod` so the sample ≈ n/sampleMod stays a small
    * fraction of the table) — both are parameters precisely because the
    * right values are data-scale decisions.
    */
  def rangeShardPlan(df: DataFrame, keyCol: String, shards: Int,
      sampleMod: Int = 64, bucketWidth: Long = 1L << 12): DataFrame = {
    require(shards >= 2, "shards must be >= 2")
    require(sampleMod >= 1 && bucketWidth >= 1, "positive sample/bucket")
    val keys = df.select(col(keyCol).cast("long").as("k"))
    // r13 (guide §2.4): the sample frame feeds THREE plan branches
    // (bucket summary, total-count rank frame, boundary pick) —
    // unstaged, each re-scanned the table and re-hashed every key
    // (plan showed 4 scans; 2 remain: this one + the full audit pass,
    // which must rescan by design). The staged rows are ~n/sampleMod
    // narrow (k, __b) pairs — the lazy-checkpoint staging discipline.
    val smp = keys.filter(pmod(xxhash64(col("k")), lit(sampleMod.toLong)) === 0L)
      .withColumn("__b", floor(col("k") / bucketWidth).cast("long"))
      .transform(Stage.scoped(eager = false))
    val bsum = smp.groupBy(col("__b")).agg(count(lit(1)).as("__bc"))
    val wb = Window.orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cumB = bsum
      .withColumn("__before", coalesce(sum(col("__bc")).over(wb), lit(0L)))
      .select(col("__b"), col("__before"))
    // nearest-rank boundary set ⌈i·m/S⌉ = (i·m + S − 1) div S, computed
    // ONCE on the 1-row total frame: the numerator stays < 2⁵³ at any
    // realistic sample (exact in double), the quotient is ≥ 1/S away
    // from any integer it doesn't equal, so floor() is the exact
    // integer division
    val total1 = smp.agg(count(lit(1)).as("__m"))
      .withColumn("__ranks", transform(sequence(lit(1), lit(shards - 1)),
        i => floor((i.cast("long") * col("__m") + lit(shards - 1L))
          .cast("double") / shards).cast("long")))
      .select(col("__ranks"))
    val wd = Window.partitionBy(col("__b")).orderBy(col("k"))
    val bounds = smp.join(cumB, Seq("__b"))
      .withColumn("__rk", col("__before") + row_number().over(wd))
      .crossJoin(broadcast(total1))
      .filter(array_contains(col("__ranks"), col("__rk")))
      .agg(sort_array(collect_list(col("k"))).as("__bounds"))
    val wAll = Window.partitionBy()
    keys.crossJoin(broadcast(bounds))
      .withColumn("shard_idx",
        size(filter(col("__bounds"), b => b < col("k"))))
      .groupBy(col("shard_idx"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("k")).as("k_min"), max(col("k")).as("k_max"))
      .select(col("shard_idx"), col("n_rows"), col("k_min"), col("k_max"),
        ((col("n_rows") * shards).cast("double") /
          sum(col("n_rows")).over(wAll).cast("double")).as("skew"))
  }

  /** Mixture REBALANCE planning — the actionable step after a mixture
    * audit (q151 measures observed-vs-target divergence; this emits the
    * per-source sampling rates that would fix it): given per-row token
    * counts and a per-source target weight, compute each source's
    * observed token share, its target share, the relative weight
    * rel = target/observed, and the DOWNSAMPLING plan rate = rel/max(rel)
    * — scaled so the most under-represented source keeps everything
    * (rate 1) and every other source subsamples to match the target
    * mixture exactly (the static DoReMi-style reweighting, public:
    * Xie et al. 2023 fix a reference mixture the same way before
    * proxy-model reweighting). planned_tokens = ⌊rate·observed⌋.
    *
    * Exactness: token sums and weight sums are exact integer aggs;
    * every derived value is a FIXED sequence of correctly-rounded
    * double ops on those integers (shares, rel, the max over the
    * |sources|-bounded frame, rate, floor) — bit-identical
    * cross-engine, no rounding anywhere. One partial+final agg + one
    * broadcast of the 1-row totals; no window over row-scale data.
    */
  def mixtureRebalance(df: DataFrame, sourceCol: String,
      tokenCount: Column, targetWeight: Column): DataFrame = {
    val per = df
      .select(col(sourceCol).as("source"),
        tokenCount.cast("long").as("__tk"),
        // DOUBLE, not long: natural mixture weights are fractional
        // (0.6/0.4) and a long cast would truncate them to 0 → NaN
        // shares. Integer-valued weights stay exact in double, which
        // is what keeps a plain-SUM SQL oracle bit-identical.
        targetWeight.cast("double").as("__w"))
      .filter(col("source").isNotNull && col("__tk").isNotNull)
      .groupBy(col("source"))
      .agg(sum(col("__tk")).as("observed_tokens"),
        max(col("__w")).as("__w"))
    // the weight total folds in source order — deterministic even for
    // fractional weights (a plain double SUM over the |sources|-bounded
    // frame would be partitioning-dependent in the last ulp)
    val tot = per.agg(sum(col("observed_tokens")).as("__ot"),
      aggregate(
        transform(array_sort(collect_list(struct(col("source"), col("__w")))),
          x => x.getField("__w")),
        lit(0.0), (acc, x) => acc + x).as("__wt"))
    val rel = (col("__w") / col("__wt")) /
      (col("observed_tokens").cast("double") / col("__ot").cast("double"))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    per.crossJoin(broadcast(tot))
      .withColumn("observed_share", col("observed_tokens").cast("double") /
        col("__ot").cast("double"))
      .withColumn("target_share", col("__w").cast("double") /
        col("__wt").cast("double"))
      .withColumn("__rel", rel)
      .withColumn("rate", col("__rel") / max(col("__rel")).over(wAll))
      .select(col("source"), col("observed_tokens"),
        col("observed_share"), col("target_share"), col("rate"),
        floor(col("rate") * col("observed_tokens").cast("double"))
          .cast("long").as("planned_tokens"))
  }

  /** Deterministic stratified sampling: keep a row iff its hash bucket
    * (pmod(xxhash64(id), 1e6)) falls below its stratum's rate threshold.
    * Same determinism contract as [[deterministicSplit]] — retry-stable,
    * corpus-growth-stable, and per-stratum rates compose with it (the
    * split and the sample use the same bucket, so e.g. a 10% sample of
    * the train split is exactly the sample ∩ split). Narrow, no shuffle.
    */
  def stratifiedSample(df: DataFrame, idCol: String, strataCol: String,
      rates: Map[String, Double], defaultRate: Double = 0.0): DataFrame = {
    require((defaultRate +: rates.values.toSeq).forall(r => r >= 0 && r <= 1),
      "rates must be in [0, 1]")
    val bucket = pmod(xxhash64(col(idCol)), lit(1000000L))
    val threshold = rates.toSeq.sortBy(_._1)
      .foldLeft(lit(math.round(defaultRate * 1000000L))) { case (acc, (k, r)) =>
        when(col(strataCol) === k, lit(math.round(r * 1000000L))).otherwise(acc)
      }
    df.filter(bucket < threshold)
  }

  /** Overlapping token-window chunking — the RAG / long-document splitter:
    * windows of `size` tokens advancing by `stride` (< size ⇒ overlap);
    * every start position `0, stride, 2·stride, … < n` emits a chunk,
    * trailing chunks truncate at the document end (≥ 1 token each).
    * Narrow per-doc expression work (transform + posexplode) — zero
    * shuffles; chunk ids are per-doc ordinals so downstream packing /
    * embedding jobs key on (id, chunk_id) deterministically.
    */
  def chunkTokens(df: DataFrame, idCol: String, toksCol: Column,
      size: Int, stride: Int): DataFrame = {
    require(size > 0 && stride > 0 && stride <= size,
      s"need 0 < stride <= size, got size=$size stride=$stride")
    val spine = df.select(col(idCol).as("id"), toksCol.as("__toks"))
      .select(col("id"), col("__toks"), org.apache.spark.sql.functions.size(col("__toks")).as("__n"))
      .filter(col("__n") > 0)
    spine
      .select(col("id"), col("__n"),
        posexplode(transform(
          sequence(lit(0), col("__n") - 1, lit(stride)),
          start => struct(
            start.as("tok_start"),
            least(lit(size), col("__n") - start).as("n_chunk_tokens"),
            array_join(slice(col("__toks"), start + 1, lit(size)), " ").as("chunk_text"))))
          .as(Seq("chunk_id", "c")))
      .select(col("id"), col("chunk_id"),
        col("c.tok_start").as("tok_start"),
        col("c.n_chunk_tokens").as("n_chunk_tokens"),
        col("c.chunk_text").as("chunk_text"))
  }

  /** Near-dup-LEAKAGE-SAFE deterministic split: the split key is the
    * near-dup cluster REPRESENTATIVE (connected-component minimum from
    * [[Dedup.nearDupRepresentatives]]), so every member of a dup cluster
    * lands in the same split — near-copies of train documents can never
    * contaminate val/test (the split-leakage failure mode Lee et al.
    * document). Unpaired documents key on themselves; bucket/split
    * semantics match [[deterministicSplit]] exactly.
    */
  def leakageSafeSplit(docs: DataFrame, pairs: DataFrame, idCol: String,
      trainPct: Int, valPct: Int): DataFrame = {
    val reps = Dedup.nearDupRepresentatives(pairs)
      .select(col("id").as("__rid"), col("rep").as("__rep"))
    val keyed = docs.select(col(idCol))
      .join(reps, col(idCol) === col("__rid"), "left")
      .select(col(idCol), coalesce(col("__rep"), col(idCol)).as("__split_key"))
    deterministicSplit(keyed, "__split_key", trainPct, valPct)
      .select(col(idCol), col("bucket"), col("split"))
  }

  /** Deterministic EXACT-k-per-stratum sample — the reservoir-sampling
    * shape done relationally: rank rows inside each stratum by
    * `xxhash64(id)` (ties, impossible in practice, break by id) and keep
    * the k smallest. Exactly min(k, |stratum|) rows per stratum, stable
    * under reruns, row order and partitioning — the property a true
    * reservoir sample lacks. One shuffle (the window partition), and the
    * `rank <= k` filter compiles to a map-side WindowGroupLimit: each
    * input partition pre-prunes to its local top-k before the exchange,
    * so the shuffle carries ≤ k × partitions rows per stratum, not the
    * stratum (plan-guarded in PlanQualitySpec).
    *
    * Rate-based sampling ([[stratifiedSample]]) is the composable
    * fraction gate; THIS is the fixed-budget gate (eval sets, per-domain
    * caps, balanced fine-tuning mixtures).
    */
  def sampleExactK(df: DataFrame, idCol: String, strataCol: String,
      k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val w = Window.partitionBy(col(strataCol))
      .orderBy(xxhash64(col(idCol)), col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  /** Deterministic weighted sampling WITHOUT replacement (Efraimidis &
    * Spirakis 2006, A-ES): each row draws `u ∈ (0, 1]` from its id hash
    * and competes with key `ln(u) / weight`; the k LARGEST keys win.
    * Inclusion probability is proportional to weight (exactly the
    * sequential weighted draw), yet selection is a pure function of
    * (id, weight) — retry-stable and partitioning-independent, unlike
    * `rand()`-keyed sampling. This is the quality-weighted corpus
    * selection step ("sample 10M docs ∝ quality score") of a
    * pretraining pipeline.
    *
    * Plan shape: narrow hash + key projection, then a top-k — Spark
    * plans the `orderBy(...).limit(k)` as TakeOrderedAndProject
    * (per-partition heaps + single merge), never a global sort. The
    * hash is FNV-1a of the id STRING — replayable in the DuckDB oracle
    * (q133) down to the bit; `u` takes the top 53 hash bits (+1 so
    * u > 0), the exact-in-double range. Rows with weight <= 0 never
    * selected. Ties broken by id (keys collide only on id-hash
    * collision).
    *
    * Output: the input columns PLUS `sample_key` (the ln(u)/w
    * competition key — deliberately kept so callers can audit/replay
    * the draw; drop it if appending to a fixed-schema sink).
    */
  def weightedSample(df: DataFrame, idCol: String, weight: Column,
      k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val u = (shiftrightunsigned(fnv64(col(idCol).cast("string")), 11) + 1)
      .cast("double") / lit(9007199254740992.0) // 2^53
    df.withColumn("__w", weight)
      .filter(col("__w") > 0)
      .withColumn("sample_key", log(u) / col("__w"))
      .orderBy(col("sample_key").desc, col(idCol))
      .limit(k)
      .drop("__w")
  }

  /** Weighted corpus mixing: each source is deterministically downsampled
    * to its weight, tagged, unioned, and given a deterministic
    * `shuffle_key` — writing sorted by it interleaves sources
    * pseudo-randomly but REPRODUCIBLY (the mixing-ratio + shuffle step of
    * a pretraining data pipeline). The shuffle key re-hashes the gate
    * hash (`xxhash64(xxhash64(folded))`) — a structurally distinct input
    * for every row, whatever the id range — so kept-ness and position are
    * independent. No global sort here: the key is emitted, the writer's
    * range-partitioned sort realizes the order at scale.
    */
  def mixCorpora(sources: Seq[(String, DataFrame, Double)],
      idCol: String): DataFrame = {
    require(sources.nonEmpty && sources.forall(s => s._3 >= 0 && s._3 <= 1))
    val n = sources.size
    sources.zipWithIndex.map { case ((name, df, rate), idx) =>
      // distinct long per (source, row) — fold the source index in
      val folded = col(idCol) * n + lit(idx)
      df.filter(pmod(xxhash64(folded), lit(1000000L)) <
          lit(math.round(rate * 1000000L)))
        .withColumn("source_name", lit(name))
        .withColumn("shuffle_key", xxhash64(xxhash64(folded)))
    }.reduce(_ unionByName _)
  }

  /** PII redaction patterns — deliberately restricted to syntax shared by
    * Java regex and RE2 (no lookaround, no backrefs) so any engine in the
    * pipeline applies the identical policy. Order matters: email first
    * (an email contains digit runs a later phone pass could mangle).
    */
  val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", "\\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\\b", "<PHONE>"),
    ("ipv4", "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b", "<IP>"))

  /** Redact PII in `textCol`: returns the input plus `redacted` (all
    * patterns replaced, in [[piiPatterns]] order) and one `n_<kind>`
    * match-count column per pattern (counted on the PRE-redaction text).
    * Pure per-row expressions — narrow, codegen'd, no shuffle.
    */
  def redactPii(df: DataFrame, textCol: String): DataFrame = {
    val counted = piiPatterns.foldLeft(df) { case (d, (kind, pat, _)) =>
      d.withColumn(s"n_$kind", regexp_count(col(textCol), lit(pat)))
    }
    val redacted = piiPatterns.foldLeft(col(textCol)) {
      case (c, (_, pat, repl)) => regexp_replace(c, pat, repl)
    }
    counted.withColumn("redacted", redacted)
  }

  /** Credit-card candidate syntax: 13-19 digits with optional single
    * space/dash separators (RE2-safe, like [[piiPatterns]]). Syntax alone
    * over-matches badly — order ids, timestamps, hashes — which is why
    * redaction gates on the Luhn check.
    */
  val ccCandidatePattern = "\\b[0-9](?:[ -]?[0-9]){12,18}\\b"

  /** IBAN candidate syntax: 2 letters (country) + 2 digits (check) +
    * 11-30 alphanumerics — length 15-34, the real-world IBAN envelope.
    */
  val ibanCandidatePattern = "\\b[A-Z]{2}[0-9]{2}[A-Z0-9]{11,30}\\b"

  /** Luhn checksum over a candidate's digits (ISO/IEC 7812): from the
    * RIGHT, double every second digit, fold >9 to d-9, sum % 10 == 0.
    * Pure array-column arithmetic — no UDF: split to chars, keep digits,
    * reverse, indexed transform, aggregate sum.
    */
  def luhnValid(cand: Column): Column = {
    val digits = reverse(filter(split(cand, ""), _.rlike("^[0-9]$")))
    val contrib = transform(digits, (ch, i) => {
      val d = ch.cast("int")
      when(i % 2 === 1,
        when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)).otherwise(d)
    })
    size(digits).between(13, 19) &&
      aggregate(contrib, lit(0), (acc, x) => acc + x) % 10 === 0
  }

  /** ISO 13616 mod-97 IBAN check: move the first 4 chars to the end, map
    * letters to 10-35, and the resulting decimal number ≡ 1 (mod 97).
    * The number is up to 68 digits, so the fold keeps a running residue:
    * digit → acc*10+d mod 97, letter → acc*100+(ascii-55) mod 97 — pure
    * column arithmetic, no UDF, no big-int type.
    */
  def ibanValid(cand: Column): Column = {
    val rearranged = concat(substring(cand, 5, 34), substring(cand, 1, 4))
    val chars = filter(split(rearranged, ""), c => length(c) === 1)
    val residue = aggregate(chars, lit(0L), (acc, ch) =>
      when(ch.rlike("^[0-9]$"), (acc * 10 + ch.cast("long")) % 97)
        .otherwise((acc * 100 + (ascii(ch) - 55)) % 97))
    length(cand).between(15, 34) && residue === 1L
  }

  /** [[redactPii]] plus VALIDATED financial-identifier redaction: credit
    * cards gated on the Luhn checksum and IBANs on the ISO 13616 mod-97
    * check, so arbitrary digit runs (order ids, log timestamps) are NOT
    * redacted — the false-positive class a syntax-only pass mangles.
    *
    * Adds `n_ccard` / `n_iban` (count of VALIDATED matches, on the
    * pre-redaction text, occurrence-counted like the regex kinds) and
    * replaces each validated candidate in `redacted` with `<CC>` /
    * `<IBAN>` (literal replace of the candidate string, applied after
    * the regex kinds; candidates are extracted from the ORIGINAL text,
    * so a candidate consumed by an earlier pattern is a no-op here).
    *
    * Replacement order is LONGEST-FIRST and deterministic: IBANs (the
    * longer entity class) fold before CCs, and each distinct candidate
    * list is sorted length-descending (ties lexicographic) — so a
    * validated CC that occurs only INSIDE a validated IBAN (or inside a
    * longer validated CC) cannot consume the longer entity's literal
    * before it is replaced. Residual contract: literal replacement is
    * global per candidate string, so a validated candidate that also
    * occurs inside a longer NON-candidate run is redacted there too —
    * occurrence-position anchoring needs match offsets, which the
    * column-only kernel (deliberately UDF-free) does not carry.
    * Everything is per-row array/column arithmetic — narrow, no shuffle,
    * no UDF; the candidate arrays are bounded by matches-per-document.
    */
  def redactPiiValidated(df: DataFrame, textCol: String): DataFrame = {
    val base = redactPii(df, textCol)
    val ccCands = filter(
      regexp_extract_all(col(textCol), lit(ccCandidatePattern), lit(0)),
      luhnValid(_))
    val ibanCands = filter(
      regexp_extract_all(col(textCol), lit(ibanCandidatePattern), lit(0)),
      ibanValid(_))
    // length-desc (ties lexicographic) — the deterministic longest-first
    // fold order, mirrored by the DuckDB oracle's padded-key sort
    def lenDesc(a: Column): Column = array_sort(a, (l, r) =>
      when(length(l) =!= length(r), length(r) - length(l))
        .when(l < r, -1).when(l > r, 1).otherwise(0))
    base
      .withColumn("n_ccard", size(ccCands))
      .withColumn("n_iban", size(ibanCands))
      .withColumn("redacted",
        aggregate(lenDesc(array_distinct(ccCands)),
          aggregate(lenDesc(array_distinct(ibanCands)), col("redacted"),
            (t, c) => replace(t, c, lit("<IBAN>"))),
          (t, c) => replace(t, c, lit("<CC>"))))
  }

  /** Benchmark decontamination: flag training documents sharing any
    * word-`n`-gram with an eval/benchmark set (the standard n-gram
    * contamination check). Returns (id, n_hits, contaminated) per train
    * doc, where n_hits counts DISTINCT contaminated n-grams.
    *
    * Both sides reduce to 8-byte FNV n-gram hashes before the join — the
    * shuffle carries (hash, id), never text. The eval side is a benchmark
    * suite (tiny vs the corpus): deduped hashes broadcast, so the corpus
    * is never shuffled at all. FNV-64 collisions across a benchmark's
    * ~1e6 n-grams are ~1e-7 spurious flags — acceptable for a flagging
    * pass whose hits get reviewed; a paranoid pass re-checks hits on the
    * n-gram string.
    */
  def decontaminate(train: DataFrame, eval: DataFrame, idCol: String,
      textCol: String, n: Int = 8): DataFrame = {
    def grams(df: DataFrame, out: String): DataFrame =
      gramHashes(df, idCol, textCol, n, out).distinct()
    val evalGrams = grams(eval, "eval_id").select("gh").distinct()
    grams(train, "id")
      .join(broadcast(evalGrams), Seq("gh"), "left_semi")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_hits"))
      .withColumn("contaminated", lit(true))
  }

  /** Gate-TUNING sweep of [[decontaminate]] over several gram lengths
    * in ONE corpus pass — the recall/precision-vs-n curve a data
    * curator actually dials (q348 scores the 8-gram gate; this sweeps
    * the knob). Each doc is tokenized ONCE; every (n, gram-hash) pair
    * for all requested `ns` comes out of a single tagged explode (the
    * q315 multi-τ pattern applied to gram length — no per-n rescans),
    * the benchmark side's tagged hash set broadcasts, and hits roll up
    * per (id, n). Returns (id, n, n_hits, contaminated).
    *
    * Scale: identical to [[decontaminate]] — the shuffle carries
    * (n, hash, id), never text; gram volume is Σ_n (tokens−n+1) ≈
    * |ns| × corpus grams, the honest cost of sweeping |ns| settings in
    * one pass (still far below |ns| separate corpus scans, which pay
    * |ns| tokenizations AND |ns| full reads).
    */
  def decontaminateSweep(train: DataFrame, eval: DataFrame, idCol: String,
      textCol: String, ns: Seq[Int] = Seq(4, 6, 8, 13)): DataFrame = {
    require(ns.nonEmpty && ns.forall(_ >= 1) && ns.distinct == ns,
      "ns must be distinct positive gram lengths")
    def tagged(df: DataFrame, out: String): DataFrame =
      df.select(col(idCol).as(out), tokens(col(textCol)).as("__toks"))
        .select(col(out), explode(concat(ns.map(n =>
          transform(wordShinglesOf(col("__toks"), n),
            g => struct(lit(n).as("n"), fnv64(g).as("gh")))): _*))
          .as("__t"))
        .select(col(out), col("__t.n").as("n"), col("__t.gh").as("gh"))
        .distinct()
    val evalGrams = tagged(eval, "eval_id").select("n", "gh").distinct()
    tagged(train, "id")
      .join(broadcast(evalGrams), Seq("n", "gh"), "left_semi")
      .groupBy(col("id"), col("n"))
      .agg(count(lit(1)).as("n_hits"))
      .withColumn("contaminated", lit(true))
  }

  /** One row per (doc, n-gram occurrence): (`out`, gh) with gh the FNV-64
    * of the word n-gram. NOT deduped — callers dedup after any cheap
    * pre-filters so the filters see the narrow pre-aggregation stream.
    */
  private def gramHashes(df: DataFrame, idCol: String, textCol: String,
      n: Int, out: String): DataFrame =
    df.select(col(idCol).as(out), tokens(col(textCol)).as("__toks"))
      .select(col(out), explode(wordShinglesOf(col("__toks"), n)).as("__g"))
      .select(col(out), fnv64(col("__g")).as("gh"))

  /** SEMANTIC decontamination — the embedding-space complement of the
    * n-gram check: flag training documents whose embedding sits within
    * cosine `threshold` of ANY eval/benchmark vector (paraphrased or
    * translated contamination that shares no 8-gram). Banded
    * hyperplane-LSH candidates between the two sets (the
    * [[Dedup.embeddingNearDups]] OR-construction, cross-set), exact
    * cosine rerank, then per-train-doc rollup: (id, n_hits, max_cosine
    * 4dp, contaminated).
    *
    * Scale: the eval side is a benchmark suite — its band keys AND its
    * vectors broadcast; the corpus is scanned once and never shuffled
    * (candidates ∝ true near-matches, the banded-recall contract of the
    * self-join variant applies unchanged).
    */
  def decontaminateSemantic(train: DataFrame, eval: DataFrame,
      threshold: Double, numBands: Int = 15, planesPerBand: Int = 4,
      dim: Int = 64, seed: Long = 42L): DataFrame = {
    // r13: the train corpus fed two plan branches (signature build +
    // vector join) — staged once, band keys derive from the staged
    // vectors (the q34 bandedLshTopK discipline; one corpus scan).
    val tv = Similarity.withNorm(train, "id", "tv", "tn")
      .transform(Stage.scoped(eager = false))
    val tb = Similarity.bandKeysStaged(tv, "id", "tv",
      numBands, planesPerBand, dim, seed)
    val eb = Similarity.bandKeys(eval, "eval_id", numBands, planesPerBand, dim, seed)
    // Same exchange-first shape as [[decontaminateSemanticServed]]:
    // repartition the raw near-unique (id, eval_id) pairs by id before
    // the dedup so the distinct, the vector join, and the final per-id
    // rollup all reuse one narrow exchange.
    val cand = tb.join(broadcast(eb), Seq("bk"))
      .select(col("id"), col("eval_id"))
      .repartition(col("id"))
      .distinct()
    val ev = Similarity.withNorm(eval, "eval_id", "ev", "en")
    // same shuffle-hash shape as the served variant: stream the
    // candidate pairs, build on the (small per-partition) vector side
    cand.join(tv.hint("shuffle_hash"), Seq("id"))
      .join(broadcast(ev), Seq("eval_id"))
      .withColumn("cosine",
        Similarity.pairCosine(col("tv"), col("ev"), col("tn"), col("en")))
      .filter(col("cosine") >= threshold)
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_hits"),
        round(max(col("cosine")), 4).as("max_cosine"))
      .withColumn("contaminated", lit(true))
  }

  /** Release-shard manifest: deterministic hash sharding
    * (xxh64(id) mod n) with per-shard doc/token/byte counts and an
    * order-independent content checksum (bit_xor of per-doc FNV-64) —
    * the table a dataset release ships next to its shards so a consumer
    * can verify what they downloaded without re-reading the corpus, and
    * the producer can diff two builds shard-by-shard. One partial-agg
    * pass; the checksum is xor (commutative, no overflow), so the
    * manifest is invariant to row order and partitioning.
    */
  def shardManifest(df: DataFrame, idCol: String, textCol: String,
      nShards: Int): DataFrame = {
    require(nShards >= 1, "nShards must be >= 1")
    df.select(pmod(xxhash64(col(idCol)), lit(nShards.toLong)).as("shard"),
        col(textCol).as("__t"))
      .select(col("shard"),
        // explicit null gate, NOT coalesce(size(...), 0): with ANSI off
        // size(null) is the legacy -1 sentinel (non-null!), which a
        // coalesce would happily sum into the token totals
        when(col("__t").isNull, lit(0))
          .otherwise(size(tokens(col("__t")))).as("__ntok"),
        coalesce(octet_length(col("__t")), lit(0)).as("__nb"),
        fnv64(col("__t")).as("__h"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__ntok")).as("n_tokens"),
        sum(col("__nb")).as("n_bytes"),
        expr("bit_xor(__h)").as("content_checksum"))
  }

  /** [[decontaminateSemantic]] SERVED from a persisted LSH index — the
    * steady-state shape for the one heavy lane that still re-signatured
    * its corpus per run (round-8 verdict #5): the corpus's band keys
    * and normed vectors live in a [[Similarity.writeLshIndex]] layout
    * built ONCE (and grown with [[Similarity.appendToLshIndex]] under
    * the frozen-plane contract); per eval snapshot only the EVAL side
    * is signatured, its (band, key) pairs become a partition-pruning
    * disjunction over the `bands` directories, and the `vecs` table is
    * read just for surviving candidates. Bit-identical to the in-query
    * form with the stored parameters: same candidate rule (any shared
    * band key), same exact-cosine gate, same rollup.
    *
    * The eval side never lands on the driver: its fused-band-key frame
    * is BROADCAST against the stored layout and dynamic partition
    * pruning turns the reused broadcast into a partition filter on the
    * `bands` scan (`bk IN (...)` over the fused band·2³²+key column —
    * pair-exact, see [[Similarity.fusedBandKey]]), so a 10⁵-key eval
    * snapshot is a distributed frame end to end — the only eval-side
    * action is the emptiness guard (the old per-pair OR-disjunction
    * literal was driver-bounded and blew up Catalyst analysis time
    * first).
    *
    * `probeFlips` = 1 enables multi-probe on the eval side
    * ([[Similarity.multiProbeKeys]]): with a wide-key index
    * (planesPerBand ≫ the 4-bit default) candidates per band shrink
    * 2^−r while the flip set restores the near-boundary matches — the
    * lever that holds decontam recall as a growing corpus forces the
    * index selective (the r12 sf100 finding: at 4-bit keys the rerank
    * CPU is candidate-volume-bound BY CONSTRUCTION, corpus/16 per
    * band).
    */
  def decontaminateSemanticServed(eval: DataFrame, indexPath: String,
      threshold: Double, probeFlips: Int = 0): DataFrame = {
    val spark = eval.sparkSession
    val m = Similarity.loadLshMeta(spark, indexPath)
    val eb = Similarity.bandKeys(eval, "eval_id", m.numBands,
      m.planesPerBand, m.dim, m.seed)
      .select(col("eval_id"), col("bk.band").as("__band"),
        explode(Similarity.multiProbeKeys(col("bk.key"), m.planesPerBand,
          probeFlips)).as("__key"))
      .select(col("eval_id"),
        Similarity.fusedBandKey(col("__band"), col("__key")).as("bk"))
      .withColumn("pb", Similarity.dirBucket(col("bk")))
    require(!eb.isEmpty, "no eval band keys (all eval zero-norm?)")
    // Exchange the RAW (id, eval_id) candidate rows by id BEFORE the
    // dedup (the gopherRepetition exchange-first lesson): (id, eval_id)
    // is near-unique, so a scan-split-shaped partial distinct builds a
    // giant hash map for almost no reduction — at sf100 that was
    // 209.6 GB of memory spill (BENCH_sf100 r11). hash(id) satisfies
    // the clustering of the distinct on (id, eval_id), of the join with
    // `vecs` on id, and of the final per-id rollup, so ONE narrow
    // exchange (two longs per row) replaces three agg/join exchanges
    // and every aggregation runs on partition-bounded state.
    val cand = spark.read.parquet(s"$indexPath/bands")
      .join(broadcast(eb), Seq("pb", "bk"))
      .select(col("id"), col("eval_id"))
      .repartition(col("id"))
      .distinct()
    val tv = spark.read.parquet(s"$indexPath/vecs")
      .select(col("id"), col("v").as("tv"), col("nrm").as("tn"))
    val ev = Similarity.withNorm(eval, "eval_id", "ev", "en")
    // shuffle-HASH join, vecs as build side: the candidate frame is the
    // corpus-dependent side (sf100: ~10⁹ raw pairs) and an SMJ would
    // EXTERNAL-SORT it per partition — measured 47–54 GB of the
    // remaining memory spill; the vecs build map is |corpus|/partitions
    // rows (sf100: 2M × 270 B / 1024 ≈ 0.5 MB) and candidates stream
    // through unsorted
    cand.join(tv.hint("shuffle_hash"), Seq("id"))
      .join(broadcast(ev), Seq("eval_id"))
      .withColumn("cosine",
        Similarity.pairCosine(col("tv"), col("ev"), col("tn"), col("en")))
      .filter(col("cosine") >= threshold)
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_hits"),
        round(max(col("cosine")), 4).as("max_cosine"))
      .withColumn("contaminated", lit(true))
  }

  /** [[decontaminate]] restructured for eval sets too large to broadcast
    * exactly: a Bloom filter over the eval n-gram hashes (built
    * distributed, collected as ONE ~`1.2·log2(1/fpp)·items/8`-byte
    * sketch, re-embedded as a literal) prunes the corpus side as a
    * narrow, codegen'd scan filter BEFORE the first shuffle; the
    * survivors — corpus grams that might be contaminated, a sliver of
    * the corpus at any realistic contamination rate — then get an EXACT
    * shuffle semi-join against the true eval set to kill the Bloom false
    * positives. Output is therefore exactly [[decontaminate]]'s, but the
    * corpus-side distinct and join only ever see candidate grams, and no
    * full eval set is broadcast: the same plan survives a 1e9-gram
    * benchmark suite where the 8 GB exact broadcast of q92's shape
    * cannot.
    *
    * The one driver hop is the sketch itself (bounded by
    * `expectedEvalGrams` and `fpp`, e.g. ~180 MB at 1e9 grams / 1% fpp —
    * a documented bounded collect, same contract as IvfIndex centroids).
    */
  def decontaminateBloom(train: DataFrame, eval: DataFrame, idCol: String,
      textCol: String, n: Int = 8, expectedEvalGrams: Long = 1000000L,
      fpp: Double = 0.01): DataFrame = {
    require(expectedEvalGrams > 0 && fpp > 0 && fpp < 1)
    val evalGrams = gramHashes(eval, idCol, textCol, n, "eval_id")
      .select("gh").distinct()
    val numBits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(expectedEvalGrams, fpp)
    val bloomBytes = evalGrams.agg(ColumnBridge.column(
      new BloomFilterAggregate(ColumnBridge.expression(col("gh")),
        ColumnBridge.expression(lit(expectedEvalGrams)),
        ColumnBridge.expression(lit(numBits))).toAggregateExpression())
      .as("bf")).head().getAs[Array[Byte]]("bf")
    val mightContain = ColumnBridge.column(BloomFilterMightContain(
      ColumnBridge.expression(lit(bloomBytes)),
      ColumnBridge.expression(col("gh"))))
    gramHashes(train, idCol, textCol, n, "id")
      .filter(mightContain)
      .distinct()
      .join(evalGrams, Seq("gh"), "left_semi") // exact rerank: kills Bloom FPs
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_hits"))
      .withColumn("contaminated", lit(true))
  }

  /** Corpus snapshot diff — the data-versioning report between two
    * crawls/ingests: per-id full outer join comparing content, rows
    * classified added / removed / changed / unchanged with counts.
    * Delegates the per-row classification to
    * [[graft.operators.UrlOps.snapshotDiff]] (one copy of the
    * presence-marker / null-safe-compare logic) and aggregates. Exact
    * counts; content compare is null-safe equality (hash at fleet
    * scale — same 64-bit-collision contract as the dedup family).
    */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, idCol: String,
      contentCol: String): DataFrame =
    UrlOps.snapshotDiff(oldDf, newDf, idCol, contentCol)
      .select(col("change").as("status"))
      .groupBy(col("status")).agg(count(lit(1)).as("n"))

  /** Rank-based score normalization (quantile scaling) per group: maps a
    * raw score column to [0, 1] by `(rank − 1) / (n − 1)` with RANK
    * semantics (ties share the min rank — deterministic, oracle-exact;
    * average-rank tie handling would need a second window). The standard
    * calibration-free way to blend heterogeneous quality scores before
    * mixing corpora.
    *
    * One shuffle on the group key; the rank window sorts within groups
    * only. All outputs are exact integer quotients. Groups of size 1
    * get 0.0 (defined, not 0/0).
    */
  def rankNormalize(df: DataFrame, groupCol: String, scoreCol: String,
      outCol: String = "score_norm"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col(scoreCol))
    val cw = org.apache.spark.sql.expressions.Window.partitionBy(col(groupCol))
    df.withColumn("__rk", rank().over(w))
      .withColumn("__n", count(lit(1)).over(cw))
      .withColumn(outCol,
        when(col("__n") > 1,
          (col("__rk") - 1).cast("double") / (col("__n") - 1))
          .otherwise(lit(0.0)))
      .drop("__rk", "__n")
  }

  /** QUANTILE normalization across groups: map each row's value onto
    * the POOLED distribution's value at the same fractional rank —
    * after it, every group's value distribution is (up to nearest-rank
    * granularity) the pooled one. The cross-source calibration step
    * beyond [[rankNormalize]] (which only uniformizes WITHIN a group):
    * here a verbose source and a terse source land on one comparable
    * length/score scale, the microarray-normalization classic applied
    * to corpus stats.
    *
    * Exactness: within-group fractional rank is the RANGE-frame count
    * of values ≤ v over the group size (cume_dist's exact integer
    * numerator); the pooled target position is
    * ceil(c·N/n) = (c·N + n − 1) div n — all BIGINT; the pooled order
    * statistic at that position is read off the DISTINCT-value
    * cumulative frame, so every output is an exact input value.
    *
    * Scale shape: one shuffle on the group for the rank window; the
    * pooled distribution aggregates to (value, count) — bounded by
    * DISTINCT values, not rows — its cumulative window runs on that
    * collapsed frame, and the position lookup is a broadcast range
    * join against it. No corpus-wide row-number.
    */
  def quantileNormalize(df: DataFrame, groupCol: String, valueCol: String,
      outCol: String = "value_norm"): DataFrame = {
    val base = df.filter(col(valueCol).isNotNull)
    val wr = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col(valueCol))
      .rangeBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cw = org.apache.spark.sql.expressions.Window.partitionBy(col(groupCol))
    val pooled = base.groupBy(col(valueCol).as("__pv"))
      .agg(count(lit(1)).as("__pc"))
      .withColumn("__cum", sum(col("__pc")).over(
        org.apache.spark.sql.expressions.Window.orderBy(col("__pv"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
    val n = base.groupBy().agg(count(lit(1)).as("__tot"))
    val ranked = base
      .withColumn("__c", count(lit(1)).over(wr))
      .withColumn("__gn", count(lit(1)).over(cw))
    // the target position is pos = ceil(c·tot / gn); both range bounds
    // multiply through by gn (> 0), so the lookup is pure integer
    // multiplication — no division anywhere:
    //   pos ≤ cum        ⇔  c·tot ≤ cum·gn
    //   pos > cum − pc   ⇔  c·tot > (cum − pc)·gn
    // The products run in DECIMAL(38,0): BIGINT×BIGINT silently wraps
    // once c·tot passes 2^63 (~3e9 rows with a dominant group), which
    // would map rows to wrong pooled values or drop them
    val lookup = pooled.crossJoin(broadcast(n))
    def d38(c: Column): Column = c.cast("decimal(38,0)")
    ranked
      .join(broadcast(lookup),
        d38(col("__c")) * d38(col("__tot")) <=
          d38(col("__cum")) * d38(col("__gn")) &&
          d38(col("__c")) * d38(col("__tot")) >
            (d38(col("__cum")) - d38(col("__pc"))) * d38(col("__gn")))
      .withColumn(outCol, col("__pv"))
      .drop("__pv", "__pc", "__cum", "__c", "__gn", "__tot")
  }

  /** Data-mixture audit: per group (language / source / domain), doc and
    * token counts, the realized corpus share, the divergence from a
    * target mixture, and the per-group KL contribution
    * share·ln(share/target) — the report a mixture-weight tuner reads
    * before re-weighting (the audit counterpart of [[mixCorpora]]).
    *
    * One groupBy over the corpus (token counts partial-agg map-side);
    * the per-group shares are exact integer quotients; only the KL term
    * is ln-derived (4dp, the standard ulp rounding). Groups missing from
    * `targets` get target share 0 and a null KL term (flagged, not
    * folded into a division by zero).
    */
  def mixtureAudit(df: DataFrame, groupCol: String, textCol: String,
      targets: Map[String, Double]): DataFrame = {
    val targetCol = targets.foldLeft(lit(0.0)) { case (acc, (k, v)) =>
      when(col(groupCol) === k, lit(v)).otherwise(acc)
    }
    val perGroup = df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("docs"),
        sum(graft.functions.TextFunctions.tokenCount(col(textCol)))
          .as("tokens"))
    val total = perGroup.agg(sum(col("docs")).as("__n"))
    perGroup.crossJoin(broadcast(total))
      .select(col(groupCol), col("docs"), col("tokens"),
        (col("docs").cast("double") / col("__n")).as("share"),
        targetCol.as("target_share"),
        (col("docs").cast("double") / col("__n") - targetCol).as("excess"),
        when(targetCol > 0,
          round((col("docs").cast("double") / col("__n")) *
            log((col("docs").cast("double") / col("__n")) / targetCol), 4))
          .as("kl_term"))
  }

  /** Deterministic cross-label negative sampling for contrastive
    * training: each anchor row draws up to `k` negatives (rows with a
    * DIFFERENT `labelCol` value), one per probe round, by hash-bucket
    * probing — anchor in bucket b probes buckets b+1 .. b+k (mod B) and
    * takes, per round, the candidate minimizing the pair key
    * (fnv(anchor) XOR fnv(candidate), signed, candidate-id tie-break).
    * No RNG: the sample is a pure function of the ids, so it is
    * reproducible, partition-layout-independent, and SQL-replayable.
    *
    * Scale shape: candidates shuffle once on their bucket; the probe
    * join is an equi-join on the bucket id fanning each anchor out ×k,
    * so pair volume is n·k·(n/B) — pick B ∝ n to hold bucket size
    * constant (n·k·c pairs total, never n²). The per-doc fnv64 hash is
    * computed once and the pair key is a single XOR, both codegen.
    * `buckets` must be a power of two (the oracle replays Spark's
    * signed pmod as an unsigned mod — the q136 argument). A probe round
    * finding no cross-label candidate emits nothing for that round.
    */
  def negativeSample(df: DataFrame, idCol: String, labelCol: String,
      k: Int = 4, buckets: Int = 256): DataFrame = {
    require((buckets & (buckets - 1)) == 0, "buckets must be a power of two")
    require(k >= 1 && k < buckets, s"k in [1, buckets), got $k")
    val base = df.select(col(idCol).as("id"), col(labelCol).as("lab"))
      .withColumn("__h", fnv64(col("id").cast("string")))
      .withColumn("__b", pmod(col("__h"), lit(buckets.toLong)))
    val cands = base.select(col("__b").as("__cb"), col("id").as("cid"),
      col("lab").as("clab"), col("__h").as("__ch"))
    base.select(col("id"), col("lab"), col("__b"), col("__h"),
        explode(array((1 to k).map(lit): _*)).as("r"))
      .withColumn("__pb", pmod(col("__b") + col("r"), lit(buckets.toLong)))
      .join(cands, col("__pb") === col("__cb"))
      .filter(col("clab") =!= col("lab"))
      .groupBy(col("id"), col("r"))
      .agg(min(struct(col("__h").bitwiseXOR(col("__ch")).as("pk"),
        col("cid").as("cid"), col("clab").as("clab"))).as("__m"))
      .select(col("id").as(idCol), col("r").cast("long").as("probe"),
        col("__m.cid").as("neg_id"), col("__m.clab").as("neg_label"))
  }

  /** Cross-source duplicate-leakage matrix: for every source pair, how
    * many shared document identities appear in BOTH — the "is my test
    * split contaminated by my train split's sources?" report at source
    * granularity, plus each side's share. Identity is the md5 of the
    * first `prefixChars` characters (0 = the whole text): head
    * fingerprints are the standard cheap heuristic because boilerplate
    * and copy-paste share openings long before they share full bodies.
    * The doc-level q23/q92 exact machinery aggregated to the level
    * data-mixing decisions are made at.
    *
    * Exact integers + single-divide 4dp shares. One (source, hash)
    * distinct shuffle; the pair join carries only hashes.
    */
  def crossSourceLeakage(df: DataFrame, groupCol: String,
      textCol: String, prefixChars: Int = 0): DataFrame = {
    val key = if (prefixChars > 0) substring(col(textCol), 1, prefixChars)
      else col(textCol)
    val sh = df.filter(col(textCol).isNotNull)
      .select(col(groupCol).as("g"), md5(key).as("h"))
      .distinct()
    val sizes = sh.groupBy(col("g")).agg(count(lit(1)).as("nd"))
    val inter = sh.select(col("g").as("g1"), col("h"))
      .join(sh.select(col("g").as("g2"), col("h")), Seq("h"))
      .filter(col("g1") < col("g2"))
      .groupBy(col("g1"), col("g2")).agg(count(lit(1)).as("n_shared"))
    inter
      .join(broadcast(sizes.select(col("g").as("g1"), col("nd").as("__n1"))),
        Seq("g1"))
      .join(broadcast(sizes.select(col("g").as("g2"), col("nd").as("__n2"))),
        Seq("g2"))
      .select(col("g1"), col("g2"), col("n_shared"),
        round(col("n_shared").cast("double") / col("__n1").cast("double"), 4)
          .as("share_of_g1"),
        round(col("n_shared").cast("double") / col("__n2").cast("double"), 4)
          .as("share_of_g2"))
  }

  /** Temperature-scaled mixture weights at τ = 0.5 (the multilingual-
    * sampling formula: p_s ∝ n_s^τ — upsample the tail, downsample the
    * head): per source, the raw token share, the √-scaled share, and
    * the resulting boost factor. τ is FIXED at 0.5 because √ is the
    * one power IEEE guarantees correctly rounded — an arbitrary-τ
    * pow() would reopen the libm cross-engine gap the engine
    * deliberately avoids.
    *
    * Counts are exact integers; the √ denominator folds in
    * group-sorted order over the handful of sources; every share is a
    * fixed double sequence, 4dp.
    */
  def temperatureMixture(df: DataFrame, groupCol: String,
      textCol: String): DataFrame = {
    // size(NULL) is −1 under legacy sizeOfNull — gate on the text column
    val counts = df.select(col(groupCol).as("g"),
        when(col(textCol).isNull, 0)
          .otherwise(size(graft.functions.TextFunctions.tokens(col(textCol))))
          .as("__n"))
      .groupBy(col("g")).agg(sum(col("__n")).cast("long").as("n_tokens"))
    val stats = counts.agg(
      sum(col("n_tokens")).as("__tot"),
      aggregate(
        transform(array_sort(collect_list(
          struct(col("g"), sqrt(col("n_tokens").cast("double")).as("sq")))),
          s => s.getField("sq")),
        lit(0.0), (acc, v) => acc + v).as("__den"))
    counts.crossJoin(broadcast(stats))
      .withColumn("__raw",
        col("n_tokens").cast("double") / col("__tot").cast("double"))
      .withColumn("__tmp",
        sqrt(col("n_tokens").cast("double")) / col("__den"))
      .select(col("g").as(groupCol), col("n_tokens"),
        round(col("__raw"), 4).as("raw_share"),
        round(col("__tmp"), 4).as("temp_share"),
        round(col("__tmp") / col("__raw"), 4).as("boost"))
  }
}
