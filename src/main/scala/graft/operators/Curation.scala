package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/** End-to-end training-data curation pipeline — the composite operator a
  * pretraining data team actually runs: language gate → quality gate →
  * exact dedup → (optional) near-dup removal → per-survivor token stats +
  * a funnel report.
  *
  * Everything before near-dup removal is narrow + one hash shuffle (the
  * content dedup); near-dup removal adds the bounded LSH shape from
  * [[Dedup.minHashNearDups]]. The funnel counts come from ONE aggregation
  * over a stage-labeled union, not one count() job per stage.
  */
object Curation {

  final case class Config(
      allowedLangs: Option[Set[String]] = None,
      minQuality: Double = 0.3,
      minTokens: Int = 5,
      nearDupJaccard: Option[Double] = None)

  final case class FunnelReport(
      input: Long, afterLangGate: Long, afterQualityGate: Long,
      afterExactDedup: Long, afterNearDedup: Long)

  /** One source of truth for the MinHash width every curation near-dup
    * pass uses — [[curate]] and [[funnel]] must describe the SAME
    * pipeline.
    */
  private val NearDupNumHashes = 16

  private def langGate(docs: DataFrame, config: Config,
      langCol: String): DataFrame =
    config.allowedLangs match {
      case Some(langs) => docs.filter(col(langCol).isin(langs.toSeq: _*))
      case None => docs
    }

  /** Exact-dedup winners: min id per content value. */
  private def exactWinnerIds(rows: DataFrame, idCol: String,
      textCol: String): DataFrame =
    rows.groupBy(col(textCol)).agg(min(col(idCol)).as(idCol)).select(idCol)

  /** Near-dup losers (the larger id of each pair; banding derives from
    * the threshold inside minHashNearDups — bandingFor: S-curve
    * midpoint ≤ τ, pairs at τ recalled with high probability).
    */
  private def nearDupLoserIds(rows: DataFrame, idCol: String,
      textCol: String, tau: Double): DataFrame =
    Dedup.minHashNearDups(rows, idCol, textCol,
      numHashes = NearDupNumHashes, jaccardThreshold = tau)
      .select(col("id_b").as(idCol)).distinct()

  /** The STATELESS prefix of the funnel (lang allow-list → token/quality
    * scoring → thresholds): pure narrow Column expressions, so the same
    * function curates a batch DataFrame or a `readStream` DataFrame
    * unchanged (append-mode safe — no aggregation, no state). The
    * stateful leg (dedup) stays batch-side in [[curate]]; q120 drives
    * THIS code through Structured Streaming and oracle-checks the final
    * files against the batch SQL.
    */
  def statelessGates(docs: DataFrame, config: Config = Config(),
      idCol: String = "doc_id", textCol: String = "text",
      langCol: String = "lang"): DataFrame =
    langGate(docs, config, langCol).select(
      col(idCol), col(textCol),
      tokenCount(col(textCol)).as("n_tokens"),
      TextAnalysis.qualityScore(col(textCol)).as("quality_score"))
      .filter(col("n_tokens") >= config.minTokens &&
        col("quality_score") >= config.minQuality)

  /** Curated documents: doc_id, text, n_tokens, quality_score. Stable
    * winner selection (min doc_id per content group / near-dup group).
    */
  def curate(docs: DataFrame, config: Config = Config(),
      idCol: String = "doc_id", textCol: String = "text",
      langCol: String = "lang"): DataFrame = {
    val qualityGated = statelessGates(docs, config, idCol, textCol, langCol)
    val exactDeduped = qualityGated
      .join(exactWinnerIds(qualityGated, idCol, textCol),
        Seq(idCol), "left_semi")
    config.nearDupJaccard match {
      case None => exactDeduped
      case Some(tau) =>
        exactDeduped.join(nearDupLoserIds(exactDeduped, idCol, textCol, tau),
          Seq(idCol), "left_anti")
    }
  }

  /** Stage funnel: the shared lineage (lang + quality gates, the expensive
    * tokenize/score pass) is computed ONCE and cached; every later stage —
    * including the near-dup LSH — derives from the cached frame, and all
    * stage counts land in one union-of-labeled-counts job (no per-stage
    * count() round-trips — mirrors the reference's N+1 audit fix).
    */
  def funnel(docs: DataFrame, config: Config = Config(),
      idCol: String = "doc_id", textCol: String = "text",
      langCol: String = "lang"): FunnelReport = {
    val langGated = langGate(docs, config, langCol)
    // the SAME gate/dedup logic as [[curate]], via the shared helpers —
    // the funnel must report the pipeline curate actually ships (lang
    // gate applied above, so statelessGates runs with it disabled)
    val qualityGated = statelessGates(langGated,
      config.copy(allowedLangs = None), idCol, textCol, langCol)
      .select(col(idCol), col(textCol))
    qualityGated.persist()
    try {
      val exactDeduped = exactWinnerIds(qualityGated, idCol, textCol)
      val exactRows = qualityGated.join(exactDeduped, Seq(idCol), "left_semi")
      val near = config.nearDupJaccard match {
        case None => exactDeduped
        case Some(tau) =>
          exactDeduped.join(
            nearDupLoserIds(exactRows, idCol, textCol, tau),
            Seq(idCol), "left_anti")
      }
      val stages: Seq[(String, DataFrame)] = Seq(
        "input" -> docs.select(col(idCol)),
        "lang" -> langGated.select(col(idCol)),
        "quality" -> qualityGated.select(col(idCol)),
        "exact" -> exactDeduped,
        "near" -> near)
      val counts = stages.map { case (name, df) =>
        df.select(lit(name).as("stage")).groupBy("stage").count()
      }.reduce(_.unionByName(_))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      FunnelReport(
        input = counts.getOrElse("input", 0L),
        afterLangGate = counts.getOrElse("lang", 0L),
        afterQualityGate = counts.getOrElse("quality", 0L),
        afterExactDedup = counts.getOrElse("exact", 0L),
        afterNearDedup = counts.getOrElse("near", 0L))
    } finally qualityGated.unpersist()
  }

  /** One-row corpus datasheet — the "Datasheets for Datasets"-style
    * summary a release ships with: document/source/token/vocabulary
    * counts, exact-duplicate census (md5 identity, the q241
    * convention), and token-length centrals. Every number is an exact
    * integer or a single divide; the median uses the aggregated
    * distinct-length frame (q214 stance).
    */
  def datasheet(df: DataFrame, groupCol: String, textCol: String): DataFrame = {
    val base = df.select(col(groupCol).as("g"), col(textCol).as("t"),
      tokens(col(textCol)).as("__toks"))
    val counts = base.agg(
      count(lit(1)).as("n_docs"),
      count_distinct(col("g")).as("n_sources"),
      sum(when(col("t").isNull, 1L).otherwise(0L)).as("n_null_text"),
      // size(NULL) is −1 under legacy sizeOfNull, not NULL — gate on
      // the text column, never coalesce the size
      sum(when(col("t").isNull, 0L)
        .otherwise(size(col("__toks")).cast("long"))).as("n_tokens"),
      count_distinct(when(col("t").isNotNull, md5(col("t"))))
        .as("__n_distinct"))
    val vocab = base.select(explode(col("__toks")).as("tok"))
      .agg(count_distinct(col("tok")).as("n_vocab"))
    val lens = base.filter(col("t").isNotNull)
      .select(size(col("__toks")).cast("long").as("len"))
    val lenGrp = lens.groupBy(col("len")).agg(count(lit(1)).as("c"))
    val wv = org.apache.spark.sql.expressions.Window.orderBy(col("len"))
    val med = lenGrp.withColumn("__cu", sum(col("c")).over(wv))
      .crossJoin(broadcast(lens.agg(count(lit(1)).as("__nl"))))
      .agg(min(when(col("__cu") >= expr("(50 * __nl + 99) div 100"),
        col("len"))).as("p50_doc_tokens"))
    counts.crossJoin(broadcast(vocab)).crossJoin(broadcast(med))
      .select(col("n_docs"), col("n_sources"), col("n_null_text"),
        col("n_tokens"), col("n_vocab"),
        (col("n_docs") - col("n_null_text") - col("__n_distinct"))
          .as("n_exact_dups"),
        round((col("n_docs") - col("n_null_text") - col("__n_distinct"))
          .cast("double") /
          (col("n_docs") - col("n_null_text")).cast("double"), 4)
          .as("dup_rate"),
        round(col("n_tokens").cast("double") /
          (col("n_docs") - col("n_null_text")).cast("double"), 4)
          .as("mean_doc_tokens"),
        col("p50_doc_tokens"))
  }
}
