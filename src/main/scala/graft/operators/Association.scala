package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Frequent-itemset primitives (market-basket association mining,
  * Agrawal & Srikant 1994): co-occurring item pairs with support,
  * confidence and lift — the OLAP-side companion of the recommendation
  * stack.
  */
object Association {

  /** Frequent item PAIRS with support ≥ `minSupport` baskets.
    *
    * Scale shape (the a-priori property doing the pruning):
    *   - distinct (basket, item) once;
    *   - items below `minSupport` are dropped BEFORE pairing (a pair
    *     can't be frequent if either member isn't — the a-priori
    *     downward-closure), which caps the per-basket self-join width;
    *   - the pair self-join is an EQUI-join on the basket key (shuffle
    *     co-partitioned), item-ordered (i1 < i2) so each pair counts
    *     once;
    *   - supports/confidences/lifts are fixed-order double quotients of
    *     exact counts (lift written as (cp/c1)/(c2/n) to avoid the
    *     cp·n product overflowing long at fleet scale).
    */
  def frequentPairs(baskets: DataFrame, basketCol: String, itemCol: String,
      minSupport: Long): DataFrame = {
    val (frequent, nBaskets) = level1(baskets, basketCol, itemCol, minSupport)
    pairsCore(frequent, nBaskets, minSupport)
  }

  private def distinctItems(baskets: DataFrame, basketCol: String,
      itemCol: String): DataFrame =
    baskets.select(col(basketCol).as("b"), col(itemCol).as("i")).distinct()

  /** Shared level-1 state: the support-pruned (b, i, ci) frame —
    * materialized once, because every higher level fans multiple plan
    * branches out of it — and the exact basket total. The basket
    * count() is the ONE eager action either public entry point runs; it
    * also computes (and block-persists) the lazily-checkpointed
    * distinct (b, i) frame, so no branch recomputes the distinct or the
    * level-1 prune. LAZY localCheckpoint, not persist(): persist
    * registers the plan in the session CacheManager, which holds a
    * strong reference until an explicit unpersist — a session-lifetime
    * leak for a private intermediate the caller can never unpersist.
    * A scoped stage is released with the query ([[Stage.scoped]]).
    */
  private def level1(baskets: DataFrame, basketCol: String, itemCol: String,
      minSupport: Long): (DataFrame, Long) = {
    val items = distinctItems(baskets, basketCol, itemCol)
      .transform(Stage.scoped(eager = false))
    val nBaskets = items.select(col("b")).distinct().count()
    val itemCnt = items.groupBy(col("i")).agg(count(lit(1)).as("ci"))
      .filter(col("ci") >= minSupport)
    val frequent = items.join(itemCnt, Seq("i"))
      .select(col("b"), col("i"), col("ci")).transform(Stage.scoped(eager = false))
    (frequent, nBaskets)
  }

  /** Level-2 core over the shared level-1 frame — used by both
    * [[frequentPairs]] and [[frequentTriples]] (as its level-2 prune)
    * without re-running the distinct or the level-1 support filter.
    */
  private def pairsCore(frequent: DataFrame, nBaskets: Long,
      minSupport: Long): DataFrame = {
    val pairs = frequent.select(col("b"), col("i").as("i1"), col("ci").as("c1"))
      .join(frequent.select(col("b"), col("i").as("i2"), col("ci").as("c2")),
        Seq("b"))
      .filter(col("i1") < col("i2"))
      .groupBy(col("i1"), col("i2"), col("c1"), col("c2"))
      .agg(count(lit(1)).as("pair_count"))
      .filter(col("pair_count") >= minSupport)
    pairs.select(col("i1"), col("i2"), col("pair_count"),
      (col("pair_count").cast("double") / nBaskets).as("support"),
      (col("pair_count").cast("double") / col("c1")).as("confidence_1_2"),
      ((col("pair_count").cast("double") / col("c1")) /
        (col("c2").cast("double") / nBaskets)).as("lift"))
  }

  /** Frequent item TRIPLES — the level-3 a-priori step. Candidate
    * (a < b < c) instances are built only from items that survive the
    * level-1 support prune (which caps the per-basket join width), and
    * each of the three sub-pairs is semi-joined against the frequent-
    * PAIR set (level-2 downward closure) before counting — work
    * shrinks at every level, the defining a-priori property. The
    * level-2 prune changes COST only, never the answer (a frequent
    * triple's sub-pairs are frequent by definition), so the oracle may
    * count triples of frequent items directly. All levels read the ONE
    * cached level-1 frame; the basket count is the single eager action.
    */
  def frequentTriples(baskets: DataFrame, basketCol: String,
      itemCol: String, minSupport: Long): DataFrame = {
    val (frequent, nBaskets) = level1(baskets, basketCol, itemCol, minSupport)
    val pairSet = pairsCore(frequent, nBaskets, minSupport)
      .select(col("i1"), col("i2"))
    val f = frequent.select(col("b"), col("i"))
    val inst = f.select(col("b"), col("i").as("i1"))
      .join(f.select(col("b"), col("i").as("i2")), Seq("b"))
      .filter(col("i1") < col("i2"))
      .join(f.select(col("b"), col("i").as("i3")), Seq("b"))
      .filter(col("i2") < col("i3"))
    val pruned = inst
      .join(pairSet, Seq("i1", "i2"), "left_semi")
      .join(pairSet.select(col("i1"), col("i2").as("i3")),
        Seq("i1", "i3"), "left_semi")
      .join(pairSet.select(col("i1").as("i2"), col("i2").as("i3")),
        Seq("i2", "i3"), "left_semi")
    pruned.groupBy(col("i1"), col("i2"), col("i3"))
      .agg(count(lit(1)).as("triple_count"))
      .filter(col("triple_count") >= minSupport)
      .select(col("i1"), col("i2"), col("i3"), col("triple_count"),
        (col("triple_count").cast("double") / nBaskets).as("support"))
  }
}
