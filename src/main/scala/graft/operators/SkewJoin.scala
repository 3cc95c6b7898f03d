package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Salted join for skewed keys — the manual fallback when AQE's skew-join
  * splitting isn't available (e.g. the skew is in a broadcast-ineligible
  * aggregation, or a pre-AQE engine).
  *
  * Fact side: each row gets a random-but-deterministic salt in
  * [0, saltFactor); dim side: each row is replicated saltFactor times.
  * The join key becomes (key, salt), spreading one hot key over
  * saltFactor shuffle partitions. Replication cost is saltFactor × |dim|,
  * so this is for fact-dim joins where dim is modest but too big (or the
  * plan too complex) to broadcast.
  */
object SkewJoin {

  /** Per-row salt: hash of the row content MIXED with a per-row id, so
    * identical rows (the canonical skew shape — one hot key, duplicate
    * payloads) still spread across all saltFactor buckets. The id makes
    * the salt nondeterministic across task retries, which is safe here:
    * the dim side is replicated to EVERY salt value, so any salt yields a
    * correct join/partial count — stability is not required, coverage is.
    */
  private def salt(df: DataFrame, saltFactor: Int): Column =
    pmod(xxhash64((df.columns.map(col) :+ monotonically_increasing_id()): _*),
      lit(saltFactor))

  def saltedEquiJoin(fact: DataFrame, dim: DataFrame, key: String,
      saltFactor: Int = 8, joinType: String = "inner"): DataFrame = {
    val saltedFact = fact.withColumn("__salt", salt(fact, saltFactor))
    val saltedDim = dim
      .withColumn("__salt", explode(array((0 until saltFactor).map(lit): _*)))
    saltedFact.join(saltedDim, Seq(key, "__salt"), joinType).drop("__salt")
  }

  /** Key-skew audit: the diagnostic that tells you whether THIS join/
    * aggregation key needs [[saltedEquiJoin]] at all — top-k heaviest
    * keys with their row share, plus the corpus skew factor
    * max(count)/mean(count) (1.0 = perfectly uniform; a rule of thumb
    * says salt above ~4-8). All counts exact; shares and the factor are
    * single divides from exact integers, 4dp.
    *
    * Scale: one partial-agg shuffle to per-key counts (map-side
    * combine makes even the hot key cheap — counts, not rows, move),
    * TakeOrderedAndProject over the key frame, one broadcast stats row.
    */
  def keySkewAudit(df: DataFrame, keyCol: String, topK: Int = 5): DataFrame = {
    val cnt = df.groupBy(col(keyCol).as("k")).agg(count(lit(1)).as("c"))
    val stats = cnt.agg(count(lit(1)).as("__n_keys"),
      sum(col("c")).as("__total"), max(col("c")).as("__max_c"))
    val w = Window.orderBy(col("c").desc, col("k"))
    val top = cnt.orderBy(col("c").desc, col("k")).limit(topK)
      .withColumn("rank", row_number().over(w))
    top.crossJoin(broadcast(stats)).select(
      col("rank"), col("k").as(keyCol), col("c").as("n_rows"),
      round(col("c").cast("double") / col("__total").cast("double"), 4)
        .as("share"),
      round(col("__max_c").cast("double") * col("__n_keys").cast("double") /
        col("__total").cast("double"), 4).as("skew_factor"))
  }
}
