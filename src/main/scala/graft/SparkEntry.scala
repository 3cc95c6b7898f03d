package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.Stage
import graft.queries._

/** One driver query: the Spark plan and the DuckDB oracle that judges it
  * hash-for-hash. Both halves live in one value, so a query without an
  * oracle cannot be written. Queries are defined per family in
  * `graft/queries/<Family>.scala`.
  *
  * Float determinism policy: every floating-point SUM goes through a
  * DECIMAL cast (exact, order-independent) and is cast back to DOUBLE at
  * the end; ratios are exact integer divisions in double; outputs carrying
  * more precision are round(_, 4)-ed identically on both sides. Big
  * decimal sums leave as their full-scale string: decimal rescale differs
  * between engines (Spark rounds, DuckDB truncates) and DuckDB's
  * int128→double is not correctly rounded. This makes the driver's hash
  * compare robust to aggregation order.
  */
final case class Query(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracleSql: String)

/** Driver contract: the flagship [[entry]], every query by name, and the
  * DuckDB oracle of every query by name.
  */
object SparkEntry {

  /** Every query, family by family. */
  private def registry: Seq[Query] =
    RelationalQueries.all ++ EtlQueries.all ++ TextQueries.all ++
      QualityQueries.all ++ DedupQueries.all ++ SimilarityQueries.all ++
      GraphQueries.all ++ CrawlQueries.all ++ EvalQueries.all ++
      EventQueries.all ++ StreamingQueries.all ++ MultimodalQueries.all ++
      CurationQueries.all

  /** `f` of each query, keyed by name; a name defined twice throws,
    * naming the duplicates, instead of one entry silently replacing the
    * other.
    */
  private[graft] def byName[A](qs: Seq[Query])(f: Query => A): Map[String, A] = {
    val dups = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty, s"query names defined twice: ${dups.toSeq.sorted.mkString(", ")}")
    qs.map(q => q.name -> f(q)).toMap
  }

  /** Every query's build, keyed by name. A build first releases the
    * frames the previous build on the same thread staged
    * ([[graft.operators.Stage.releaseScope]]), so a query's result stays
    * readable until the next build on the same thread; read after that,
    * it fails instead of returning rows. Write or collect a result before
    * building the next query on that thread; builds on other threads do
    * not touch it.
    */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    byName(registry)(q => (spark, sfDir) => {
      Stage.releaseScope()
      q.build(spark, sfDir)
    })

  lazy val oracleSql: Map[String, String] = byName(registry)(_.oracleSql)

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q11_join_multiway")(spark, "/root/testdata/sf0.001")
}
