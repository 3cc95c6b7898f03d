package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DoubleType, StringType}

import graft.functions._

/** SQL-surface registration of the engine's custom expressions, so
  * `spark.sql("SELECT graft_clean_value(c) ...")` works alongside the
  * Column API. Install at build time via
  * `SparkSession.builder.withExtensions(new GraftExtensions)` or onto an
  * existing session with [[GraftExtensions.register]] (which also defines
  * the SQL-bodied helper functions).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.expressionFunctions.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft", name), builder))
    }
}

object GraftExtensions {

  private def intArg(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(s"$what must be an int literal, got $other")
  }

  /** clean_value as a raw catalyst tree (same semantics as
    * [[CleanValue.cleanValue]]; the Column form can't pass through the
    * function registry because composed Columns stay unresolved there).
    */
  private def cleanValueExpr(e: Expression): Expression = {
    val cleaned = RegExpReplace(
      RegExpReplace(Cast(e, StringType), Literal(","), Literal(".")),
      Literal("\\s|°F|mph|in|w/m²|%"), Literal(""))
    val isNum = RLike(cleaned, Literal("^[+-]?(\\d+\\.?\\d*|\\.\\d+)([eE][+-]?\\d+)?$"))
    CaseWhen(Seq((isNum, Cast(cleaned, DoubleType))), None)
  }

  /** Custom-Expression-backed functions (injectable via extensions). */
  val expressionFunctions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_fnv64" -> (es => HashFunctions.fnv64(es.head)),
    "graft_simhash64" -> (es => HashFunctions.simhash64(es.head)),
    "graft_polyhash" -> (es => HashFunctions.polyHash(es.head)),
    "graft_minhash64" -> (es => MinHash64(es.head, intArg(es(1), "numHashes"))),
    "graft_dot" -> (es => DotProduct(es(0), es(1))),
    "graft_winnow" -> (es => HashFunctions.winnow(es.head,
      intArg(es(1), "k"), intArg(es(2), "window"))),
    "graft_ngram_hashes" -> (es => HashFunctions.ngramHashes(es.head, intArg(es(1), "n"))),
    "graft_clean_value" -> (es => cleanValueExpr(es.head)),
    "graft_bottomk" -> (es => BottomKHashes(es(0), intArg(es(1), "k"))))

  /** SQL-bodied helpers (composed higher-order expressions) — defined as
    * SQL UDFs, mirroring the Column implementations in TextFunctions /
    * VectorFunctions.
    */
  private val sqlFunctions: Seq[String] = Seq(
    """CREATE OR REPLACE TEMPORARY FUNCTION graft_tokens(t STRING)
      |RETURNS ARRAY<STRING>
      |RETURN filter(split(lower(t), '\\s+'), tk -> tk <> '')""".stripMargin,
    """CREATE OR REPLACE TEMPORARY FUNCTION graft_cosine(a ARRAY<DOUBLE>, b ARRAY<DOUBLE>)
      |RETURNS DOUBLE
      |RETURN CASE WHEN sqrt(graft_dot(a, a)) * sqrt(graft_dot(b, b)) <> 0.0d
      |  THEN graft_dot(a, b) / (sqrt(graft_dot(a, a)) * sqrt(graft_dot(b, b))) END""".stripMargin,
    """CREATE OR REPLACE TEMPORARY FUNCTION graft_quality_score(t STRING)
      |RETURNS DOUBLE
      |RETURN round(
      |  least(size(graft_tokens(t)) / 20.0d, 1.0d)
      |  * greatest(1.0d - (CASE WHEN length(t) > 0
      |      THEN (length(t) - length(regexp_replace(t, '[.,;:!?\'"()\\-]', ''))) / CAST(length(t) AS DOUBLE)
      |      ELSE 0.0d END) * 5.0d, 0.0d)
      |  * least((CASE WHEN size(graft_tokens(t)) > 0
      |      THEN size(filter(graft_tokens(t), tk -> array_contains(array('the','a','an','and','or','of','to','in','is','it'), tk))) / CAST(size(graft_tokens(t)) AS DOUBLE)
      |      ELSE 0.0d END) * 5.0d, 1.0d), 4)""".stripMargin)

  /** Register everything onto an already-built session (e.g. the driver's). */
  def register(spark: SparkSession): Unit = {
    expressionFunctions.foreach { case (name, builder) =>
      ColumnBridge.registerFunction(spark, name, builder)
    }
    sqlFunctions.foreach(spark.sql(_))
  }
}
