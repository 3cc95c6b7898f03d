package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** Order-independent fingerprint of a query result: its row count and the
  * sum of per-row 64-bit hashes. Floating-point columns are hashed at nine
  * significant digits, so a different summation order in a parallel
  * aggregate does not change the fingerprint, while a dropped, duplicated
  * or altered row does.
  */
final case class Fingerprint(rows: Long, hash: String) {
  override def toString: String = s"$rows\t$hash"
}

object Fingerprint {
  private def stable(df: DataFrame): Seq[Column] = df.schema.fields.toSeq.map { f =>
    f.dataType match {
      case DoubleType | FloatType => format_string("%.9g", col(s"`${f.name}`"))
      case _ => col(s"`${f.name}`")
    }
  }

  def of(df: DataFrame): Fingerprint = {
    val r = df.select(xxhash64(stable(df): _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h")).cast("string"))
      .head()
    Fingerprint(r.getLong(0), Option(r.getString(1)).getOrElse("0"))
  }

  /** `name<TAB>rows<TAB>hash` lines. */
  def parse(lines: Seq[String]): Map[String, Fingerprint] =
    lines.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val Array(name, rows, hash) = l.split("\t")
      name -> Fingerprint(rows.toLong, hash)
    }.toMap

  /** None when `got` matches the golden, else what differs. */
  def check(name: String, got: Fingerprint,
      goldens: Map[String, Fingerprint]): Option[String] =
    goldens.get(name) match {
      case None => Some(s"$name: no golden recorded")
      case Some(g) if g == got => None
      case Some(g) => Some(s"$name: got $got, golden $g")
    }
}
