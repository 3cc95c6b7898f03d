package graft

import java.nio.file.Files
import java.util.concurrent.{Callable, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

/** `Tables.table` infers a table's schema once per session and reuses it
  * only while the table's files are unchanged.
  */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val d = "/root/testdata/sf0.001"
  private val names = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "documents", "embeddings", "events")

  private def load(name: String): DataFrame =
    if (name == "events") Tables.events(spark, d) else Tables.table(spark, d, name)

  /** A read that infers its schema, bypassing the cache. */
  private def inferred(name: String): DataFrame = {
    val df = spark.read.parquet(s"$d/$name.parquet")
    if (name == "events") Tables.normalizeEvents(df) else df
  }

  /** Row count and the sum of per-row xxhash64. */
  private def fingerprint(df: DataFrame): Row =
    df.select(xxhash64(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)
        .cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h")))
      .head()

  test("a second read of every table has the inferred read's schema and rows") {
    for (name <- names) {
      load(name): Unit
      val again = load(name)
      val fresh = inferred(name)
      assert(again.schema == fresh.schema, name)
      assert(fingerprint(again) == fingerprint(fresh), name)
    }
  }

  test("a second read of every table starts no Spark job") {
    for (name <- names) {
      load(name): Unit
      val jobs = TestSpark.jobsDuring(load(name))._2
      assert(jobs.isEmpty, s"$name: jobs ${jobs.map(_.jobId)}")
    }
  }

  test("a table rewritten with an added column is inferred again") {
    val dir = Files.createTempDirectory("graft-tables").toString
    spark.range(5).toDF("a").write.parquet(s"$dir/t.parquet")
    assert(Tables.table(spark, dir, "t").columns.toSeq == Seq("a"))
    assert(Tables.table(spark, dir, "t").columns.toSeq == Seq("a"))
    spark.range(7).select(col("id").as("a"), (col("id") * 2).as("b"))
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val after = Tables.table(spark, dir, "t")
    assert(after.columns.toSeq == Seq("a", "b"))
    assert(after.agg(count(lit(1)), sum("b")).head() == Row(7L, 42L))
  }

  test("four threads reading one table in a new session get one schema") {
    val session = spark.newSession()
    val pool = Executors.newFixedThreadPool(4)
    try {
      val read: Callable[StructType] = () => Tables.table(session, d, "lineitem").schema
      val schemas = pool.invokeAll(Seq.fill(4)(read).asJava, 120, TimeUnit.SECONDS).asScala.map(_.get()).toSet
      assert(schemas == Set(inferred("lineitem").schema))
    } finally pool.shutdownNow(): Unit
  }

  test("a table read leaves AQE off when the caller turned it off") {
    val session = spark.newSession()
    session.conf.set("spark.sql.adaptive.enabled", "false")
    Tables.events(session, d): Unit
    assert(session.conf.get("spark.sql.adaptive.enabled") == "false")
  }
}
