package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class SkewAndSessionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("salted join result equals plain join result") {
    val d = "/root/testdata/sf0.001"
    val fact = graft.Tables.orders(spark, d).select(col("o_custkey").as("k"), col("o_orderkey"))
    val dim = graft.Tables.customer(spark, d).select(col("c_custkey").as("k"), col("c_mktsegment"))
    val salted = SkewJoin.saltedEquiJoin(fact, dim, "k", saltFactor = 5)
      .groupBy("c_mktsegment").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val plain = fact.join(dim, Seq("k"))
      .groupBy("c_mktsegment").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted == plain)
  }

  test("batch sessionization: gaps split sessions per user") {
    val events = Seq(
      (1L, 0L), (1L, 100L), (1L, 200L),      // session 1
      (1L, 10000L), (1L, 10100L),            // session 2 (gap 9800 > 1000)
      (2L, 50L)                              // other user: own session
    ).toDF("user_id", "ts")
    val got = Sessionize.sessionStats(events, "user_id", "ts", gap = 1000L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got((1L, 1L)) == ((3L, 0L, 200L)))
    assert(got((1L, 2L)) == ((2L, 10000L, 10100L)))
    assert(got((2L, 1L)) == ((1L, 50L, 50L)))
  }

  test("partitioned sink enables partition pruning at the scan") {
    val d = "/root/testdata/sf0.001"
    val dir = java.nio.file.Files.createTempDirectory("graft-partitioned").resolve("orders")
    graft.Tables.orders(spark, d)
      .withColumn("order_year", year(col("o_orderdate")))
      .write.partitionBy("order_year").mode("overwrite").parquet(dir.toString)
    val pruned = spark.read.parquet(dir.toString).filter(col("order_year") === 1997)
    val scan = pruned.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters") && scan.contains("order_year"),
      s"partition filter missing from scan: $scan")
    val expected = graft.Tables.orders(spark, d)
      .filter(year(col("o_orderdate")) === 1997).count()
    assert(pruned.count() == expected)
  }
}
