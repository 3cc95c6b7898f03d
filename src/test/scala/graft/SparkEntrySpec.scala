package graft

import org.scalatest.funsuite.AnyFunSuite

/** Smoke over the driver contract: every query runs at sf0.001 and returns
  * rows; query names are unique; entry() is non-empty.
  */
class SparkEntrySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  test("a name defined twice throws, naming it") {
    val q = Query("q_dup", (s, _) => s.emptyDataFrame, "SELECT 1")
    val e = intercept[IllegalArgumentException] {
      SparkEntry.byName(Seq(q, q.copy(oracleSql = "SELECT 2")))(_.oracleSql)
    }
    assert(e.getMessage.contains("q_dup"), e.getMessage)
  }

  test("entry() returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  // Queries whose CORRECT sf0.001 answer is the empty relation (their
  // oracle agrees, so emptiness is the assertion, not a failure):
  // q258's 9-core totally collapses at this SF by construction.
  private val emptyAtSf0001 = Set("q258_kcore")

  SparkEntry.queries.foreach { case (name, fn) =>
    test(s"$name runs and returns rows at sf0.001") {
      if (emptyAtSf0001(name)) assert(fn(spark, sfDir).count() == 0, name)
      else assert(fn(spark, sfDir).count() > 0, name)
    }
  }

  // Hard output-shape contract with the driver: its harness sorts every
  // query output (oracled or rows-only) with pandas sort_values, which
  // throws "unhashable type: numpy.ndarray" on array/map cells. Nested
  // types must be serialized (concat_ws / to_json) before leaving a query.
  SparkEntry.queries.foreach { case (name, fn) =>
    test(s"$name emits no top-level ArrayType/MapType/StructType") {
      import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
      val bad = fn(spark, sfDir).schema.fields.collect {
        case f if f.dataType.isInstanceOf[ArrayType] ||
          f.dataType.isInstanceOf[MapType] ||
          f.dataType.isInstanceOf[StructType] => s"${f.name}: ${f.dataType.sql}"
      }
      assert(bad.isEmpty, s"$name emits driver-unsortable columns: ${bad.mkString(", ")}")
    }
  }
}
