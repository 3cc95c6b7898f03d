package graft.etl

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class TypedIntegritySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("typed pipeline: Dataset[WeatherObservation] round-trips the unified schema") {
    import spark.implicits._
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row("2024-10-01 00:00", 1.5, 50.0, 1000.0, 1.0, 0.0,
          "1001", "Weather Underground"))),
      WeatherSchema.schema)
    val ds = df.as[WeatherObservation]
    assert(ds.head().temperature_c.contains(1.5))
  }
}
