package graft
package queries

import org.apache.spark.sql.functions._

import graft.functions.CleanValue._

import Shared._

/** The reference ETL's cleaning kernels: `clean_value`, the rain-coalesce
  * ladder, timestamp coercion and null handling.
  */
object EtlQueries {

  val all: Seq[Query] = Seq(
    // S1/S2: clean_value unit-suffix parser + °F→°C on synthesized dirty strings
    Query("q06_clean_value", (s, d) => {
      val dirty = concat(col("p_size").cast("string"), lit(","),
        (col("p_partkey") % 10).cast("string"), lit(" °F"))
      t(s, d, "part").select(
        col("p_partkey"),
        cleanValue(dirty).as("clean_val"),
        round(fahrenheitToCelsius(cleanValue(dirty)), 4).as("temp_c"))
    },
      """SELECT p_partkey,
        | TRY_CAST(regexp_replace(replace(p_size::VARCHAR || ',' || (p_partkey % 10)::VARCHAR || ' °F', ',', '.'), '\s|°F|mph|in|w/m²|%', '', 'g') AS DOUBLE) AS clean_val,
        | round((TRY_CAST(regexp_replace(replace(p_size::VARCHAR || ',' || (p_partkey % 10)::VARCHAR || ' °F', ',', '.'), '\s|°F|mph|in|w/m²|%', '', 'g') AS DOUBLE) - 32.0) * 5.0 / 9.0, 4) AS temp_c
        |FROM part""".stripMargin),

    // S7: the reference's exact rain-coalesce falsy-gate ladder
    Query("q07_rain_coalesce", (s, d) => {
      val p1 = when(col("p_partkey") % 3 === 0, lit(null).cast("string"))
        .when(col("p_partkey") % 3 === 1, lit(""))
        .otherwise(col("p_size").cast("string"))
      val p3 = when(col("p_partkey") % 2 === 0, lit("7.5"))
        .otherwise(lit(null).cast("string"))
      t(s, d, "part").select(
        col("p_partkey"),
        graft.etl.WeatherTransforms.rainAccum(p1, p3).as("rain_mm"))
    },
      """WITH src AS (
        | SELECT p_partkey,
        |  CASE WHEN p_partkey % 3 = 0 THEN NULL WHEN p_partkey % 3 = 1 THEN '' ELSE p_size::VARCHAR END AS p1,
        |  CASE WHEN p_partkey % 2 = 0 THEN '7.5' ELSE NULL END AS p3
        | FROM part)
        |SELECT p_partkey,
        | CASE WHEN p1 IS NOT NULL THEN (CASE WHEN p1 = '' THEN 0.0 ELSE coalesce(TRY_CAST(p1 AS DOUBLE), 0.0) END)
        |      WHEN p3 IS NOT NULL THEN (CASE WHEN p3 = '' THEN 0.0 ELSE coalesce(TRY_CAST(p3 AS DOUBLE), 0.0) END)
        |      ELSE 0.0 END AS rain_mm
        |FROM src""".stripMargin),

    // S8/S10: timestamp parse with null-on-failure coercion
    Query("q08_date_parse", (s, d) => {
      val sCol = when(col("o_orderkey") % 13 === 0, lit("not a time"))
        .otherwise(concat(lit("2024-10-0"), ((col("o_orderkey") % 7) + 1).cast("string"),
          lit(" "), lpad((col("o_orderkey") % 24).cast("string"), 2, "0"), lit(":30:00")))
      t(s, d, "orders").select(
        col("o_orderkey"),
        date_format(graft.etl.WeatherTransforms.parsedTimestamp(sCol),
          "yyyy-MM-dd HH:mm:ss").as("parsed_ts"))
    },
      """WITH src AS (
        | SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 13 = 0 THEN 'not a time'
        |       ELSE '2024-10-0' || ((o_orderkey % 7) + 1)::VARCHAR || ' ' || lpad((o_orderkey % 24)::VARCHAR, 2, '0') || ':30:00' END AS s
        | FROM orders)
        |SELECT o_orderkey, strftime(TRY_CAST(s AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS parsed_ts
        |FROM src""".stripMargin),

    // Null-handling: na.fill / nullif / nvl2 sweep on synthesized nulls
    Query("q56_na_ops", (s, d) => {
      val withNulls = t(s, d, "part").select(
        col("p_partkey"),
        when(col("p_partkey") % 5 === 0, lit(null).cast("double"))
          .otherwise(col("p_retailprice")).as("maybe_price"),
        when(col("p_partkey") % 7 === 0, lit(null).cast("string"))
          .otherwise(col("p_brand")).as("maybe_brand"))
      withNulls.na.fill(Map("maybe_price" -> -1.0, "maybe_brand" -> "UNKNOWN"))
        .withColumn("was_null", col("maybe_price") === -1.0)
    },
      """SELECT p_partkey,
        | coalesce(CASE WHEN p_partkey % 5 = 0 THEN NULL ELSE p_retailprice END, -1.0) AS maybe_price,
        | coalesce(CASE WHEN p_partkey % 7 = 0 THEN NULL ELSE p_brand END, 'UNKNOWN') AS maybe_brand,
        | coalesce(CASE WHEN p_partkey % 5 = 0 THEN NULL ELSE p_retailprice END, -1.0) = -1.0 AS was_null
        |FROM part""".stripMargin))
}
