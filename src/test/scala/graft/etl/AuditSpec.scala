package graft.etl

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** IntegrityReport (A1-A8) and QualityAudit (F4-F6) on seeded dirty data. */
class AuditSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def obs(dh: String, station: String, temp: Option[Double],
      hum: Option[Double] = Some(50.0)): WeatherObservation =
    WeatherObservation(dh, temp, hum, Some(1000.0), Some(5.0), Some(0.0),
      station, "Weather Underground")

  test("integrity: dup counts (single + composite key), null counts, date range") {
    val df = Seq(
      obs("2024-10-01 00:00", "1001", Some(10.0)),
      obs("2024-10-01 00:00", "1001", Some(11.0)),      // dup on both keys
      obs("2024-10-01 00:00", "1002", Some(12.0)),      // dup on date only
      obs("2024-10-02 00:00", "1001", None, hum = None) // nulls
    ).toDF()
    val r = IntegrityReport.compute(df)
    assert(r.totalRows == 4)
    assert(r.dupByDate == 2)          // 4 rows - 2 distinct dates
    assert(r.dupByDateStation == 1)   // 4 rows - 3 distinct (date,station)
    assert(r.nullCounts("temperature_c") == 1)
    assert(r.nullCounts("humidite_pct") == 1)
    assert(r.nullCounts("id_station") == 0)
    assert(r.minDate.contains("2024-10-01 00:00:00"))
    assert(r.maxDate.contains("2024-10-02 00:00:00"))
  }

  test("date range is chronological across 12-hour and 24-hour formats") {
    val df = Seq(
      obs("2024-10-01 9:04 PM", "1001", Some(10.0)),
      obs("2024-10-01 10:04 PM", "1001", Some(10.0)),  // string-max trap: '9' > '1'
      obs("2024-10-01 08:30:00", "1002", Some(10.0)),
      obs("not a date", "1002", Some(10.0))            // coerced out, like NaT
    ).toDF()
    val r = IntegrityReport.compute(df)
    assert(r.minDate.contains("2024-10-01 08:30:00"))
    assert(r.maxDate.contains("2024-10-01 22:04:00"))
  }

  test("quality: range anomalies counted per constraint, rate computed") {
    val df = Seq(
      obs("2024-10-01 00:00", "1001", Some(10.0)),
      obs("2024-10-01 01:00", "1001", Some(99.0)),            // temp > 50
      obs("2024-10-01 02:00", "1001", Some(-60.0)),           // temp < -50
      obs("2024-10-01 03:00", "1001", Some(10.0), Some(150.0)), // humidity > 100
      obs("2024-10-01 04:00", "1001", None)                   // null: not an anomaly
    ).toDF()
    val r = QualityAudit.compute(df)
    assert(r.totalRows == 5)
    assert(r.anomalyCounts("temperature_c") == 2)
    assert(r.anomalyCounts("humidite_pct") == 1)
    assert(r.anomalyCounts("pression_hpa") == 0)
    assert(r.totalAnomalies == 3)
    assert(math.abs(r.errorRatePct - 60.0) < 1e-9)
    assert(r.nullCounts("temperature_c") == 1)
  }
}
