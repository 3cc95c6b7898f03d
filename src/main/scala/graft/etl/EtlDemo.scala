package graft.etl

import java.nio.charset.StandardCharsets
import java.nio.file.Files

/** Runnable usage example: synthesizes two tiny WU CSVs + one Infoclimat
  * JSON (FIXTURES.md shapes), runs the full pipeline into a parquet sink,
  * prints the integrity + quality reports. `sbt "runMain graft.etl.EtlDemo"`.
  */
object EtlDemo {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local()
    val dir = Files.createTempDirectory("graft-etl-demo")

    def csv(name: String, date: String): CsvManifestEntry = {
      val content =
        """Time;Temperature;Dew Point;Humidity ;Wind;Speed;Gust;Pressure;Precip. Rate.;Precip. Accum.;UV;Solar
          |12:04 AM;55,6 °F;53,2 °F;92 %;SSW;4,5 mph;6,7 mph;29,82 in;0,00 in;0,00 in;0;0 w/m²
          |(°F);(°F);(%);;(mph);(mph);(in);(in);(in);;(w/m²)
          |12:09 AM;55,4 °F;53,1 °F;92 %;S;3,4 mph;5,6 mph;29,82 in;0,00 in;0,00 in;0;0 w/m²
          |1:04 AM;54,9 °F;52,8 °F;93 %;S;2,2 mph;4,5 mph;29,81 in;0,00 in;0,01 in;0;0 w/m²
          |Summary;;;;;;;;;;;
          |""".stripMargin
      val f = dir.resolve(name)
      Files.write(f, content.getBytes(StandardCharsets.ISO_8859_1))
      CsvManifestEntry(f.toString, date)
    }

    val json = {
      val content =
        """{"hourly": {
          |  "07015": [
          |    {"id_station": "07015", "dh_utc": "2024-10-01 00:00:00",
          |     "temperature": "12.4", "pression": "1015.2", "humidite": "93",
          |     "vent_moyen": "14.8", "pluie_1h": "0", "pluie_3h": "0.2"},
          |    {"dh_utc": "2024-10-01 01:00:00", "temperature": "11.9",
          |     "humidite": "94", "vent_moyen": "", "pluie_3h": "0.4"},
          |    "not-a-dict"
          |  ],
          |  "badstation": "not-a-list"
          |}}""".stripMargin
      val f = dir.resolve("infoclimat.json")
      Files.write(f, content.getBytes(StandardCharsets.UTF_8))
      f.toString
    }

    val result = WeatherPipeline.run(spark,
      madeleineManifest = Seq(csv("madeleine-01.csv", "2024-10-01")),
      ichtegemManifest = Seq(csv("ichtegem-01.csv", "2024-10-01")),
      jsonPath = Some(json),
      sink = new ParquetSink(dir.resolve("sink").toString))

    println(s"[etl-demo] rows written: ${result.rowsWritten} (reconciled=${result.countReconciled})")
    println(s"[etl-demo] pre-load:  ${result.preLoad}")
    println(s"[etl-demo] post-load: ${result.postLoad}")
    println("[etl-demo] unified table:")
    spark.read.parquet(dir.resolve("sink").toString)
      .orderBy("id_station", "date_heure_utc").show(20, false)
    spark.stop()
  }
}
