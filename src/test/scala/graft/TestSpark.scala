package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run (JVM-wide). */
object TestSpark {
  lazy val spark: SparkSession = {
    val wh = java.nio.file.Files.createTempDirectory("graft-warehouse")
    val cores = GraftSession.cores
    val s = GraftSession.builder(s"local[$cores]", cores)
      .appName("graft-test")
      .config("spark.sql.warehouse.dir", wh.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
