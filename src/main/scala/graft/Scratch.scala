package graft

import org.apache.spark.sql.SparkSession

/** Dev smoke runner: replicates the driver's entry() smoke check
  * (rows > 0 on sf0.001) and prints the flagship plan.
  */
object Scratch {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    val df = SparkEntry.entry(spark)
    df.explain("formatted")
    val rows = df.collect()
    println(s"[smoke] entry() rows=${rows.length}")
    rows.take(5).foreach(r => println(s"[smoke] $r"))
    spark.stop()
  }
}
