package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import java.util.concurrent.Executors
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Queries run CONCURRENTLY on a bounded thread pool (round-5 lesson: 252
  * sequential queries exceeded the driver's wall-clock budget and the
  * round recorded `{}`). Spark's scheduler interleaves the jobs on one
  * SparkContext; each worker thread gets its own `spark.newSession()` so
  * temp-view registration (the TPC-H canonical-view queries reuse view
  * names) can never race across queries. Outputs are per-query
  * directories, so there is no write contention.
  *
  * Usage: `runMain graft.Verify <sfDir> <outDir> [pattern ...]`. With no
  * pattern, as in the correctness gate, every query runs; patterns
  * select queries by name substring ([[Selection.select]], as
  * `graft.Bench` selects lanes). Environment: SPARK_GRAFT_CPUS
  * ([[GraftSession.cores]], which also caps the worker threads at
  * min(cores, 6)).
  */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: graft.Verify <sfDir> <outDir> [pattern ...]")
    val Seq(sfDir, outDir) = args.toSeq.take(2)
    // before the session: a pattern matching no query fails here
    // instead of "verifying" an empty selection
    val queries = SparkEntry.queries
    val patterns = args.toSeq.drop(2).map(_.trim).filter(_.nonEmpty)
    val selected = Selection.select(queries.keys.toSeq, patterns).map(n => n -> queries(n))
    val cpus = GraftSession.cores
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // one query per core, never more than the 6 concurrent queries the
    // gate has always run with
    val threads = math.min(cpus, 6)
    // Summary FRAME: one line FIRST and one LAST on stdout (round-8
    // verdict #1b) — whichever end of the stream a head- or
    // tail-capturing harness keeps, the query count and liveness are
    // visible, and an empty driver artifact becomes attributable to
    // the post-Verify leg.
    println(s"[verify-summary] starting queries=${selected.size} " +
      s"threads=$threads sf=$sfDir out=$outDir")
    System.out.flush()
    val pool = Executors.newFixedThreadPool(threads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    // One child session per worker thread (session state is NOT
    // thread-safe for temp views; SparkContext + SQLConf-from-SparkConf
    // are shared, so plans/configs are identical to the sequential run).
    val perThread = new ThreadLocal[SparkSession] {
      override def initialValue(): SparkSession = spark.newSession()
    }
    val t00 = System.nanoTime()
    val compiles0 = GraftSession.codegenCompiles
    // Per-query outcome record (seconds + ok/error), dumped as
    // verify_log.json next to the parquet outputs so every gate run
    // leaves a driver-independent artifact — round 5 and round 7 both
    // ended with an empty driver-side correctness file, and without
    // this record an empty artifact is unattributable (engine failure
    // vs handoff failure).
    val outcomes =
      new java.util.concurrent.ConcurrentHashMap[String, (Double, Option[String])]()
    val futures = selected.map { case (name, fn) =>
      Future {
        val s = perThread.get()
        val t0 = System.nanoTime()
        try {
          fn(s, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          val sec = (System.nanoTime() - t0) / 1e9
          outcomes.put(name, (sec, None))
          System.err.println(f"[verify] $name ok in $sec%.2fs")
        } catch { case e: Throwable =>
          outcomes.put(name,
            ((System.nanoTime() - t0) / 1e9, Some(String.valueOf(e.getMessage))))
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    }
    Await.result(Future.sequence(futures), Duration.Inf)
    pool.shutdown()
    val totalSec = (System.nanoTime() - t00) / 1e9
    val compiles = GraftSession.codegenCompiles - compiles0
    val nFailed = {
      import scala.jdk.CollectionConverters._
      outcomes.asScala.count(_._2._2.isDefined)
    }
    System.err.println(
      f"[verify] ${selected.size} queries done in $totalSec%.1fs on $threads threads ($nFailed failed)")
    // Summary ALSO on stdout (the Bench lesson: stderr can be dropped
    // by the harness; stdout survives). `compiles` counts the classes
    // codegen compiled, so a thrashing codegen cache shows here.
    val summary =
      f"[verify-summary] queries=${selected.size} failed=$nFailed seconds=$totalSec%.1f compiles=$compiles"
    println(summary)
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val logJson = {
      import scala.jdk.CollectionConverters._
      outcomes.asScala.toSeq.sortBy(_._1).map { case (name, (sec, err)) =>
        val errField = err.map(e => s", \"error\": ${q(e)}").getOrElse("")
        f"${q(name)}: {\"seconds\": $sec%.3f, \"ok\": ${err.isEmpty}$errField}"
      }.mkString("{", ",", "}")
    }
    Files.writeString(Paths.get(s"$outDir/verify_log.json"), logJson)
    // stop() BEFORE the final summary copy so no Spark shutdown WARN
    // line can land after it (the Bench emission-layout lesson).
    spark.stop()
    println(summary)
    System.out.flush()
  }
}
