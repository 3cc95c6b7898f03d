package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Config choices (and why they matter at 100 TB):
  *  - AQE on: runtime re-planning (coalesce shuffle partitions, skew-join
  *    split, dynamic broadcast) is the main lever we have when static stats
  *    are wrong at scale.
  *  - ANSI off: the reference pipeline (etl_meteo.py:41-46,127) uses
  *    null-on-failure coercion everywhere (`errors='coerce'`, try/except →
  *    None). Non-ANSI casts replicate that; oracle SQL uses TRY_CAST.
  *  - UTC session timezone: deterministic timestamp semantics across the
  *    cluster and vs. the DuckDB oracle.
  *  - `nanosAsLong`: some rounds' events.parquet carried TIMESTAMP(NANOS)
  *    which Spark has no native type for; under this conf it reads as long
  *    nanos at full precision (see [[Tables.normalizeEvents]] — the loader
  *    is schema-adaptive and also accepts the current TIMESTAMP(MICROS)
  *    files). A double division would lose precision (2024 epoch-nanos
  *    ≈ 1.7e18 > 2^53), so conversions use integer `div`.
  *  - shuffle.partitions defaults to #cores locally; on a real cluster this
  *    is sized to ~2-3x total cores and AQE coalesces down.
  *  - Codegen cache of [[CodegenCacheEntries]] classes: Spark keeps each
  *    class Janino compiles for codegen in an LRU cache of 100 entries by
  *    default. One relational perfbench pass cycles through 186 classes
  *    and `graft.Bench`'s 50 headline lanes through about 900, so at 100
  *    each class is evicted before it comes round again and every pass
  *    compiles its whole set anew. The cache is JVM-wide and is sized
  *    once, by the first session in the JVM that generates code; the size
  *    is a static conf, so only [[builder]] sets it, and a host
  *    application's own session that goes through [[tune]] keeps Spark's
  *    100.
  *  - A 60 s `spark.cleaner.periodicGC.interval` (Spark's is 30 min):
  *    the operators' staged blocks are released with their query
  *    ([[graft.operators.Stage]]), but a finished query's shuffle files
  *    and broadcasts are freed only by the ContextCleaner, after a GC
  *    proves their owners unreachable. Without the tick the peak bytes
  *    under `SPARK_LOCAL_DIRS` in a full `graft.Bench` at sf0.1 rose
  *    from 84.1 to 138.9 MB, and a long run at scale keeps every dead
  *    round's shuffle files on disk until some GC happens.
  */
object GraftSession {

  /** Entries of Spark's codegen cache (`spark.sql.codegen.cache.maxEntries`):
    * room for the largest repeated working set, `graft.Bench`'s ~900
    * classes, with slack for Guava's LRU, which evicts per segment and so
    * starts before the whole cache is full. A session started by
    * `newSession()` runs its tasks under its own class loader, which is
    * part of the cache key: its classes compile again however large the
    * cache is.
    */
  val CodegenCacheEntries = 4096

  /** Classes Spark's codegen has compiled in this JVM so far; a cache hit
    * does not count.
    */
  def codegenCompiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession
      .builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
      // dead shuffle files and broadcasts (Scaladoc above); build.sbt's
      // -XX:+ExplicitGCInvokesConcurrent makes each tick a concurrent cycle
      .config("spark.cleaner.periodicGC.interval", "60s")
      // r13 (guide §5 "the driver should do almost no data work"):
      // the status store runs even with the UI off and retains per-job/
      // stage/task/SQL-execution state in the DRIVER heap — a bench or
      // verify session executes thousands of actions, so the default
      // retention (1000 jobs/stages, 100k tasks, 1000 SQL executions
      // with full metric maps) accumulates hundreds of MB of dead
      // bookkeeping in the same heap the 32 concurrent local-mode tasks
      // aggregate in. Telemetry showed late lanes GC-bound (86 s
      // cumulative task GC on q260_served in one 8 GB-heap run); capped
      // retention removes the debris at ANY heap size.
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "10000")
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.ui.enabled", "false")

  /** Cores a local session uses: `SPARK_GRAFT_CPUS` when it is a positive
    * integer, otherwise every processor the JVM sees. Every main sizes
    * its session from this one value.
    */
  def cores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.toIntOption).filter(_ > 0)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Local session on [[cores]] cores, with as many shuffle partitions. */
  def local(): SparkSession = {
    val s = builder(s"local[$cores]", cores).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    tune(s)
    s
  }

  /** Apply the runtime-settable graft configs that results depend on to
    * a session not built by [[builder]] (e.g. one a host application
    * created). Safe to call repeatedly. AQE is left as the caller set it:
    * Spark defaults it on, and a caller who turned it off meant it.
    */
  def tune(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark
  }
}
