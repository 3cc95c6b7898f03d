package graft

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
  */
object GraftSession {

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
      // r13: staged frames (minhash/span-dedup/CDC) use LAZY
      // localCheckpoints whose blocks the ContextCleaner frees only
      // after a JVM GC proves the frame unreachable; the 30 min default
      // means a long-lived session (Bench runs ~60 lanes × 4 passes,
      // Verify runs 402 queries) accumulates every dropped frame's
      // blocks in the unified pool. A 60 s periodic GC bounds the
      // residue to one lane's worth. Session 3 root-caused the GC storm
      // this tick could trigger — System.gc() ran as a STW Full GC that
      // also SHRANK the committed heap, so a tick landing inside an
      // allocation-heavy lane cost 3+ s of pause and ~14 GB of
      // re-expansion — and fixed it at the JVM layer instead of here:
      // build.sbt now runs with -XX:+ExplicitGCInvokesConcurrent, which
      // turns each tick into a concurrent G1 cycle (no Full pause, no
      // shrink, weak refs still processed). The interval stays 60 s.
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
