package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.etl._

/** One benchmark operation: a name (its latency key) and its body. */
final case class Op(name: String, run: () => Unit)

final case class Check(name: String, ok: Boolean, detail: String)

/** A workload: the operation list of one pass, its warm-up and its output
  * checks.
  */
abstract class Workload(val spark: SparkSession, val tr: Tracer, val args: Args) {
  def ops(pass: Int): Seq[Op]
  /** The untimed warm pass. A workload whose output check runs every
    * operation once makes that check its warm pass and returns true; the
    * runner otherwise runs one untimed pass of `ops`.
    */
  def warmPass(): Boolean = false
  /** Untimed passes before timing, the check pass included. */
  def warmPasses: Int = 1
  /** Fewest timed passes in a run. */
  def minPasses: Int
  /** Output checks, read after the timed passes. */
  def checks(): Seq[Check]
  /** Called once, right before the first timed pass. */
  def timingStarts(): Unit = ()
  /** Bytes written per input byte by the `passes` timed passes. */
  def writeAmp(passes: Int): Double
  /** Extra workload facts for the run record. */
  def record: Map[String, Any] = Map.empty

  def noop(df: DataFrame): Unit =
    tr.span("sink.noop", "sink")(df.write.format("noop").mode("overwrite").save())

  /** Run `body` in a span, adding its seconds to the layer total `key`. */
  def timed[T](key: String, name: String, layer: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val out = tr.span(name, layer)(body)
    if (tr.enabled) tr.add(key, (System.nanoTime() - t0) / 1e9)
    out
  }
}

object Workload {
  def dirBytes(path: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum
  }

  /** Seeded per-pass permutation of an operation list. */
  def shuffled[T](xs: Seq[T], seed: Long, pass: Int): Seq[T] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(xs)
}

/** The paper's job: `WeatherPipeline.runMany` over a seeded station fleet
  * into a `ParquetSink`. The traced run replays `runOn`'s phases one by one
  * (it is private) and asserts the same `PipelineResult`.
  */
final class EtlFleet(s: SparkSession, t: Tracer, a: Args) extends Workload(s, t, a) {
  private val lines = Files.readAllLines(Paths.get(a.data, "manifest.tsv")).asScala.toSeq
    .map(_.split("\t"))
  private val jsonPath = lines.collectFirst { case Array("json", p) => p }.get
  private val manifests: Map[String, Seq[CsvManifestEntry]] =
    lines.collect { case Array(st, date, p) => st -> CsvManifestEntry(p, date) }
      .groupBy(_._1).map { case (st, es) => st -> es.map(_._2) }
  private val inputBytes = lines.map(_.last).map(p => Files.size(Paths.get(p))).sum
  private val sinkPath = s"${a.scratch}/etl_sink"
  // On 4 cores the first pipeline run is ~4x a steady one and the next few
  // keep speeding up (JIT). Two warm and four timed runs keep a run under
  // the 60 s periodic GC the session schedules (spark.cleaner.periodicGC).
  override def warmPasses: Int = 2
  def minPasses: Int = 4
  private val untraced = mutable.ArrayBuffer.empty[PipelineResult]
  private val traced = mutable.ArrayBuffer.empty[PipelineResult]

  def ops(pass: Int): Seq[Op] = Seq(Op("etl.pipeline", () =>
    if (!tr.enabled)
      untraced += WeatherPipeline.runMany(spark, manifests, Some(jsonPath),
        new ParquetSink(sinkPath))
    else traced += phases()))

  private def phases(): PipelineResult = {
    val sink = new ParquetSink(sinkPath)
    val df = tr.span("etl.extract", "etl")(
      WeatherPipeline.unifiedMany(spark, manifests, Some(jsonPath)))
    df.cache()
    try {
      val pre = timed("etl.audit_pre_s", "etl.audit_pre", "etl")(IntegrityReport.compute(df))
      val written = timed("etl.load_s", "sink.parquet", "sink")(sink.overwrite(df))
      val post = timed("etl.audit_post_s", "etl.audit_post", "etl")(
        QualityAudit.compute(sink.read(spark)))
      tr.add("etl.rows", written.toDouble)
      tr.add("etl.sink_mb", Workload.dirBytes(sinkPath) / 1048576.0)
      PipelineResult(written, pre, post, written == pre.totalRows)
    } finally df.unpersist()
  }

  def writeAmp(passes: Int): Double = Workload.dirBytes(sinkPath).toDouble / inputBytes

  def checks(): Seq[Check] = {
    val all = (untraced ++ traced).distinct
    Seq(Check("etl.same_result_every_pass", all.size == 1, s"${all.size} distinct results")) ++
      (if (traced.nonEmpty && untraced.nonEmpty)
        Seq(Check("etl.traced_phases_match_runMany", traced.head == untraced.head, ""))
      else Nil)
  }

  override def record: Map[String, Any] = Map(
    "input_bytes" -> inputBytes,
    "observed" -> (untraced ++ traced).headOption.map { r =>
      Map("rows_written" -> r.rowsWritten, "reconciled" -> r.countReconciled,
        "rows" -> r.preLoad.totalRows, "dup_by_date" -> r.preLoad.dupByDate,
        "dup_by_date_station" -> r.preLoad.dupByDateStation,
        "min_date" -> r.preLoad.minDate, "max_date" -> r.preLoad.maxDate,
        "pre_nulls" -> r.preLoad.nullCounts, "post_rows" -> r.postLoad.totalRows,
        "anomalies" -> r.postLoad.anomalyCounts, "nulls" -> r.postLoad.nullCounts)
    })
}

/** TPC-H-ish and event lanes from `Bench.headline`, noop sink. */
final class RelationalLanes(s: SparkSession, t: Tracer, a: Args) extends Workload(s, t, a) {
  val lanes: Seq[String] = RelationalLanes.lanes
  private val inputBytes = Workload.dirBytes(a.data)
  def minPasses: Int = 2
  private val shuffle = new ShuffleBytes
  spark.sparkContext.addSparkListener(shuffle)

  def ops(pass: Int): Seq[Op] = Workload.shuffled(lanes, a.seed, pass).map { name =>
    Op(s"lane.$name", () => noop(build(name)))
  }

  private def build(name: String): DataFrame =
    timed("entry.build_s", "entry.build", "entry") {
      val (df, jobs) = tr.jobsDuring(SparkEntry.queries(name)(spark, a.data))
      if (tr.enabled) tr.add("entry.build_jobs", jobs.toDouble)
      df
    }

  /** Shuffle bytes written per pass over input table bytes: with a noop
    * sink, the exchange files are the only bytes the lanes write.
    */
  def writeAmp(passes: Int): Double = shuffle.bytes.toDouble / passes / inputBytes
  override def timingStarts(): Unit = shuffle.reset()

  private var checked: Seq[Check] = Nil
  def checks(): Seq[Check] = checked

  /** Fingerprints every lane's output against its golden. */
  override def warmPass(): Boolean = {
    val goldens = Fingerprint.parse(Files.readAllLines(Paths.get(a.goldens)).asScala.toSeq)
    checked = lanes.map { name =>
      scala.util.Try(Fingerprint.of(SparkEntry.queries(name)(spark, a.data))).fold(
        e => Check(s"golden.$name", ok = false, s"$name failed: $e"),
        fp => {
          if (a.recordGoldens) System.out.println(s"GOLDEN\t$name\t$fp")
          val miss = Fingerprint.check(name, fp, goldens)
          Check(s"golden.$name", miss.isEmpty, miss.getOrElse(fp.toString))
        })
    }
    true
  }

  override def record: Map[String, Any] = Map("input_bytes" -> inputBytes)
}

object RelationalLanes {
  val lanes: Seq[String] = Seq("q01_pricing_summary", "q10_join_broadcast",
    "q11_join_multiway", "q14_window_topn", "q15_window_running", "q21_events_hourly",
    "q36_asof_join", "q64_asof_native", "q47_sessionize", "q49_tpch_q6",
    "q51_tpch_q5", "q59_resample_locf", "q85_tpch_q21", "q228_dau_mau")
}

/** Sums shuffle bytes written; the one listener the untraced run keeps. */
final class ShuffleBytes extends org.apache.spark.scheduler.SparkListener {
  private val total = new java.util.concurrent.atomic.AtomicLong
  override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null)
      total.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten): Unit
  def bytes: Long = total.get
  def reset(): Unit = total.set(0L)
}
