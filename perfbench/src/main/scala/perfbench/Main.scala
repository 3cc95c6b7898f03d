package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import graft.GraftSession

final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
    data: String, scratch: String, out: String, cores: Int, goldens: String,
    recordGoldens: Boolean)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("data"), m("scratch"), m("out"), m("cores").toInt, m.getOrElse("goldens", ""),
      m.get("record-goldens").contains("1"))
  }
}

/** One benchmark run in this JVM: session start, workload setup, the
  * workload's untimed warm passes (the output check is one of them where it
  * runs every operation), then timed passes: at least the workload's
  * `minPasses` and at least `--seconds` of them, so that every run times
  * the same pass indices of the JIT warm-up curve. Writes the
  * run record as JSON to `--out`; run.py turns it into the metric line.
  *
  * With `--trace 1` the timed passes run twice, untraced and then traced,
  * so the record carries the tracing overhead.
  */
object Main {
  private def epochUs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  private def vmHwmMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val t0 = System.nanoTime()
    val spark = GraftSession.builder(s"local[${a.cores}]", a.cores)
      .config("spark.sql.warehouse.dir", s"${a.scratch}/warehouse")
      .config("spark.local.dir", s"${a.scratch}/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.tune(spark)
    val t1 = System.nanoTime()
    val sessionS = (t1 - t0) / 1e9

    val tr = new Tracer(spark, a.trace)
    tr.record("session.start", "session", t0, t1)
    val w: Workload = a.workload match {
      case "etl_fleet" => new EtlFleet(spark, tr, a)
      case "relational_lanes" => new RelationalLanes(spark, tr, a)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    var attempted = 0
    var failed = 0
    val errors = mutable.ArrayBuffer.empty[String]
    val opMs = mutable.ArrayBuffer.empty[(String, Double)]

    def runPass(pass: Int, timed: Boolean): Double = {
      val p0 = System.nanoTime()
      w.ops(pass).foreach { op =>
        val s0 = System.nanoTime()
        val ok = try { tr.op(op.name)(op.run()); true }
        catch { case e: Throwable =>
          errors += s"${op.name}: ${e.getClass.getSimpleName}: ${e.getMessage}"
          false
        }
        val sec = (System.nanoTime() - s0) / 1e9
        if (timed) {
          attempted += 1
          if (!ok) failed += 1
          if (tr.enabled) tr.sample(op.name, sec)
          else opMs += ((op.name, sec * 1e3))
        }
      }
      (System.nanoTime() - p0) / 1e9
    }

    // untimed warm passes absorb the cold first passes (JIT, codegen, footers)
    val warm0 = System.nanoTime()
    var pass = 0
    val checkWarms = if (w.warmPass()) 1 else 0
    while (pass + checkWarms < w.warmPasses) { runPass(pass, timed = false); pass += 1 }
    val warm1 = System.nanoTime()

    val firstTimedUs = epochUs()
    def timedPasses(budgetS: Double): Seq[Double] = {
      val start = System.nanoTime()
      val out = mutable.ArrayBuffer.empty[Double]
      while (out.size < w.minPasses || (System.nanoTime() - start) / 1e9 < budgetS) {
        out += runPass(pass, timed = true); pass += 1
      }
      out.toSeq
    }
    w.timingStarts()
    val passes = timedPasses(a.seconds)
    val writeAmp = w.writeAmp(passes.size)
    val tracedPasses =
      if (!a.trace) Nil
      else { tr.start(); try timedPasses(a.seconds) finally tr.stop() }

    val checks = w.checks()
    attempted += checks.size
    failed += checks.count(!_.ok)
    val rss = vmHwmMb()

    val layers: Map[String, Double] =
      if (!a.trace) Map.empty
      else {
        val n = tracedPasses.size.toDouble
        tr.totals.map {
          case (k, v) if k.startsWith("jvm.heap") || k.startsWith("staging.") ||
              k == "exec.peak_mem_mb" => k -> v
          case (k, v) => k -> v / n
        }.toMap + ("session.start_s" -> sessionS)
      }

    val record = Map(
      "workload" -> a.workload, "seed" -> a.seed, "cores" -> a.cores,
      "session_start_s" -> sessionS, "first_timed_epoch_us" -> firstTimedUs,
      "setup_phases_s" -> Map("session" -> sessionS, "workload" -> (warm0 - t1) / 1e9,
        "warm" -> (warm1 - warm0) / 1e9),
      "passes" -> passes, "traced_passes" -> tracedPasses,
      "ops_ms" -> opMs.map { case (n, ms) => Seq(n, ms) },
      "attempted" -> attempted, "failed" -> failed, "errors" -> errors,
      "checks" -> checks, "write_amp" -> writeAmp, "peak_rss_mb" -> rss,
      "layers" -> layers, "op_samples_s" -> tr.samples, "spans" -> tr.spans,
      "workload_record" -> w.record,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "jvm_args" -> java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.asScala.toSeq,
      "spark_conf" -> spark.conf.getAll)
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.writeString(Paths.get(a.out), json.writeValueAsString(record))
    spark.stop()
  }
}
