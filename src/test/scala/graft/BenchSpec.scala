package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {
  import Bench.LaneResult

  private val results = Seq(
    LaneResult("q01_pricing_summary", Seq(1.0, 3.0, 2.0), failed = false),
    LaneResult("q34_lsh_topk", Seq(4.0), failed = true),
    LaneResult("q52_ivf_served", Seq.empty, failed = true),
    LaneResult("etl_pipeline", Seq(0.5, 1.5), failed = false))

  test("every lane is named once; no arguments means the full set") {
    assert(Bench.lanes.distinct == Bench.lanes)
    assert(Bench.lanes.size == 56 && Bench.lanes.last == "etl_pipeline")
    assert(Selection.select(Bench.lanes, Seq.empty) == Bench.lanes)
    val queries = SparkEntry.queries
    assert(Bench.headline.forall(queries.contains))
  }

  test("median: odd N takes the middle, even N averages, no runs is -1") {
    assert(Bench.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Bench.median(Seq(1.0, 4.0)) == 2.5)
    assert(Bench.median(Seq.empty) == -1.0)
  }

  test("compact line: keys in order, failed lanes listed, total over succeeded medians") {
    assert(Bench.compactLine(results, "/d/sf0.1") ==
      """{"metric":"headline_total","value":7.000,"unit":"sec",""" +
      """"queries":{"q01_pricing_summary":2.000,"q34_lsh_topk":4.000,""" +
      """"q52_ivf_served":-1.000,"etl_pipeline":1.000},"sf":"/d/sf0.1",""" +
      """"failed":["q34_lsh_topk","q52_ivf_served"]}""")
  }

  test("detail line: raw runs, env and the same failed list") {
    assert(Bench.detailLine(results.take(1), """{"cpus":4}""", "/d") ==
      """{"detail":"bench_runs","runs":{"q01_pricing_summary":[1.000,3.000,2.000]},""" +
      """"env":{"cpus":4},"sf":"/d","failed":[]}""")
  }

  test("telemetry line: worst-run task metrics per lane, keys in listener order") {
    val units = Seq(0.0, 0.0, 1.25, 64.0, 2.5, 2.5, 10.0, 1.0, 12.0, 1.0)
    assert(Bench.telemetryLine(Seq("q01_pricing_summary" -> units), "/d") ==
      """{"detail":"telemetry","stat":"worst_run","queries":{"q01_pricing_summary":""" +
      """{"mem_spill_mb":0.000,"disk_spill_mb":0.000,"gc_sec":1.250,""" +
      """"peak_exec_mem_mb":64.000,"shuffle_read_mb":2.500,"shuffle_write_mb":2.500,""" +
      """"input_read_mb":10.000,"input_rows_k":1.000,"codegen_compiles":12.000,""" +
      """"staged_rdds":1.000}},"sf":"/d"}""")
    assert(Bench.telemetryLine(Seq.empty, "/d") ==
      """{"detail":"telemetry","stat":"worst_run","queries":{},"sf":"/d"}""")
  }
}
