package graft.operators

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, TestSpark}

class StageSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** The staged RDDs a frame's plan reads. */
  private def stagedUnder(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collect { case r: LogicalRDD => r.rdd.id }.toSet

  // two triangles joined by a bridge, plus a tail
  private def edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L),
    (4L, 5L), (5L, 6L), (6L, 4L), (6L, 7L)).toDF("u", "v")

  test("every iterative operator leaves staged only the frames its result is built on") {
    val runs: Seq[(String, () => DataFrame)] = Seq(
      "connectedComponents" -> (() => Graph.connectedComponents(edges, "u", "v")),
      "pageRank" -> (() => Graph.pageRank(edges, "u", "v", iterations = 3)),
      "pageRankWeighted" -> (() => Graph.pageRankWeighted(
        edges.withColumn("w", $"u" + 1), "u", "v", "w", iterations = 3)),
      "personalizedPageRank" -> (() => Graph.personalizedPageRank(
        edges, "u", "v", Seq(1L).toDF("s"), "s", iterations = 3)),
      "kCore" -> (() => Graph.kCore(edges, "u", "v", k = 2)),
      "labelPropagation" -> (() => Graph.labelPropagation(edges, "u", "v", iterations = 3)),
      "hits" -> (() => Graph.hits(edges, "u", "v", iterations = 2)),
      "bradleyTerry" -> (() => Eval.bradleyTerry(
        Seq(("a", "b", true), ("b", "c", true), ("c", "a", false), ("a", "c", true),
          ("b", "a", false)).toDF("a", "b", "a_wins"), "a", "b", "a_wins", iterations = 3)),
      "resolveRedirects" -> (() => UrlOps.resolveRedirects(
        Seq(("u1", 301, "u2"), ("u2", 302, "u3"), ("u3", 200, null), ("u4", 301, "u4"))
          .toDF("url", "status", "location"), "url", "status", "location")),
      "bpeMerges" -> (() => TextAnalysis.bpeMerges(
        Seq("low lower lowest", "newer wider new").toDF("text"), "text", numMerges = 3)),
      "nearDupRepresentatives" -> (() => Dedup.nearDupRepresentatives(
        Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b"))))
    var staged = Set.empty[Int]
    val leaks = runs.flatMap { case (name, run) =>
      val before = persisted
      val out = run()
      val left = persisted -- before -- stagedUnder(out)
      // the result still reads: nothing it is built on was released
      assert(out.collect().nonEmpty, name)
      staged ++= persisted -- before
      Option.when(left.nonEmpty)(s"$name: ${left.size}")
    }
    assert(leaks.isEmpty, s"staged RDDs left that no result reads: ${leaks.mkString(", ")}")
    // what the results are built on (LPA's rounds were staged on its
    // AQE-off clone session) belongs to this thread's query scope
    assert(staged.nonEmpty)
    Stage.releaseScope()
    assert((staged & persisted).isEmpty,
      s"still persisted after the scope was released: ${(staged & persisted).toSeq.sorted}")
  }

  test("using: the staged frame is released when f throws") {
    var staged = Set.empty[Int]
    intercept[IllegalStateException] {
      Stage.using(spark.range(10).toDF()) { df =>
        staged = stagedUnder(df)
        assert(staged.subsetOf(persisted))
        throw new IllegalStateException("boom")
      }
    }
    assert(staged.size == 1)
    assert((staged & persisted).isEmpty)
  }

  test("iterate: each superseded round is released; stop reasons are reported") {
    val init = spark.range(4).toDF("x").localCheckpoint(true)
    var rounds = Vector(stagedUnder(init))
    def step(df: DataFrame) = Some(df.select(($"x" + 1).as("x")))
    def track(df: DataFrame) = { rounds :+= stagedUnder(df); false }
    val (fixed, cappedStop) = Stage.iterate(init, 3)(step, track)
    assert(!cappedStop)
    assert(fixed.as[Long].collect().sorted.toSeq == Seq(3L, 4L, 5L, 6L))
    assert(rounds.size == 4)
    assert((rounds.init.flatten.toSet & persisted).isEmpty)
    assert(rounds.last.subsetOf(persisted))

    val (same, doneStop) = Stage.iterate(fixed, 10)(step, _ => true)
    assert(doneStop && same.as[Long].collect().min == 4L)
    val (kept, noneStop) = Stage.iterate(same, 10)(_ => None)
    assert(noneStop && (kept eq same))
  }

  private val sf0001 = "/root/testdata/sf0.001"

  test("each build through SparkEntry.queries releases what the earlier builds staged") {
    // perfbench's 14 relational lanes (src/test cannot import perfbench),
    // then LPA, whose rounds stage on a clone session, and a streaming
    // query, whose batches stage on the stream's own thread and whose
    // index snapshot is released when the stream ends, not with a scope
    val lanes = Seq("q01_pricing_summary", "q10_join_broadcast",
      "q11_join_multiway", "q14_window_topn", "q15_window_running", "q21_events_hourly",
      "q36_asof_join", "q64_asof_native", "q47_sessionize", "q49_tpch_q6",
      "q51_tpch_q5", "q59_resample_locf", "q85_tpch_q21", "q228_dau_mau",
      "q329_label_prop", "q299_stream_index_dedup")
    var earlier = Set.empty[Int]
    var staging = Seq.empty[String]
    lanes.foreach { name =>
      val before = persisted
      val df = SparkEntry.queries(name)(spark, sf0001)
      val held = earlier & persisted
      assert(held.isEmpty, s"building $name left earlier lanes' RDDs ${held.toSeq.sorted}")
      df.write.format("noop").mode("overwrite").save()
      val mine = persisted -- before
      if (mine.nonEmpty) staging :+= name
      earlier ++= mine
    }
    assert(Seq("q228_dau_mau", "q329_label_prop").forall(staging.contains),
      s"lanes that staged: $staging")
  }

  test("a result read after the next build on its thread fails instead of returning rows") {
    // q228 stages a lazy frame (dauMauStickiness), q129 an eager one
    // (containmentPairs)
    for (name <- Seq("q228_dau_mau", "q129_containment_pairs")) {
      val stale = SparkEntry.queries(name)(spark, sf0001)
      assert(stale.count() > 0, name)
      SparkEntry.queries("q01_pricing_summary")(spark, sf0001): Unit
      val e = intercept[Exception](stale.collect())
      assert(String.valueOf(e.getMessage).contains("rdd_"), s"$name: $e")
    }
  }

  test("only Stage calls localCheckpoint or releaseCheckpoint in src/main") {
    val root = Paths.get("src/main")
    val owner = Paths.get("src/main/scala/graft/operators/Stage.scala")
    assert(Files.exists(owner), s"no ${owner.toAbsolutePath}")
    val walk = Files.walk(root)
    val calls =
      try walk.iterator.asScala.filter(p => p.toString.endsWith(".scala") && p != owner)
        .flatMap { p =>
          Files.readAllLines(p).asScala.zipWithIndex.collect {
            case (line, i) if line.contains("localCheckpoint(") ||
                line.contains("releaseCheckpoint(") => s"$p:${i + 1}"
          }
        }.toList
      finally walk.close()
    assert(calls.isEmpty, s"staging outside operators/Stage.scala: ${calls.mkString(", ")}")
  }
}
