package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

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
    val leaks = runs.flatMap { case (name, run) =>
      val before = persisted
      val out = run()
      val left = persisted -- before -- stagedUnder(out)
      // the result still reads: nothing it is built on was released
      assert(out.collect().nonEmpty, name)
      Option.when(left.nonEmpty)(s"$name: ${left.size}")
    }
    assert(leaks.isEmpty, s"staged RDDs left that no result reads: ${leaks.mkString(", ")}")
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
}
