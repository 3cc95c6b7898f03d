package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class IvfAndEmbedDedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val d = "/root/testdata/sf0.001"

  test("IVF training is deterministic and assigns every vector to a cell") {
    val emb = graft.Tables.embeddings(spark, d)
    val m1 = IvfIndex.train(emb, k = 8, iterations = 3)
    val m2 = IvfIndex.train(emb, k = 8, iterations = 3)
    assert(m1.centroids.map(_._2.toSeq).toSeq == m2.centroids.map(_._2.toSeq).toSeq)
    val assigned = IvfIndex.assign(emb, m1)
    assert(assigned.count() == emb.count())
    assert(assigned.select("cell").distinct().count() > 1)
  }

  test("cellBalanceAudit: census integers reconcile; entropy bounds hold") {
    val emb = graft.Tables.embeddings(spark, d)
    val m = IvfIndex.train(emb, k = 8, iterations = 3)
    val cells = IvfIndex.assign(emb, m).groupBy("cell").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val r = IvfIndex.cellBalanceAudit(emb, m).head()
    assert(r.getAs[Long]("cells_used") == cells.size.toLong)
    assert(r.getAs[Long]("n_vecs") == cells.values.sum)
    assert(r.getAs[Long]("max_cell") == cells.values.max)
    val h = r.getAs[Double]("entropy")
    val ratio = r.getAs[Double]("entropy_ratio")
    assert(h >= 0.0 && h <= math.log(cells.size.toDouble) + 1e-9)
    assert(ratio > 0.0 && ratio <= 1.0 + 1e-9, s"ratio $ratio")
    assert(r.getAs[Double]("balance_ratio") >= 1.0 - 1e-9)
  }

  test("IVF top-k recall vs brute force") {
    val emb = graft.Tables.embeddings(spark, d)
    val probes = emb.filter($"vec_id" < 5)
    val m = IvfIndex.train(emb, k = 8, iterations = 3)
    val exact = Similarity.bruteForceTopK(emb, probes, k = 5)
      .collect().map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("corpus_id"))).toSet
    val approx = IvfIndex.topK(emb, probes, m, k = 5, nprobe = 4)
      .collect().map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("corpus_id"))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.6, s"IVF recall too low: $recall")
  }

  test("persisted IVF index: partition-pruned probes match in-memory IVF") {
    val emb = graft.Tables.embeddings(spark, d)
    val probes = emb.filter($"vec_id" < 3)
    val m = IvfIndex.train(emb, k = 8, iterations = 3)
    val path = java.nio.file.Files.createTempDirectory("graft-ivf").resolve("idx").toString
    IvfIndex.writeIndex(emb, m, path)
    // model round-trips exactly
    val loaded = IvfIndex.loadModel(spark, path)
    assert(loaded.centroids.map(_._2.toSeq).toSeq == m.centroids.map(_._2.toSeq).toSeq)
    val fromIndex = IvfIndex.topKFromIndex(spark, path, probes, k = 5, nprobe = 4)
    val inMemory = IvfIndex.topK(emb, probes, m, k = 5, nprobe = 4)
    val a = fromIndex.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val b = inMemory.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(a == b, "index path diverged from in-memory path")
    // the scan must carry a partition filter on cell
    val scan = fromIndex.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).find(_.contains("cells")).getOrElse("")
    assert(scan.contains("PartitionFilters") && scan.contains("cell"),
      s"cell partition pruning missing: ${scan.take(300)}")
  }

  test("appendToIndex: frozen-quantizer append equals one-shot indexing of the full corpus") {
    val emb = graft.Tables.embeddings(spark, d)
    val even = emb.filter($"vec_id" % 2 === 0)
    val odd = emb.filter($"vec_id" % 2 === 1)
    val m = IvfIndex.train(even, k = 8, iterations = 3)
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_incr_spec").toString
    IvfIndex.writeIndex(even, m, path)
    IvfIndex.appendToIndex(odd, path)
    val probes = emb.filter($"vec_id" < 5)
    val incr = IvfIndex.topKFromIndex(spark, path, probes, k = 6, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    // reference: the in-memory path over the FULL corpus with the SAME model
    val oneShot = IvfIndex.topK(emb, probes, m, k = 6, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(incr == oneShot)
  }

  test("IVF training with no usable vector fails by name and releases its cache") {
    def persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val before = persisted
    val allNull = Seq((0L, null.asInstanceOf[Array[Float]]), (1L, null.asInstanceOf[Array[Float]]))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      IvfIndex.train(allNull, k = 2, iterations = 1)
    }
    assert(e.getMessage.contains("non-null embedding"), e.getMessage)
    assert(persisted == before)
  }

  test("embedding near-dup pairs + representative assignment") {
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(0.999f, 0.01f, 0f, 0f)),  // near-dup of 0
      (2L, Array(0.998f, 0.02f, 0f, 0f)),  // near-dup of 0 and 1
      (3L, Array(0f, 1f, 0f, 0f)),         // unrelated
      (4L, Array(0f, 0.999f, 0.04f, 0f))   // near-dup of 3
    ).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDups(vecs, threshold = 0.995, dim = 4)
    val got = pairs.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((0L, 1L)) && got.contains((3L, 4L)))
    assert(!got.exists(p => (p._1 == 3L) != (p._2 == 4L) && (p._1 <= 2L) != (p._2 <= 2L)))

    val reps = Dedup.nearDupRepresentatives(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reps(1L) == 0L && reps.getOrElse(2L, 0L) == 0L)
    assert(reps(4L) == 3L)
  }

  test("semDedup: within-cell τ rule drops later ids, zero-norms survive") {
    // fixed 2-cell model; vec 2 duplicates vec 1 (same cell, cos ≈ 1),
    // vec 3 lives alone in cell 1, vec 4 is zero-norm (cell 0 by the
    // distance tie-break) and must never drop
    val m = IvfIndex.Model(Array(
      0 -> Array(1.0, 0.0), 1 -> Array(0.0, 1.0)))
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.99f, 0.01f)),
      (3L, Seq(0.0f, 1.0f)), (4L, Seq(0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val out = Dedup.semDedup(vecs, m, tau = 0.9)
      .collect().map(r => r.getAs[Int]("cell") ->
        (r.getAs[Long]("n_vecs"), r.getAs[Long]("n_dropped"),
          r.getAs[Long]("n_kept"))).toMap
    assert(out(0) == ((3L, 1L, 2L)))   // 1, 2, 4 — only 2 drops
    assert(out(1) == ((1L, 0L, 1L)))
  }
}
