package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class PqIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Two well-separated clusters per subspace half: vectors whose first
    * half is near +1s / second half near -1s, and the mirror image.
    */
  private def clusteredCorpus(n: Int, dim: Int) = {
    (0 until n).map { i =>
      val sign = if (i % 2 == 0) 1.0f else -1.0f
      val noise = (i % 7) * 0.01f
      (i.toLong, Array.tabulate(dim)(d =>
        (if (d < dim / 2) sign else -sign) + noise))
    }.toDF("vec_id", "embedding")
  }

  test("train/encode: same-cluster vectors share codes, opposite differ") {
    val df = clusteredCorpus(40, 16)
    val model = PqIndex.train(df, dim = 16, m = 4, k = 2, iterations = 3)
    val codes = PqIndex.encode(df, model)
      .select("vec_id", "codes").as[(Long, Seq[Int])].collect().toMap
    assert(codes(0L) == codes(2L))       // same cluster, tiny noise apart
    assert(codes(1L) == codes(3L))
    assert(codes(0L) != codes(1L))       // mirror cluster gets other codes
  }

  test("encode is a pure per-row map (zero shuffles)") {
    val df = clusteredCorpus(8, 16)
    val model = PqIndex.train(df, dim = 16, m = 4, k = 2, iterations = 1)
    val p = PqIndex.encode(df, model).queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), "encode must not shuffle")
  }

  test("adcTopK ranks same-cluster candidates first and excludes self") {
    val df = clusteredCorpus(40, 16)
    val model = PqIndex.train(df, dim = 16, m = 4, k = 2, iterations = 3)
    val codes = PqIndex.encode(df, model)
    val top = PqIndex.adcTopK(codes, df.filter(col("vec_id") === 0), model,
      k = 10).select("corpus_id", "rank").as[(Long, Int)].collect()
    assert(top.length == 10)
    assert(!top.map(_._1).contains(0L))
    // every returned neighbor of an even (cluster-A) probe is even
    assert(top.forall(_._1 % 2 == 0))
  }

  test("adc distance of an identically-coded vector is the table minimum") {
    val df = clusteredCorpus(40, 16)
    val model = PqIndex.train(df, dim = 16, m = 4, k = 2, iterations = 3)
    val codes = PqIndex.encode(df, model)
    val out = PqIndex.adcTopK(codes, df.filter(col("vec_id") === 0), model, k = 39)
      .select("corpus_id", "adc_dist").as[(Long, Double)].collect().toMap
    // same-code candidates all share one ADC distance; cross-cluster is larger
    val sameCluster = out.filter(_._1 % 2 == 0).values.toSet
    val crossCluster = out.filter(_._1 % 2 == 1).values.toSet
    assert(crossCluster.min > sameCluster.max)
  }

  test("adcTopK join is a broadcast; corpus codes never shuffle") {
    val df = clusteredCorpus(20, 16)
    val model = PqIndex.train(df, dim = 16, m = 4, k = 2, iterations = 1)
    val codes = PqIndex.encode(df, model)
    val p = PqIndex.adcTopK(codes, df.filter(col("vec_id") < 2), model, k = 5)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(800))
  }

  test("train rejects a dim that does not split into m subspaces") {
    intercept[IllegalArgumentException] {
      PqIndex.train(clusteredCorpus(4, 16), dim = 16, m = 3)
    }
  }

  test("train fails fast (not None.get) when the corpus has fewer than k vectors") {
    val e = intercept[IllegalArgumentException] {
      PqIndex.train(clusteredCorpus(4, 16).limit(10), dim = 16, m = 4, k = 16)
    }
    assert(e.getMessage.contains("seed"), e.getMessage)
  }

  test("a failing train releases its cached subvectors") {
    def persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val before = persisted
    intercept[IllegalArgumentException] {
      PqIndex.train(clusteredCorpus(4, 16), dim = 16, m = 4, k = 16)
    }
    assert(persisted == before)
  }

  test("encode drops null/wrong-dim embeddings instead of code-0 garbage") {
    import spark.implicits._
    val model = PqIndex.train(clusteredCorpus(4, 16), dim = 16, m = 4, k = 4)
    val mixed = Seq(
      (100L, Array.fill(16)(1.0f)),
      (101L, null.asInstanceOf[Array[Float]]),
      (102L, Array.fill(12)(1.0f))) // short vector
      .toDF("vec_id", "embedding")
    val ids = PqIndex.encode(mixed, model).collect().map(_.getLong(0)).toSet
    assert(ids == Set(100L))
  }
}
