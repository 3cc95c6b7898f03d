package graft.operators

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // Orthonormal-ish toy vectors with known cosines
  private val vecs = Seq(
    (0L, Array(1f, 0f, 0f, 0f)),
    (1L, Array(0.9f, 0.1f, 0f, 0f)),   // close to 0
    (2L, Array(0f, 1f, 0f, 0f)),       // orthogonal to 0
    (3L, Array(-1f, 0f, 0f, 0f)),      // opposite of 0
    (4L, Array(0.7f, 0.7f, 0f, 0f))    // 45° to 0 and 2
  ).toDF("vec_id", "embedding")

  test("brute-force top-k ranks by cosine with deterministic tiebreak") {
    val got = Similarity.bruteForceTopK(vecs, vecs.filter($"vec_id" === 0L), k = 3)
      .collect().map(r => (r.getAs[Long]("corpus_id"), r.getAs[Int]("rank")))
    assert(got.sortBy(_._2).map(_._1).toSeq == Seq(1L, 4L, 2L))
  }

  test("threshold pairs: exact cosine values") {
    val got = Similarity.thresholdPairs(vecs, 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((0L, 1L))) // cos(0,1)=0.9938...
  }

  test("cosine math: orthogonal=0, opposite=-1") {
    import org.apache.spark.sql.functions._
    import graft.functions.VectorFunctions._
    val r = vecs.filter($"vec_id" === 0L).crossJoin(
      vecs.filter($"vec_id" === 2L).select($"embedding".as("b")))
      .select(cosineSimilarity($"embedding", $"b")).head()
    assert(math.abs(r.getDouble(0)) < 1e-7)
    val r2 = vecs.filter($"vec_id" === 0L).crossJoin(
      vecs.filter($"vec_id" === 3L).select($"embedding".as("b")))
      .select(cosineSimilarity($"embedding", $"b")).head()
    assert(math.abs(r2.getDouble(0) + 1.0) < 1e-7)
  }

  test("banded LSH top-k: high recall where the single signature fails") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val probes = emb.filter($"vec_id" < 5)
    val exact = Similarity.bruteForceTopK(emb, probes, k = 10)
      .collect().map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("corpus_id"))).toSet
    val banded = Similarity.bandedLshTopK(emb, probes, k = 10)
      .collect().map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("corpus_id"))).toSet
    val recall = (exact intersect banded).size.toDouble / exact.size
    assert(recall >= 0.8, s"banded LSH recall too low: $recall") // measured 0.94
  }

  test("persisted LSH index: served == in-query bit-exact; append == one-shot; pruned scan") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val probes = emb.filter($"vec_id" < 5)
    val dir = java.nio.file.Files.createTempDirectory("lsh_idx_").toString
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("probe_id"),
        r.getAs[Long]("corpus_id"), r.getAs[Double]("cosine"),
        r.getAs[Int]("rank"))).toSet
    // one-shot build == in-query banding, bit-exact (cosines included)
    Similarity.writeLshIndex(emb, s"$dir/one")
    val inQuery = key(Similarity.bandedLshTopK(emb, probes, k = 10))
    val served = key(Similarity.bandedLshTopKFromIndex(spark, s"$dir/one", probes, k = 10))
    assert(served == inQuery)
    // frozen-model append: index 2/3 then append the rest == one-shot
    Similarity.writeLshIndex(emb.filter($"vec_id" % 3 =!= 0), s"$dir/inc")
    Similarity.appendToLshIndex(emb.filter($"vec_id" % 3 === 0), s"$dir/inc")
    val appended = key(Similarity.bandedLshTopKFromIndex(spark, s"$dir/inc", probes, k = 10))
    assert(appended == inQuery)
    // the candidate scan must PRUNE — join-based: the broadcast probe
    // key frame comes back as DYNAMIC partition-pruning filters
    // (band IN <subquery>, key IN <subquery>) on the bands scan, with
    // no driver collect and no per-pair OR literal in the plan
    val plan = Similarity.bandedLshTopKFromIndex(spark, s"$dir/one", probes, k = 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruningexpression"), plan.take(2000))
    assert(plan.contains("PartitionFilters: ["), plan.take(2000))
  }

  test("per-band signatures lift the 63-bit total cap: 15x12 config, served == in-query") {
    // 15 bands x 12 planes = 180 plane bits — impossible in the old
    // single-packed-long formulation (cap: numBands*planesPerBand <= 63).
    // 2^12 buckets per band is the selectivity a 100 TB near-dup corpus
    // needs (candidates/band = corpus/4096, vs corpus/16 at 4-bit keys).
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val probes = emb.filter($"vec_id" < 5)
    val dir = java.nio.file.Files.createTempDirectory("lsh_wide_").toString
    Similarity.writeLshIndex(emb, s"$dir/idx", numBands = 15,
      planesPerBand = 12)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("probe_id"),
        r.getAs[Long]("corpus_id"), r.getAs[Double]("cosine"),
        r.getAs[Int]("rank"))).toSet
    val inQuery = key(Similarity.bandedLshTopK(emb, probes, k = 5,
      numBands = 15, planesPerBand = 12))
    val served = key(Similarity.bandedLshTopKFromIndex(spark, s"$dir/idx",
      probes, k = 5))
    assert(served == inQuery)
    assert(served.nonEmpty, "12-bit bands found no candidates at all")
    // the persisted fused key must stay band-disjoint: every key < 2^32
    val maxKey = spark.read.parquet(s"$dir/idx/bands")
      .agg(org.apache.spark.sql.functions.max(
        org.apache.spark.sql.functions.pmod($"bk",
          org.apache.spark.sql.functions.lit(4294967296L)))).head().getLong(0)
    assert(maxKey < 4096L, s"12-plane band key out of range: $maxKey")
  }

  test("binaryHammingTopK: sign-pattern hamming, exact-cosine final order") {
    // signs (0f counts as +): v0,v1,v2,v4 → ++++ (hamming 0 to v0);
    // v3 = (-1,0,0,0) → -+++ (hamming 1). The binary stage would rank
    // the orthogonal v2 tied with the near-twin v1 — the exact rerank
    // is what restores cosine order (brute-force: 1, 4, 2, 3).
    val got = Similarity.binaryHammingTopK(
      vecs, vecs.filter($"vec_id" === 0L), k = 4)
      .collect().map(r => (r.getAs[Long]("corpus_id"),
        r.getAs[Long]("hamming"), r.getAs[Int]("rank")))
    assert(got.sortBy(_._3).map(_._1).toSeq == Seq(1L, 4L, 2L, 3L))
    val hamming = got.map(g => g._1 -> g._2).toMap
    assert(hamming == Map(1L -> 0L, 2L -> 0L, 4L -> 0L, 3L -> 1L))
  }

  test("binaryHammingTopK: packing spans word boundaries (dim > 32)") {
    val dim = 40
    val a = (0L, Array.fill(dim)(1f))
    // flips in word 0 (dim 3) and word 1 (dim 35): hamming must be 2
    val b = (1L, Array.tabulate(dim)(i => if (i == 3 || i == 35) -1f else 1f))
    val df = Seq(a, b).toDF("vec_id", "embedding")
    val got = Similarity.binaryHammingTopK(df, df.filter($"vec_id" === 0L), k = 1)
      .collect().head
    assert(got.getAs[Long]("hamming") == 2L)
  }

  test("binaryHammingTopK: full-coverage rerank equals brute force") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val n = emb.count().toInt
    val probes = emb.filter($"vec_id" < 3)
    // rerank pool ⊇ whole corpus ⇒ the exact stage sees every vector
    // and the result is definitionally bruteForceTopK's
    val bin = Similarity.binaryHammingTopK(emb, probes, k = 5,
      rerank = n / 5 + 1)
      .collect().map(r => (r.getAs[Long]("probe_id"),
        r.getAs[Long]("corpus_id"), r.getAs[Int]("rank"))).toSet
    val exact = Similarity.bruteForceTopK(emb, probes, k = 5)
      .collect().map(r => (r.getAs[Long]("probe_id"),
        r.getAs[Long]("corpus_id"), r.getAs[Int]("rank"))).toSet
    assert(bin == exact)
  }

  test("multi-probe (±1 bit) on a wide-key index: superset of single-probe, flips=0 unchanged") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val probes = emb.filter($"vec_id" < 20)
    val dir = java.nio.file.Files.createTempDirectory("lsh_mp_").toString
    // 12-bit keys: selective enough that single-probe recall visibly
    // drops — the regime multi-probe exists for
    Similarity.writeLshIndex(emb, s"$dir/idx", numBands = 15,
      planesPerBand = 12)
    def rows(flips: Int) =
      Similarity.bandedLshTopKFromIndex(spark, s"$dir/idx", probes,
        k = 5, probeFlips = flips)
        .collect().map(r => (r.getAs[Long]("probe_id"),
          r.getAs[Long]("corpus_id"), r.getAs[Double]("cosine"),
          r.getAs[Int]("rank"))).toSet
    val single = rows(0)
    val multi = rows(1)
    // flips=0 must be bit-identical to the historical behavior
    val noFlipDefault = Similarity.bandedLshTopKFromIndex(spark,
      s"$dir/idx", probes, k = 5)
      .collect().map(r => (r.getAs[Long]("probe_id"),
        r.getAs[Long]("corpus_id"), r.getAs[Double]("cosine"),
        r.getAs[Int]("rank"))).toSet
    assert(single == noFlipDefault)
    // the multi-probe candidate set is a superset, so per probe the
    // best surfaced cosine can only improve
    def best(s: Set[(Long, Long, Double, Int)]): Map[Long, Double] =
      s.groupBy(_._1).map { case (p, g) => p -> g.map(_._3).max }
    val bs = best(single); val bm = best(multi)
    assert(bs.keySet.subsetOf(bm.keySet),
      "multi-probe lost a probe that single-probe served")
    bs.foreach { case (p, c) =>
      assert(bm(p) >= c, s"probe $p: multi ${bm(p)} < single $c") }
    // and it genuinely widens: more candidate pairs surface overall
    assert(multi.size >= single.size)
  }

  test("sign-screened served top-k: full-coverage rerank == unscreened; append parity") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val n = emb.count().toInt
    val probes = emb.filter($"vec_id" < 5)
    val dir = java.nio.file.Files.createTempDirectory("lsh_sig_").toString
    Similarity.writeLshIndex(emb, s"$dir/idx")
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("probe_id"),
        r.getAs[Long]("corpus_id"), r.getAs[Int]("rank"))).toSet
    // rerank pool covers every possible candidate ⇒ the screen is a
    // pass-through and the result must equal the unscreened serving path
    val screened = key(Similarity.bandedLshTopKFromIndexScreened(spark,
      s"$dir/idx", probes, k = 5, rerank = n / 5 + 1))
    val plain = key(Similarity.bandedLshTopKFromIndex(spark,
      s"$dir/idx", probes, k = 5))
    assert(screened == plain)
    // incremental maintenance writes sigs too: half + append == one-shot
    Similarity.writeLshIndex(emb.filter($"vec_id" % 2 === 0), s"$dir/inc")
    Similarity.appendToLshIndex(emb.filter($"vec_id" % 2 =!= 0), s"$dir/inc")
    val incr = key(Similarity.bandedLshTopKFromIndexScreened(spark,
      s"$dir/inc", probes, k = 5, rerank = 4))
    val oneShot = key(Similarity.bandedLshTopKFromIndexScreened(spark,
      s"$dir/idx", probes, k = 5, rerank = 4))
    assert(incr == oneShot)
    // appending to a pre-sigs (legacy) layout must fail fast — a partial
    // sigs table would silently drop old-corpus candidates in the
    // screened probe's inner join
    def rmrf(p: java.io.File): Unit = {
      if (p.isDirectory) Option(p.listFiles()).foreach(_.foreach(rmrf))
      p.delete(): Unit
    }
    rmrf(new java.io.File(s"$dir/inc/sigs"))
    assertThrows[IllegalArgumentException] {
      Similarity.appendToLshIndex(emb.filter($"vec_id" < 3), s"$dir/inc")
    }
  }

  test("served index is not driver-bounded: 100k probes / ~10^4 band keys, join-pruned") {
    // the old OR-disjunction prune collected every (band, key) pair and
    // built an O(pairs) literal predicate — a 10^5-probe batch with a
    // 13-bit keyspace would blow up Catalyst analysis before any data
    // moved. The join-based prune keeps the probe side distributed: the
    // only probe action is the emptiness guard, and the plan carries a
    // constant-size dynamic-pruning subquery instead of a giant Or.
    val dir = java.nio.file.Files.createTempDirectory("lsh_stress_").toString
    def synth(n: Long, path: String): org.apache.spark.sql.DataFrame = {
      spark.range(n)
        .select($"id".as("vec_id"),
          org.apache.spark.sql.functions.expr(
            "transform(sequence(0, 15), j -> cast(sin(id * 16 + j) as float))")
            .as("embedding"))
        .write.mode("overwrite").parquet(path)
      spark.read.parquet(path)
    }
    val corpus = synth(128L, s"$dir/corpus")
    val probes = synth(100000L, s"$dir/probes").filter($"vec_id" >= 0L)
    Similarity.writeLshIndex(corpus, s"$dir/idx",
      numBands = 4, planesPerBand = 13, dim = 16)
    val t0 = System.nanoTime()
    val out = Similarity.bandedLshTopKFromIndex(spark, s"$dir/idx", probes, k = 3)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruningexpression"), plan.take(2000))
    // corpus ids 0..127 are also probe ids (self-pairs excluded), so the
    // 128 corpus vectors must each find themselves via other probes;
    // the run completing in bounded time IS the stress assertion
    val n = out.count()
    val secs = (System.nanoTime() - t0) / 1e9
    assert(n > 0, "stress probe batch found no candidates")
    assert(secs < 180.0, s"100k-probe served query took ${secs}s")
  }

  test("kmvCorpusOverlap: exact set algebra when unions fit inside k") {
    // A = {0..99}, B = {50..149}: J = 50/150, |A∪B| = 150, |A∩B| = 50
    val rows = (0 until 100).map(i => ("A", s"v$i")) ++
      (50 until 150).map(i => ("B", s"v$i"))
    val df = rows.toDF("corpus", "v").repartition(7)
    val r = Similarity.kmvCorpusOverlap(df, "corpus", col("v"), 1000)
      .collect().head
    assert(r.getAs[String]("corpus_a") == "A" && r.getAs[String]("corpus_b") == "B")
    assert(r.getAs[Long]("n_shared") == 50L)
    assert(r.getAs[Double]("jaccard_est") == 50.0 / 150.0)
    assert(r.getAs[Double]("union_est") == 150.0)
    assert(r.getAs[Double]("intersect_est") == 50.0)
  }

  test("kmvCorpusOverlap: sketch estimates land near truth at k=256") {
    val rows = (0 until 3000).map(i => ("A", s"v$i")) ++
      (1500 until 4500).map(i => ("B", s"v$i"))
    val df = rows.toDF("corpus", "v")
    val r = Similarity.kmvCorpusOverlap(df, "corpus", col("v"), 256)
      .collect().head
    // truth: J = 1500/4500 = 0.333, union 4500; KMV rel-err ~ 1/sqrt(k) ≈ 6%
    assert(math.abs(r.getAs[Double]("jaccard_est") - 1.0 / 3) < 0.08,
      s"jaccard ${r.getAs[Double]("jaccard_est")}")
    assert(math.abs(r.getAs[Double]("union_est") - 4500) < 900,
      s"union ${r.getAs[Double]("union_est")}")
  }

  test("hardNegatives: only cross-label rows, top-ranked is the nearest") {
    // label 0: tight cluster at (1,0,...); label 1: cluster at (0,1,...)
    // plus one label-1 vector placed close to the label-0 cluster
    val rows = (0 until 10).map(i => (i.toLong, 0, Array(1.0f, 0.02f * i, 0f, 0f))) ++
      (10 until 20).map(i => (i.toLong, 1, Array(0.01f * i, 1.0f, 0f, 0f))) :+
      (20L, 1, Array(1.0f, 0.05f, 0f, 0f))  // the hard negative for label 0
    val df = rows.toDF("vec_id", "label", "embedding")
    val out = Similarity.hardNegatives(df, df.filter($"vec_id" === 0), "label", 5)
      .collect()
    assert(out.forall(_.getAs[Int]("c_label") == 1))
    val first = out.find(_.getAs[Int]("rank") == 1).get
    assert(first.getAs[Long]("corpus_id") == 20L)  // the planted confusable
  }

  test("hardNegatives: same-label near-identical vectors never surface") {
    val rows = Seq((1L, 7, Array(1f, 0f)), (2L, 7, Array(1f, 0.001f)),
      (3L, 8, Array(0f, 1f)))
    val df = rows.toDF("vec_id", "label", "embedding")
    val ids = Similarity.hardNegatives(df, df.filter($"vec_id" === 1), "label", 10)
      .select("corpus_id").as[Long].collect().toSet
    assert(ids == Set(3L))
  }

  test("int8QuantAudit: exactly-representable grid is lossless; errors bounded") {
    // v1's components are exact multiples of its scale (max 127 -> scale
    // 1.0, all integers in [-127,127]) -> zero reconstruction error;
    // v2 is arbitrary -> small but nonzero error bounded by scale/2 per
    // component
    val v1 = (0 until 64).map(i => ((i % 255) - 127).toFloat).toArray
    val v2 = (0 until 64).map(i => math.sin(i + 0.5).toFloat).toArray
    val df = Seq((1L, v1), (2L, v2)).toDF("vec_id", "embedding")
    val out = Similarity.int8QuantAudit(df)
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(out(1L) == ((0.0, 0.0)), s"grid vector: ${out(1L)}")
    val (rel, comp) = out(2L)
    val scale2 = v2.map(x => math.abs(x.toDouble)).max / 127.0
    assert(rel > 0.0 && comp > 0.0)
    assert(comp <= scale2 / 2 + 1e-9, s"comp $comp vs half-scale ${scale2 / 2}")
  }

  test("int8TopK: quantized ranking matches exact on well-separated vectors") {
    // the toy set's cosines are far apart (gaps ~0.2+), so int8
    // quantization error (~1/127 scale) cannot reorder the top-3
    val got = Similarity.int8TopK(vecs, vecs.filter($"vec_id" === 0L), k = 3)
      .collect().map(r => (r.getAs[Long]("corpus_id"), r.getAs[Int]("rank")))
    assert(got.sortBy(_._2).map(_._1).toSeq == Seq(1L, 4L, 2L))
  }

  test("knnLabelAgreement: neighborhood label fraction, exact ranks") {
    // probe 0 ("x"): top-3 neighbors are 1 ("x"), 4 ("y"), 2 ("y")
    // (the bruteForceTopK ranking above) -> agreement 1/3
    val labeled = Seq(
      (0L, Array(1f, 0f, 0f, 0f), "x"),
      (1L, Array(0.9f, 0.1f, 0f, 0f), "x"),
      (2L, Array(0f, 1f, 0f, 0f), "y"),
      (3L, Array(-1f, 0f, 0f, 0f), "y"),
      (4L, Array(0.7f, 0.7f, 0f, 0f), "y"))
      .toDF("vec_id", "embedding", "label")
    val r = Similarity.knnLabelAgreement(labeled,
      labeled.filter(col("vec_id") === 0L), "label", k = 3).head()
    assert(r.getAs[Long]("probe_id") == 0L)
    assert(r.getAs[String]("label") == "x")
    assert(r.getAs[Long]("k") == 3L && r.getAs[Long]("n_same") == 1L)
    assert(r.getAs[Double]("agreement") == 0.3333)
  }

  test("jlDistortionAudit: scalar multiples are distortion-free; bounds hold") {
    // projection is linear, so a scalar multiple keeps cosine 1 in BOTH
    // spaces -> that pair contributes zero error; a second distinct
    // vector gives a nonzero error bounded by the contract
    val base = (0 until 64).map(i => math.sin(i + 1).toFloat).toArray
    val double_ = base.map(_ * 2f)
    val other = (0 until 64).map(i => math.cos(2 * i + 1).toFloat).toArray
    val corpus = Seq((1L, base), (10L, double_), (11L, other))
      .toDF("vec_id", "embedding")
    val probes = corpus.filter(col("vec_id") === 1L)
    val r = Similarity.jlDistortionAudit(corpus, probes,
      outDim = 16, dim = 64, seed = 7L).head()
    assert(r.getAs[Long]("n_pairs") == 2L)
    val maxE = r.getAs[Double]("max_abs_err")
    val meanE = r.getAs[Double]("mean_abs_err")
    assert(maxE >= 0.0 && meanE <= maxE, s"mean $meanE max $maxE")
    // the scalar-multiple pair is exact -> mean is at most half the max
    // (+1e-4: both sides round 4dp independently)
    assert(meanE <= maxE / 2 + 1e-4)
    assert(r.getAs[Boolean]("within_eps") == (maxE <= 0.75))
  }

  test("normStats: quartiles, Tukey outliers, zero-vector census") {
    // norms: 3,4,5 → quartile ranks over 7 rows; one zero vector; one
    // huge-norm outlier
    val vecs = Seq(
      (1L, Array(3.0f, 0f)), (2L, Array(0f, 4.0f)), (3L, Array(3.0f, 4.0f)),
      (4L, Array(3.0f, 0f)), (5L, Array(0f, 4.0f)),
      (6L, Array(0f, 0f)), (7L, Array(300.0f, 400.0f)))
      .toDF("vec_id", "embedding")
    val r = Similarity.normStats(vecs, "embedding").collect().head
    assert(r.getAs[Long]("n_vectors") == 7L)
    // sorted norms: 0,3,3,4,4,5,500 → p25 rank ⌈1.75⌉=2 → 3;
    // p50 rank 4 → 4; p75 rank ⌈5.25⌉=6 → 5
    assert(r.getAs[Double]("p25") == 3.0)
    assert(r.getAs[Double]("p50") == 4.0)
    assert(r.getAs[Double]("p75") == 5.0)
    // fence = 5 + 1.5·2 = 8 → only the 500 norm exceeds
    assert(r.getAs[Long]("n_outliers") == 1L)
    assert(r.getAs[Long]("n_zero") == 1L)
  }

  test("matryoshkaEnergy: hand-computed fractions, dim anchor, monotone, zero-vec gate") {
    val vecs = Seq(
      (1L, Array(3.0f, 4.0f, 0f, 12.0f)),    // energies 9,25,25,169
      (2L, Array(0f, 0f, 0f, 2.0f)),          // all energy in the tail
      (3L, Array(0f, 0f, 0f, 0f)))            // zero-energy: excluded
      .toDF("vec_id", "embedding")
    val out = Similarity.matryoshkaEnergy(vecs, "vec_id", "embedding",
      Seq(1, 2, 4)).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(!out.keys.exists(_._1 == 3L), "zero-energy vector must drop")
    assert(out((1L, 1)) == 9.0 / 169.0)
    assert(out((1L, 2)) == 25.0 / 169.0)
    assert(out((1L, 4)) == 1.0)               // exact anchor at full dim
    assert(out((2L, 2)) == 0.0 && out((2L, 4)) == 1.0)
    // per-vector monotone non-decreasing in d
    for (id <- Seq(1L, 2L))
      assert(Seq(1, 2, 4).map(d => out((id, d))) ==
        Seq(1, 2, 4).map(d => out((id, d))).sorted)
    // census rolls the same frame up with integer-exact thresholds
    val c = Similarity.matryoshkaEnergyCensus(vecs, "vec_id", "embedding",
      Seq(1, 2, 4)).collect()
      .map(r => r.getInt(0) -> r).toMap
    assert(c(4).getAs[Long]("n_vecs") == 2L)
    assert(c(4).getAs[Long]("n_ge_99") == 2L)
    assert(c(1).getAs[Long]("n_ge_50") == 0L)
    assert(c(4).getAs[Double]("share_ge_90") == 1.0)
    // narrow plan: the per-row audit must not shuffle
    val p = Similarity.matryoshkaEnergy(vecs, "vec_id", "embedding",
      Seq(1, 2)).queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), "matryoshka audit must not shuffle")
  }

  test("meanDirectionAnisotropy: aligned=1, antipodal=0, orthogonal=1/2, tie to low dim") {
    def pad(xs: (Int, Float)*): Array[Float] = {
      val a = new Array[Float](64); xs.foreach { case (i, v) => a(i) = v }; a
    }
    // two identical vectors: all energy on the mean direction → exactly 1
    val aligned = Seq((1L, pad(0 -> 3f)), (2L, pad(0 -> 3f)))
      .toDF("vec_id", "embedding")
    val r1 = Similarity.meanDirectionAnisotropy(aligned, "vec_id", "embedding")
      .collect().head
    assert(r1.getAs[Double]("anisotropy") == 1.0)
    assert(r1.getAs[Int]("top_dim") == 0 && r1.getAs[Double]("top_share") == 1.0)
    assert(r1.getAs[String]("total_energy") == "18.00000000")
    // v and -v cancel: the mean direction carries nothing
    val anti = Seq((1L, pad(5 -> 2f)), (2L, pad(5 -> -2f)))
      .toDF("vec_id", "embedding")
    assert(Similarity.meanDirectionAnisotropy(anti, "vec_id", "embedding")
      .collect().head.getAs[Double]("anisotropy") == 0.0)
    // e1 and e3: ‖S‖²=2, n·E=4 → 1/2; |S| ties at dims 1 and 3 → low dim wins
    val ortho = Seq((1L, pad(1 -> 1f)), (2L, pad(3 -> 1f)))
      .toDF("vec_id", "embedding")
    val r3 = Similarity.meanDirectionAnisotropy(ortho, "vec_id", "embedding")
      .collect().head
    assert(r3.getAs[Double]("anisotropy") == 0.5)
    assert(r3.getAs[Int]("top_dim") == 1)
    assert(r3.getAs[Double]("top_share") == 0.5)
  }

  test("meanPairwiseCosine: identity matches the O(n²) brute force") {
    // label 1: identical directions → 1.0; label 2: two orthogonal → 0.0;
    // label 3: singleton → NULL
    val vs = Seq(
      (0L, Array(1f, 0f, 0f, 0f), 1), (1L, Array(2f, 0f, 0f, 0f), 1),
      (2L, Array(3f, 0f, 0f, 0f), 1),
      (3L, Array(1f, 0f, 0f, 0f), 2), (4L, Array(0f, 1f, 0f, 0f), 2),
      (5L, Array(1f, 1f, 0f, 0f), 3)).toDF("vec_id", "embedding", "label")
    val out = Similarity.meanPairwiseCosine(vs)
      .collect().map(r => r.getInt(0) -> (if (r.isNullAt(2)) None
        else Some(r.getAs[Double]("mean_pairwise_cosine")))).toMap
    assert(out(1).contains(1.0) && out(2).contains(0.0) && out(3).isEmpty)
    // real embeddings: identity == brute-force mean over all pairs
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .filter($"label" === 1)
    val got = Similarity.meanPairwiseCosine(emb)
      .head().getAs[Double]("mean_pairwise_cosine")
    val pairs = Similarity.thresholdPairs(emb, -2.0) // every pair
      .collect().map(_.getAs[Double]("cosine"))
    val brute = pairs.sum / pairs.length
    assert(math.abs(got - brute) < 1e-3, s"identity $got vs brute $brute")
  }

  test("labelCentroidDrift: identical snapshot → cosine 1; flipped → -1; scaled → norm ratio") {
    val a = Seq(
      (0L, Array(1f, 0f, 0f, 0f), 1),
      (1L, Array(0f, 1f, 0f, 0f), 1),
      (2L, Array(0f, 0f, 1f, 0f), 2),
      (3L, Array(0f, 0f, 1f, 0f), 3)).toDF("vec_id", "embedding", "label")
    // B: label 1 identical (2 copies → same centroid), label 2 flipped,
    // label 3 same direction but 2× magnitude; label 4 only in B (drops)
    val b = Seq(
      (10L, Array(1f, 0f, 0f, 0f), 1),
      (11L, Array(0f, 1f, 0f, 0f), 1),
      (12L, Array(0f, 0f, -1f, 0f), 2),
      (13L, Array(0f, 0f, 2f, 0f), 3),
      (14L, Array(0f, 1f, 0f, 0f), 4)).toDF("vec_id", "embedding", "label")
    val out = Similarity.labelCentroidDrift(a, b, "label")
      .collect().map(r => r.getInt(0) -> ((r.getAs[Long]("n_a"),
        r.getAs[Long]("n_b"), r.getAs[Double]("centroid_cosine"),
        r.getAs[Double]("norm_ratio")))).toMap
    assert(out.keySet == Set(1, 2, 3)) // label 4 has no A side
    assert(out(1) == ((2L, 2L, 1.0, 1.0)))
    assert(out(2)._3 == -1.0 && out(2)._4 == 1.0)
    assert(out(3)._3 == 1.0 && out(3)._4 == 0.5) // |cA|/|cB| = 1/2
    // null/empty embeddings contribute no components, so they must not
    // count either (round-8 advisory: counts re-enter via norm_ratio) —
    // adding them to B leaves every number, including n_b, unchanged
    val bNoisy = b.unionByName(Seq(
      (15L, null.asInstanceOf[Array[Float]], 1),
      (16L, Array.empty[Float], 3)).toDF("vec_id", "embedding", "label"))
    val noisy = Similarity.labelCentroidDrift(a, bNoisy, "label")
      .collect().map(r => r.getInt(0) -> ((r.getAs[Long]("n_a"),
        r.getAs[Long]("n_b"), r.getAs[Double]("centroid_cosine"),
        r.getAs[Double]("norm_ratio")))).toMap
    assert(noisy == out)
  }

  test("mmrSelect: diversity beats relevance, exact hand-traced greedy") {
    // A (1,0) rel 1.0; B (1,0) rel 0.9 (A's echo); C (0,1) rel 0.5.
    // λ=0.5: pick A (0.5), then C (0.25 beats B's 0.45−0.5 = −0.05),
    // then B with max_sim 1 against A.
    val df = Seq(
      (1L, 1.0, Seq(1f, 0f)), (2L, 0.9, Seq(1f, 0f)),
      (3L, 0.5, Seq(0f, 1f)),
      (4L, 0.8, Seq(0f, 0f)) // zero-norm: excluded
    ).toDF("id", "rel", "embedding")
    val out = Similarity.mmrSelect(df, "id", "rel", "embedding",
      k = 3, lambda = 0.5).orderBy("rank").collect()
    assert(out.map(_.getAs[Long]("id")).toSeq == Seq(1L, 3L, 2L))
    assert(out.map(_.getAs[Double]("mmr_score")).toSeq ==
      Seq(0.5, 0.25, -0.05))
    assert(out.map(_.getAs[Double]("max_sim")).toSeq == Seq(0.0, 0.0, 1.0))
    assert(out.map(_.getAs[Long]("rank")).toSeq == Seq(1L, 2L, 3L))
  }

  test("mmrSelect: throws when the pool can't fill k") {
    val df = Seq((1L, 1.0, Seq(1f, 0f))).toDF("id", "rel", "embedding")
    intercept[IllegalArgumentException] {
      Similarity.mmrSelect(df, "id", "rel", "embedding", k = 2,
        lambda = 0.5).collect()
    }
  }

  test("bruteForceTopKL2: a null-embedding corpus row never ranks (NULLS FIRST guard)") {
    val corpus = Seq(
      (1L, Seq(1f, 0f)), (2L, Seq(0.9f, 0f)),
      (3L, null.asInstanceOf[Seq[Float]])) // would rank #1 pre-fix
      .toDF("vec_id", "embedding")
    val probes = Seq((10L, Seq(1f, 0f))).toDF("vec_id", "embedding")
    val got = Similarity.bruteForceTopKL2(corpus, probes, k = 2)
      .orderBy("rank").collect().map(_.getLong(1)).toSeq
    assert(got == Seq(1L, 2L))
  }
}
