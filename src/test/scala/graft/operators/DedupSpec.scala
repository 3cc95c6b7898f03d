package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class DedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 0
    (2L, "the quick brown fox jumps over the lazy dog near the river bend today"), // near dup of 0
    (3L, "spark engines optimize distributed queries with catalyst and tungsten runtime"),
    (4L, "completely different content about cooking pasta with tomato sauce and basil"),
    (5L, "spark engines optimize distributed queries with catalyst and tungsten runtime")  // exact dup of 3
  ).toDF("doc_id", "text")

  test("exact dedup by content value keeps min id and counts copies") {
    val got = Dedup.exactGroupsByValue(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 2L, 2L -> 1L, 3L -> 2L, 4L -> 1L))
  }

  test("minhash LSH finds exact and near dups, not unrelated pairs") {
    val pairs = Dedup.minHashNearDups(docs, "doc_id", "text",
      shingleSize = 3, numHashes = 16, numBands = 8, jaccardThreshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)), "exact dup pair")
    assert(pairs.contains((3L, 5L)), "exact dup pair")
    assert(pairs.contains((0L, 2L)) || pairs.contains((1L, 2L)), "near dup pair")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L), "unrelated doc paired")
  }

  test("simhash: identical texts have distance 0; near dups small; jaccard rerank sane") {
    val sigs = Dedup.simHashSignatures(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(0L) == sigs(1L))
    assert(sigs(3L) == sigs(5L))
    assert(java.lang.Long.bitCount(sigs(0L) ^ sigs(2L)) <= 16)
    assert(java.lang.Long.bitCount(sigs(0L) ^ sigs(4L)) > 16)

    val pairs = Dedup.simHashNearDups(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)) && pairs.contains((3L, 5L)))
  }

  test("ngram jaccard pairs catch char-level near dups") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 5, threshold = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs.get((0L, 1L)).contains(1.0))
    assert(pairs.contains((0L, 2L)))
    assert(!pairs.contains((0L, 4L)))
  }

  test("winnowing near-dups: catches verbatim overlap inside dissimilar docs") {
    val overlap = "the exact same long passage appears verbatim in both documents here"
    val df = Seq(
      (0L, s"alpha beta gamma $overlap delta epsilon"),
      (1L, s"unrelated framing text but $overlap with other words"),
      // negative control: words < k chars so no ≥k-length substring can be
      // shared with the others (winnowing guarantees are substring-based)
      (2L, "zz yy xx qq ww ee rr tt uu ii oo pp aa ss dd ff gg hh jj kk ll")
    ).toDF("doc_id", "text")
    val pairs = Dedup.winnowNearDups(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("winnowNearDupsDense equals the fingerprint-join form on real docs") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b", "shared_fingerprints")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val sparse = canon(Dedup.winnowNearDups(docs, "doc_id", "text", minShared = 30))
    val dense = canon(Dedup.winnowNearDupsDense(docs, "doc_id", "text", minShared = 30))
    assert(sparse == dense)
    assert(dense.nonEmpty)
  }

  test("pairs-scoped winnowOverlaps equals the corpus-wide form filtered to the pairs") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val pairs = Dedup.winnowNearDupsDense(docs, "doc_id", "text", minShared = 30)
      .select("id_a", "id_b")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b", "hash", "pos_a", "pos_b")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getInt(3), r.getInt(4))).toSet
    val scoped = canon(Dedup.winnowOverlaps(docs, "doc_id", "text", pairs, k = 8, window = 6))
    val global = canon(Dedup.winnowOverlaps(docs, "doc_id", "text", k = 8, window = 6)
      .join(pairs, Seq("id_a", "id_b")))
    assert(scoped == global)
    assert(scoped.nonEmpty)
  }

  test("winnow overlaps localize the shared substring (positions point at equal grams)") {
    val shared = "identical shared passage for localization"
    val d1 = s"AAAA $shared BBBB"
    val d2 = s"CCCCCCCC $shared DD"
    val df = Seq((1L, d1), (2L, d2)).toDF("doc_id", "text")
    val rows = Dedup.winnowOverlaps(df, "doc_id", "text", k = 8, window = 4).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (pa, pb) = (r.getAs[Int]("pos_a"), r.getAs[Int]("pos_b"))
      assert(d1.substring(pa, pa + 8) == d2.substring(pb, pb + 8),
        s"positions $pa/$pb do not point at equal 8-grams")
    }
  }

  test("winnow positions: a passage repeated at two sites keeps both offsets") {
    val passage = "repeated boilerplate passage markerX"
    val doc = s"$passage yyy zzz filler words qqq $passage end"
    val df = Seq((1L, doc), (2L, passage)).toDF("doc_id", "text")
    val pairs = Dedup.winnowOverlaps(df, "doc_id", "text", k = 8, window = 4)
      .collect().map(_.getAs[Int]("pos_a")).toSet
    // doc 1 shares the passage with doc 2 at BOTH occurrence sites
    val secondSite = doc.indexOf(passage, 1)
    assert(pairs.exists(_ < passage.length), s"first site missing: $pairs")
    assert(pairs.exists(_ >= secondSite), s"second site missing: $pairs")
  }

  test("bandingFor: S-curve midpoint at or below the threshold") {
    assert(Dedup.bandingFor(0.5, 16) == ((8, 2)))   // midpoint ~0.354
    assert(Dedup.bandingFor(0.8, 16) == ((4, 4)))   // midpoint ~0.707
    assert(Dedup.bandingFor(0.95, 16) == ((2, 8)))  // midpoint ~0.917
    assert(Dedup.bandingFor(0.05, 16) == ((16, 1))) // nothing below → loosest
  }

  test("nearDupRepresentatives: fixpoint on a chain longer than any hop bound") {
    // chain 0-1-2-…-12: a fixed small hop count would leave the tail
    // mislabeled — the convergence-checked loop must collapse the whole
    // chain to rep 0. The per-pass localCheckpoint keeps plan depth
    // constant (without it the plan doubles per pass and analysis hangs).
    val pairs = (0L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val labels = Dedup.nearDupRepresentatives(pairs)
    // plan depth constant: the checkpointed plan is a scan, not 12 nested joins
    val planSize = labels.queryExecution.analyzed.collect { case p => p }.size
    assert(planSize <= 10, s"lineage not truncated: $planSize-node plan")
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 13)
    got.foreach { case (id, rep) => assert(rep == 0L, s"node $id stuck at $rep") }
  }

  test("spanDedup: repeated paragraph excised at later occurrences only") {
    val boiler = "the quick brown fox jumps over the lazy dog again".split(" ").toSeq // 10 tokens
    val docs = Seq(
      (1L, Seq("alpha", "beta") ++ boiler ++ Seq("gamma")),
      (2L, Seq("delta") ++ boiler ++ Seq("epsilon")),   // loses the paragraph
      (3L, boiler),                                      // loses everything
      (4L, Seq("zeta", "eta", "theta")))                 // too short for any span
      .toDF("doc_id", "toks")
    val out = Dedup.spanDedup(docs, "doc_id", col("toks"), spanLen = 8)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    // doc 1 is the first occurrence (min (id, pos)) — fully kept
    assert(out(1L) == ((13L, 13L, 0L,
      (Seq("alpha", "beta") ++ boiler ++ Seq("gamma")).mkString(" "))))
    // doc 2: the 10 boiler tokens are covered by duplicated 8-grams; the
    // surrounding singletons survive
    assert(out(2L) == ((12L, 2L, 10L, "delta epsilon")))
    assert(out(3L) == ((10L, 0L, 10L, "")))
    assert(out(4L) == ((3L, 3L, 0L, "zeta eta theta")))
  }

  test("spanDedup minMatchLen: short repeats survive where the 8-gram rule excises") {
    // doc 1 holds the winner copies; doc 2 repeats a 40-token region
    // (one island, length 40) and a 10-token region (island length 10)
    val longDup = (1 to 40).map(i => s"l$i")
    val shortDup = (1 to 10).map(i => s"s$i")
    val docs = Seq(
      (1L, longDup ++ Seq("alpha", "beta") ++ shortDup),
      (2L, Seq("pre", "amble") ++ longDup ++ Seq("middle") ++ shortDup ++ Seq("post")))
      .toDF("doc_id", "toks")
    def run(minLen: Int) =
      Dedup.spanDedup(docs, "doc_id", col("toks"), spanLen = 8,
        minMatchLen = minLen)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(3), r.getString(4)))).toMap
    // plain 8-gram rule (default): BOTH regions excise from doc 2
    val base = run(0)
    assert(base(1L)._1 == 0L)
    assert(base(2L) == ((50L,
      (Seq("pre", "amble", "middle") :+ "post").mkString(" "))))
    // Lee-style 30-token floor: the 10-token island survives, the
    // 40-token island still excises — the thresholds disagree
    val strict = run(30)
    assert(strict(1L)._1 == 0L)
    assert(strict(2L) == ((40L,
      (Seq("pre", "amble", "middle") ++ shortDup :+ "post").mkString(" "))))
    // a floor above every island length removes nothing
    val all = run(100)
    assert(all(2L)._1 == 0L)
  }

  test("spanDedup minMatchLen: abutting dup grams merge into one region; gaps split") {
    // docs 2 and 3 repeat the same two 12-token blocks from doc 1; in
    // doc 2 a fresh token separates them (two 12-islands — the last
    // a-gram and first b-gram sit 9 apart, > spanLen, so coverage has
    // a hole), in doc 3 they are contiguous (coverage abuts at exactly
    // spanLen → ONE merged 24-island)
    val a = (1 to 12).map(i => s"a$i"); val b = (1 to 12).map(i => s"b$i")
    val docs = Seq(
      (1L, a ++ Seq("x") ++ b),
      (2L, Seq("p") ++ a ++ Seq("q") ++ b ++ Seq("r")),
      (3L, Seq("u") ++ a ++ b ++ Seq("v")))
      .toDF("doc_id", "toks")
    val out = Dedup.spanDedup(docs, "doc_id", col("toks"), spanLen = 8,
      minMatchLen = 20)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(out(1L) == 0L) // winner copies all live in doc 1
    assert(out(2L) == 0L) // two 12-islands, both under the 20 floor
    assert(out(3L) == 24L) // one merged 24-island >= 20 → excised
  }

  test("spanDedup: hot-gram cap routes boilerplate around the window, output bit-identical") {
    // 30 docs all sharing one 8-token boilerplate span (gram count 30,
    // far over cap=3) plus a lightly-duplicated cold span (count 2) and
    // unique filler. The capped run must equal the uncapped run exactly:
    // the min(struct(id, pos)) winner on the hot path is the same row
    // the window's (id, pos) order keeps.
    val hot = (1 to 8).map(i => s"h$i")
    val cold = (1 to 8).map(i => s"c$i")
    val docs = ((1L to 30L).map { i =>
      val filler = Seq(s"u${i}a", s"u${i}b")
      if (i <= 2L) (i, filler ++ hot ++ cold) else (i, filler ++ hot)
    }).toDF("doc_id", "toks")
    def run(cap: Int) =
      Dedup.spanDedup(docs, "doc_id", col("toks"), spanLen = 8,
        hotGramCap = cap, hotSampleRate = 1)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getString(4))).sortBy(_._1).toSeq
    val capped = run(3)
    assert(capped == run(1000000), "capped output diverged from uncapped")
    // sampled detection (default rate) must also be output-identical —
    // routing is correctness-neutral whatever the sample catches
    val sampled = Dedup.spanDedup(docs, "doc_id", col("toks"), spanLen = 8,
      hotGramCap = 3, hotSampleRate = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4))).sortBy(_._1).toSeq
    assert(sampled == capped, "sampled-detection output diverged")
    // winner semantics: doc 1 (min id) keeps both spans; every other doc
    // loses the hot span; doc 2 also loses the cold span
    val byId = capped.map(t => t._1 -> t).toMap
    assert(byId(1L)._3 == 18L && byId(1L)._4 == 0L)
    assert(byId(2L)._4 == 16L && byId(2L)._5 == "u2a u2b")
    assert(byId(17L)._4 == 8L && byId(17L)._5 == "u17a u17b")
    // behavior assertion on the cap: with cap=3 the hot 8-gram's 30
    // occurrences must NOT flow into the row_number window — the plan
    // still contains the window (cold path) but the broadcast-join hot
    // path exists alongside it
    val plan = Dedup.spanDedup(docs, "doc_id", col("toks"), spanLen = 8,
      hotGramCap = 3, hotSampleRate = 1).queryExecution.optimizedPlan.toString
    assert(plan.contains("Window") || plan.toLowerCase.contains("row_number"),
      "cold window path missing")
    assert(plan.toLowerCase.contains("union"), "hot/cold split missing from plan")
  }

  test("spanDedup: in-document repetition keeps only the first site") {
    val span = (1 to 9).map(i => s"w$i")
    val doc = span ++ Seq("mid") ++ span
    val out = Dedup.spanDedup(Seq((7L, doc)).toDF("doc_id", "toks"),
      "doc_id", col("toks"), spanLen = 9)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getString(4))).head
    assert(out == ((19L, 10L, (span ++ Seq("mid")).mkString(" "))))
  }

  test("selectCanonical: best-score member kept per cluster, singletons keep themselves") {
    // cluster {1,2,3} (chain), cluster {7,8}; 5 is a singleton
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("id_a", "id_b")
    val docs = Seq(
      (1L, 10L), (2L, 99L), (3L, 50L),       // best = 2
      (5L, 7L),                              // singleton
      (7L, 40L), (8L, 40L))                  // tie → lowest id 7
      .toDF("doc_id", "q")
    val out = Dedup.selectCanonical(docs, "doc_id", col("q"), pairs)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    assert(out(1L) == ((1L, 2L, 3L, false)))
    assert(out(2L) == ((1L, 2L, 3L, true)))
    assert(out(3L) == ((1L, 2L, 3L, false)))
    assert(out(5L) == ((5L, 5L, 1L, true)))
    assert(out(7L) == ((7L, 7L, 2L, true)))
    assert(out(8L) == ((7L, 7L, 2L, false)))
  }

  test("exactGroupsNormalized: case/whitespace variants collapse, raw dedup misses them") {
    val docs = Seq(
      (1L, "Hello  World"),
      (2L, "hello world"),
      (3L, "  HELLO\tWORLD "),
      (4L, "different text"))
      .toDF("doc_id", "text")
    val norm = Dedup.exactGroupsNormalized(docs, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(norm == Set((1L, 3L), (4L, 1L)))
    val raw = Dedup.exactGroupsByValue(docs, "text", "doc_id").collect()
    assert(raw.length == 4) // raw exact dedup sees four distinct strings
  }

  test("containmentPairs: quoted short doc scores ~1 where Jaccard would miss it") {
    val short = "alpha beta gamma delta epsilon zeta"
    val long = ("x" * 1 + (1 to 40).map(i => s"filler$i").mkString(" ")) +
      " " + short + " " + (41 to 80).map(i => s"filler$i").mkString(" ")
    val docs = Seq((1L, short), (2L, long), (3L, "totally unrelated words here now"))
      .toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs, "doc_id", "text",
      shingleSize = 3, threshold = 0.8)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(got.keySet == Set((1L, 2L)))
    assert(got((1L, 2L)) == 1.0) // every 3-shingle of the short doc is in the long one
    // and the Jaccard path at 0.8 would NOT pair them (tiny union overlap)
    val jac = Dedup.minHashNearDups(docs, "doc_id", "text",
      jaccardThreshold = 0.8).collect()
    assert(!jac.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L))
  }

  test("stripBoilerplate: frequent lines removed everywhere, rare lines keep order") {
    val docs = Seq(
      (1L, Seq("cookie banner", "real content one")),
      (2L, Seq("cookie banner", "real content two")),
      (3L, Seq("cookie banner", "unique three", "cookie banner")),
      (4L, Seq("rare line")))
      .toDF("doc_id", "lines")
    // "cookie banner" is in 3 distinct docs > maxDocFreq 2 → stripped
    // everywhere, including its FIRST occurrence (unlike lineDedup)
    val out = Dedup.stripBoilerplate(docs, "doc_id", col("lines"), maxDocFreq = 2L)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((2L, 1L, "real content one")))
    assert(out(2L) == ((2L, 1L, "real content two")))
    assert(out(3L) == ((3L, 1L, "unique three")))
    assert(out(4L) == ((1L, 1L, "rare line")))
  }

  test("lineDedup: keep-first across docs, order preserved, empty docs survive") {
    val docs = Seq(
      (1L, Seq("alpha", "boiler", "beta")),
      (2L, Seq("boiler", "gamma")),        // loses 'boiler' to doc 1
      (3L, Seq("boiler", "alpha", "beta")), // loses everything
      (4L, Seq("delta", "delta")))          // in-doc dup: first position wins
      .toDF("doc_id", "lines")
    val out = Dedup.lineDedup(docs, "doc_id", col("lines"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((3L, 3L, "alpha\nboiler\nbeta")))
    assert(out(2L) == ((2L, 1L, "gamma")))
    assert(out(3L) == ((3L, 0L, "")))
    assert(out(4L) == ((2L, 1L, "delta")))
    // every distinct line survives exactly once corpus-wide
    val kept = out.values.flatMap(_._3.split("\n").filter(_.nonEmpty)).toSeq
    assert(kept.size == kept.distinct.size)
    assert(kept.toSet == Set("alpha", "boiler", "beta", "gamma", "delta"))
  }

  test("stripBoilerplateBySource: templates strip per group, not across") {
    import org.apache.spark.sql.functions._
    val mk = (w: String) => Seq.fill(10)(w).mkString(" ")
    // "footer" line repeats in BOTH docs of source A (stripped there);
    // the same line appears once in source B (kept there)
    val rows = Seq(
      (1L, "A", Seq(mk("footer"), mk("aa")).mkString(" ")),
      (2L, "A", Seq(mk("footer"), mk("bb")).mkString(" ")),
      (3L, "B", Seq(mk("footer"), mk("cc")).mkString(" ")))
    val docs = rows.toDF("doc_id", "source", "text")
      .select(col("doc_id"), col("source"),
        graft.functions.TextFunctions.tokens(col("text")).as("__toks"))
      .select(col("doc_id"), col("source"),
        QualityRules.syntheticLines(col("__toks"), 10).as("__lines"))
    val out = Dedup.stripBoilerplateBySource(docs, "doc_id", "source",
      col("__lines"), maxDocFreq = 1L)
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("n_kept"), r.getAs[String]("text_kept"))).toMap
    assert(out(1L) == (1L, mk("aa")))
    assert(out(2L) == (1L, mk("bb")))
    assert(out(3L) == (2L, Seq(mk("footer"), mk("cc")).mkString("\n")))
  }

  test("sortedNeighborhood: window pairs inside blocks, jaccard cut") {
    // same 2-char block "ab", sorted by 12-char prefix then id;
    // doc 4 lands in another block and can never pair with 1-3
    val df = Seq(
      (1L, "abc one two three four"),
      (2L, "abc one two three four five"),
      (3L, "abc zz yy xx ww"),
      (4L, "zz abc one two three four")).toDF("doc_id", "text")
    val out = Dedup.sortedNeighborhood(df, "doc_id", "text",
      prefixLen = 12, blockLen = 2, window = 3, tau = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    // (1,2): tokens {abc,one,two,three,four} vs +{five}: J = 5/6 = 0.8333
    assert(out.contains((1L, 2L)) && out((1L, 2L)) == 0.8333)
    // (1,3)/(2,3): J = 1/9, 1/10 -> cut by tau; doc 4 in block "zz"
    assert(out.keySet == Set((1L, 2L)))
  }

  test("sortedNeighborhood: window bound limits the neighborhood") {
    // four near-identical docs in one block; window=2 pairs only
    // rank-adjacent rows
    val df = (1L to 4L).map(i => (i, s"same same same t$i"))
      .toDF("doc_id", "text")
    val pairs = Dedup.sortedNeighborhood(df, "doc_id", "text",
      prefixLen = 12, blockLen = 2, window = 2, tau = 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (2L, 3L), (3L, 4L)))
  }

  test("content index: incremental append equals one-shot; dedup flags") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cidx").toString
    val hist = Seq((1L, "Alpha  Beta"), (2L, "gamma")).toDF("doc_id", "text")
    val shard = Seq(
      (10L, "alpha beta"),                     // canonical dup of 1
      (11L, "fresh content"),
      (12L, null.asInstanceOf[String])).toDF("doc_id", "text")
    Dedup.writeContentIndex(hist, "text", dir)
    val out = Dedup.dedupAgainstIndex(shard, "doc_id", "text", dir)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(out == Map(10L -> true, 11L -> false, 12L -> false))
    // append the shard; a later shard dupes against shard content too,
    // and re-appending never duplicates index rows
    Dedup.appendToContentIndex(shard, "text", dir)
    val next = Seq((20L, "FRESH  content"), (21L, "brand new"))
      .toDF("doc_id", "text")
    val out2 = Dedup.dedupAgainstIndex(next, "doc_id", "text", dir)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(out2 == Map(20L -> true, 21L -> false))
    val idx = spark.read.parquet(dir)
    assert(idx.count() == idx.select("h").distinct().count())
    assert(idx.count() == 3) // alpha beta, gamma, fresh content
  }

  test("sortedNeighborhood: hot block splits into bounded sub-blocks") {
    // one 4-row block "aa" with cap 3 -> hot; re-keyed by the 4-char
    // prefix into {1,2} ("aaa ") and {3,4} ("aab "): the in-block
    // cross pairs (1,3)/(2,3)/(2,4) fall out of scope at the sub-block
    // boundary while the within-sub-block pairs survive unchanged
    val df = Seq(
      (1L, "aaa same words here"),
      (2L, "aaa same words here"),
      (3L, "aab same words here"),
      (4L, "aab same words here")).toDF("doc_id", "text")
    def run(cap: Long) = Dedup.sortedNeighborhood(df, "doc_id", "text",
      prefixLen = 12, blockLen = 2, window = 3, tau = 0.5,
      maxBlockRows = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // uncapped: sorted order 1,2,3,4 -> window-3 pairs incl. cross
    // pairs ((1,3) J=3/5=0.6 passes tau)
    assert(run(100L) == Set((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L)))
    // capped: only the sub-block pairs remain
    assert(run(3L) == Set((1L, 2L), (3L, 4L)))
  }

  test("linkageScores: log-likelihood weights, blocking, null-safe agreement") {
    import org.apache.spark.sql.functions.col
    // block A: 1-2 agree on both fields, 1-3 on one, 2-3 on one;
    // block B: isolated; 4-5 agree on f1 only across nulls (null<=>null)
    val df = Seq(
      (1L, "A", "x", Some(10)), (2L, "A", "x", Some(10)),
      (3L, "A", "y", Some(10)),
      (4L, "B", "z", None), (5L, "B", "w", None))
      .toDF("id", "blk", "f1", "f2")
    val m1 = 0.9; val u1 = 0.1; val m2 = 0.8; val u2 = 0.2
    val out = Dedup.linkageScores(df, "id", col("blk"),
      Seq(("s", col("f1"), m1, u1), ("v", col("f2"), m2, u2)),
      threshold = -100.0, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getAs[Int]("n_agree"), r.getAs[Double]("score"))).toMap
    def r4(x: Double) = BigDecimal(x).setScale(4,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    val both = r4(math.log(m1 / u1) + math.log(m2 / u2))
    val f2only = r4(math.log((1 - m1) / (1 - u1)) + math.log(m2 / u2))
    assert(out((1L, 2L)) == (2, both))
    assert(out((1L, 3L)) == (1, f2only))
    assert(out((2L, 3L)) == (1, f2only))
    // cross-block pair absent; null f2 agrees null-safely
    assert(!out.contains((1L, 4L)))
    assert(out((4L, 5L))._1 == 1)
    // threshold filters
    assert(Dedup.linkageScores(df, "id", col("blk"),
      Seq(("s", col("f1"), m1, u1), ("v", col("f2"), m2, u2)),
      threshold = both - 0.001, k = 10).count() == 1)
  }

  test("dedupSavings: winner keeps bytes, losers' bytes attributed to their source") {
    val docs = Seq(
      (1L, "srcA", "Hello  World", 100L),   // winner (min id of the group)
      (2L, "srcB", "hello world", 80L),     // loses 80 to srcB
      (3L, "srcA", " HELLO\tWORLD ", 60L), // loses 60 to srcA
      (4L, "srcB", "unique text", 50L))     // singleton
      .toDF("doc_id", "source", "text", "bytes")
    val out = Dedup.dedupSavings(docs, "doc_id", "text", "source", col("bytes"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out("srcA") == ((2L, 1L, 60L, 0.375)))   // 60/160
    assert(out("srcB") == ((2L, 1L, 80L, 80.0 / 130.0 match { case x => math.rint(x * 10000) / 10000 })))
  }

  test("dedupSavings: null-text docs count as their own winners, never dropped") {
    val docs = Seq(
      (1L, "srcA", "same text", 100L),
      (2L, "srcA", "same text", 80L),            // dup of 1
      (3L, "srcA", null.asInstanceOf[String], 60L), // null text: unique
      (4L, "srcB", null.asInstanceOf[String], 50L), // null text: unique
      (5L, "srcB", null.asInstanceOf[String], 40L)) // null ≠ null here
      .toDF("doc_id", "source", "text", "bytes")
    val out = Dedup.dedupSavings(docs, "doc_id", "text", "source", col("bytes"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // the inner-join bug dropped every null-text doc from n_docs/bytes
    assert(out("srcA") == ((3L, 1L, 80L)))
    assert(out("srcB") == ((2L, 0L, 0L)))
  }

  test("null token/line arrays yield 0 counts, not size(NULL)'s -1") {
    val lined = Seq((1L, Seq("a", "b")), (2L, null.asInstanceOf[Seq[String]]))
      .toDF("doc_id", "lines")
    val ld = Dedup.lineDedup(lined, "doc_id", col("lines"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(ld(2L) == ((0L, 0L, "")))
    val sb = Dedup.stripBoilerplate(lined, "doc_id", col("lines"), maxDocFreq = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sb(2L) == 0L)
    val sd = Dedup.spanDedup(
      Seq((1L, Seq.fill(10)("t")), (2L, null.asInstanceOf[Seq[String]]))
        .toDF("doc_id", "toks"), "doc_id", col("toks"), spanLen = 8)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(sd(2L) == ((0L, 0L, 0L, "")))
  }

  test("minHashNearDups rejects a band count that doesn't divide numHashes") {
    val docs = Seq((1L, "a b c d e f g h i j")).toDF("doc_id", "text")
    val bad = intercept[IllegalArgumentException] {
      Dedup.minHashNearDups(docs, "doc_id", "text",
        numHashes = 16, numBands = 32).collect()
    }
    assert(bad.getMessage.contains("divide"))
    intercept[IllegalArgumentException] {
      Dedup.minHashNearDups(docs, "doc_id", "text",
        numHashes = 16, numBands = 5).collect()
    }
  }

  test("clusterChainingAudit: an A-B-C chain with weak A-C gets flagged") {
    // A and C are orthogonal halves; B bridges them (high cosine to
    // both). Pair threshold 0.5: A-B and B-C pass, A-C (cos 0) fails,
    // yet transitive closure merges all three -> chained = true.
    def vec(f: Int => Double): Array[Float] =
      (0 until 64).map(i => f(i).toFloat).toArray
    val a = vec(i => if (i < 32) 1.0 else 0.0)
    val c = vec(i => if (i >= 32) 1.0 else 0.0)
    val b = vec(_ => 1.0)
    // plus an honest tight pair far from the chain
    val d1 = vec(i => if (i % 2 == 0) 1.0 else -1.0)
    val d2 = vec(i => if (i % 2 == 0) 1.0 else -0.9)
    val df = Seq((1L, a), (2L, b), (3L, c), (10L, d1), (11L, d2))
      .toDF("vec_id", "embedding")
    val out = Dedup.clusterChainingAudit(df, threshold = 0.5)
      .collect().map(r => r.getAs[Long]("cluster") ->
        ((r.getAs[Long]("size"), r.getAs[Long]("n_pairs"),
          r.getAs[Long]("audited_pairs"), r.getAs[Boolean]("chained"),
          r.getAs[Boolean]("truncated")))).toMap
    assert(out(1L) == ((3L, 3L, 3L, true, false)), s"chain cluster: ${out.get(1L)}")
    assert(out(10L)._1 == 2L && !out(10L)._4, s"tight pair: ${out.get(10L)}")
  }

  test("clusterChainingAudit: mega-cluster pair enumeration is capped") {
    // 10 identical vectors form one cluster; cap 4 -> only C(4,2)=6
    // pairs are enumerated while n_pairs reports the full C(10,2)=45
    // and truncated records the sampling. Identical members keep the
    // sampled minimum at cosine 1 -> not chained.
    def vec(f: Int => Double): Array[Float] =
      (0 until 64).map(i => f(i).toFloat).toArray
    val base = vec(i => if (i % 3 == 0) 1.0 else 0.5)
    val df = (1L to 10L).map(i => (i, base)).toDF("vec_id", "embedding")
    val out = Dedup.clusterChainingAudit(df, threshold = 0.5,
      maxAuditMembers = 4).collect()
    assert(out.length == 1, out.mkString(";"))
    val r = out.head
    assert(r.getAs[Long]("size") == 10L)
    assert(r.getAs[Long]("n_pairs") == 45L)
    assert(r.getAs[Long]("audited_pairs") == 6L)
    assert(r.getAs[Boolean]("truncated"))
    assert(!r.getAs[Boolean]("chained"))
  }

  test("dedupYieldSweep: monotone over thresholds; identical pair survives the tightest; zero-norm out of the base") {
    def vec(f: Int => Double): Array[Float] =
      (0 until 64).map(i => f(i).toFloat).toArray
    val corpus = Seq(
      (1L, vec(i => if (i < 32) 1.0 else 0.0)),
      (2L, vec(i => if (i < 32) 1.0 else 0.0)),      // identical to 1
      (3L, vec(i => if (i >= 32) 1.0 else 0.0)),     // orthogonal
      (4L, vec(i => if (i < 48) 1.0 else 0.0)),      // cos≈0.82 vs 1/2
      (5L, vec(_ => 0.0))                            // zero-norm: excluded
    ).toDF("vec_id", "embedding")
    val out = Dedup.dedupYieldSweep(corpus, thresholds = Seq(0.5, 0.9))
      .collect().map(r => r.getDouble(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // τ=0.9: only the identical pair; share over the 4 nonzero-norm docs
    assert(out(0.9) == ((1L, 2L, 0.5)))
    // τ=0.5 keeps at least the τ=0.9 survivors (monotone re-slice)
    assert(out(0.5)._1 >= out(0.9)._1 && out(0.5)._2 >= out(0.9)._2)
  }

  test("sourceOverlap: canonical variants match across sources; disjoint pairs emit no row") {
    val docs = Seq(
      (1L, "shared one", "A"), (2L, "shared two", "A"), (3L, "only a", "A"),
      (4L, "SHARED  ONE", "B"),          // case+ws variant of A's doc 1
      (5L, "Shared Two", "B"), (6L, "only b", "B"),
      (7L, "something else", "C"),
      (8L, null.asInstanceOf[String], "C") // null text never matches
    ).toDF("doc_id", "text", "source")
    val out = Dedup.sourceOverlap(docs, "doc_id", "text", "source")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    // only (A, B) overlaps: 2 shared canonicals of 3 each → J = 2/4
    assert(out.keySet == Set(("A", "B")))
    assert(out(("A", "B")) == ((3L, 3L, 2L, 0.5)))
  }
}
