package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev tool: synthesize a larger scale factor by tiling an existing
  * driver SF `mult` times with key offsets — the in-sandbox path to
  * sf≥1 execution evidence (the driver only ships sf0.001/0.01/0.1,
  * and /root/testdata is read-only).
  *
  * Scaling rules (per copy i of `mult`):
  *  - region/nation: copied verbatim (fixed-size dimensions, as in
  *    TPC-H dbgen).
  *  - customer/supplier/part/orders/lineitem/events: every key column
  *    is offset by i × (max(key)+1), so each copy is a self-contained
  *    sub-universe with intact referential integrity (orders→customer,
  *    lineitem→orders/part/supplier, events→user) and identical value/
  *    date distributions — grouped aggregates see mult× rows per group,
  *    exactly what a larger SF means.
  *  - documents: doc_id offset; for copy i > 0 the TEXT is rewritten
  *    through a seeded vocabulary ROTATION (a bijection on the token
  *    set). This preserves doc lengths, within-copy duplicate/near-dup
  *    structure (dups map to dups) and global token-frequency shape,
  *    while keeping cross-copy Jaccard low — naive copying would give
  *    every doc mult−1 exact duplicates and turn every dedup benchmark
  *    degenerate. n_chars is recomputed (token lengths change).
  *  - embeddings: vec_id offset; for copy i > 0 the vector goes through
  *    a seeded signed coordinate PERMUTATION — an orthogonal transform,
  *    so norms and all within-copy pairwise cosines are preserved
  *    bit-for-bit while cross-copy cosines decorrelate (identical
  *    copies would put mult−1 cosine-1.0 twins in every ANN top-k).
  *
  * Usage: runMain graft.GenScale <srcDir> <outDir> <mult> [tables]
  *   tables — optional comma list (e.g. "embeddings,documents") to
  *   regenerate a subset; probe sessions that only exercise one table
  *   family shouldn't pay the 600M-row lineitem tiling.
  */
object GenScale {

  private def span(df: DataFrame, key: String): Long =
    df.agg(max(col(key))).head().getLong(0) + 1L

  private def tiled(df: DataFrame, mult: Int)(
      copy: (DataFrame, Int) => DataFrame): DataFrame =
    (0 until mult).map(i => copy(df, i)).reduce(_ unionAll _)

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: GenScale <srcDir> <outDir> <mult> [tables]")
    val srcDir = args(0); val outDir = args(1); val mult = args(2).toInt
    val known = Set("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    val only: Set[String] =
      if (args.length > 3) args(3).split(",").map(_.trim).toSet else Set.empty
    // a typo'd table name must fail loudly, not produce an empty run
    // that still prints "[gen-scale] done" over stale data
    require(only.subsetOf(known),
      s"unknown tables: ${(only -- known).mkString(", ")} " +
        s"(known: ${known.toSeq.sorted.mkString(", ")})")
    def wanted(name: String): Boolean = only.isEmpty || only(name)
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()

    def src(name: String): DataFrame =
      spark.read.parquet(s"$srcDir/$name.parquet")
    // df is BY-NAME: a skipped table's tiling plan (and the lazy span
    // scans its closures force) must never be built at all
    def write(name: String, df: => DataFrame): Unit = if (wanted(name)) {
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      System.err.println(s"[gen-scale] $name written")
    }

    Seq("region", "nation").filter(wanted).foreach(n => write(n, src(n)))

    if (Seq("customer", "supplier", "part", "orders", "lineitem").exists(wanted)) {
      // lazy: each span is an agg(max) SCAN of its source — a subset
      // run must only pay for the spans its tables actually consume
      lazy val custSpan = span(src("customer"), "c_custkey")
      lazy val suppSpan = span(src("supplier"), "s_suppkey")
      lazy val partSpan = span(src("part"), "p_partkey")
      lazy val orderSpan = span(src("orders"), "o_orderkey")

      write("customer", tiled(src("customer"), mult) { (df, i) =>
        df.withColumn("c_custkey", col("c_custkey") + lit(i * custSpan)) })
      write("supplier", tiled(src("supplier"), mult) { (df, i) =>
        df.withColumn("s_suppkey", col("s_suppkey") + lit(i * suppSpan)) })
      write("part", tiled(src("part"), mult) { (df, i) =>
        df.withColumn("p_partkey", col("p_partkey") + lit(i * partSpan)) })
      write("orders", tiled(src("orders"), mult) { (df, i) =>
        df.withColumn("o_orderkey", col("o_orderkey") + lit(i * orderSpan))
          .withColumn("o_custkey", col("o_custkey") + lit(i * custSpan)) })
      write("lineitem", tiled(src("lineitem"), mult) { (df, i) =>
        df.withColumn("l_orderkey", col("l_orderkey") + lit(i * orderSpan))
          .withColumn("l_partkey", col("l_partkey") + lit(i * partSpan))
          .withColumn("l_suppkey", col("l_suppkey") + lit(i * suppSpan)) })
    }

    if (wanted("events")) {
      val ev = src("events")
      val evSpan = span(ev, "event_id")
      val userSpan = span(ev, "user_id")
      write("events", tiled(ev, mult) { (df, i) =>
        df.withColumn("event_id", col("event_id") + lit(i * evSpan))
          .withColumn("user_id", col("user_id") + lit(i * userSpan)) })
    }

    // documents: vocab rotation per copy (identity for copy 0)
    if (wanted("documents")) {
    val docs = src("documents")
    val docSpan = span(docs, "doc_id")
    val vocab = docs.select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0).distinct()
      .collect().map(_.getString(0)).sorted
    require(vocab.length < 100000, s"vocab unexpectedly large: ${vocab.length}")
    write("documents", tiled(docs, mult) { (df, i) =>
      val base = df.withColumn("doc_id", col("doc_id") + lit(i * docSpan))
      if (i == 0) base
      else {
        // rotation step coprime-ish with |V| (offset by i, step i*7+1 —
        // forced coprime by construction below) keeps the map bijective
        val v = vocab.length
        def coprimeStep(s: Int): Int = {
          @annotation.tailrec
          def gcd(a: Int, b: Int): Int = if (b == 0) a else gcd(b, a % b)
          var st = s % v; if (st <= 0) st += v
          while (gcd(st, v) != 1) st += 1
          st % v match { case 0 => 1; case x => x }
        }
        val step = coprimeStep(i * 7 + 1)
        val rotated = vocab.indices.map(j => vocab((j * step + i) % v))
        val m = map_from_arrays(
          array(vocab.map(lit(_)): _*), array(rotated.map(lit(_)): _*))
        base
          .withColumn("text", array_join(transform(split(col("text"), " "),
            w => coalesce(element_at(m, w), w)), " "))
          .withColumn("n_chars", length(col("text")).cast("long"))
      }
    })
    }

    // embeddings: signed coordinate permutation per copy (orthogonal)
    if (wanted("embeddings")) {
    val emb = src("embeddings")
    val vecSpan = span(emb, "vec_id")
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    write("embeddings", tiled(emb, mult) { (df, i) =>
      val base = df.withColumn("vec_id", col("vec_id") + lit(i * vecSpan))
      if (i == 0) base
      else {
        val rnd = new scala.util.Random(1000L + i)
        val perm = rnd.shuffle((0 until dim).toVector)
        val signs = Vector.fill(dim)(if (rnd.nextBoolean()) 1.0f else -1.0f)
        val permLit = array(perm.map(lit(_)): _*)
        val signLit = array(signs.map(lit(_)): _*)
        base.withColumn("embedding",
          zip_with(permLit, signLit, (p, s) =>
            (element_at(col("embedding"), p + 1) * s).cast("float")))
      }
    })
    }

    System.err.println(s"[gen-scale] done: $outDir = $srcDir x $mult")
    spark.stop()
  }
}
