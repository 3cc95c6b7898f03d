package graft.functions

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftExtensions, TestSpark}
import graft.operators.UrlOps

/** The kernels called through [[KernelCall]] (one `StaticInvoke` each):
  * the same rows from generated code and from the interpreted fallback,
  * Spark's implicit casts on castable arguments, and an analysis error
  * on the rest.
  */
class KernelCallSpec extends AnyFunSuite {
  private lazy val spark = { val s = TestSpark.spark; GraftExtensions.register(s); s }

  private def png: Array[Byte] = {
    val img = new java.awt.image.BufferedImage(12, 10, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until 12; y <- 0 until 10) img.setRGB(x, y, (x * 20) << 16 | (y * 25) << 8 | 90)
    val out = new ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  private def wav: Array[Byte] = {
    import javax.sound.sampled._
    val pcm = Array.tabulate[Byte](1600)(i => (i % 64).toByte)
    val format = new AudioFormat(8000f, 16, 1, true, false)
    val out = new ByteArrayOutputStream()
    AudioSystem.write(new AudioInputStream(new java.io.ByteArrayInputStream(pcm), format, 800),
      AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  /** Null, empty and garbage rows beside well-formed ones. An RDD-backed
    * frame, so the default run compiles the projection instead of folding
    * it into a local relation.
    */
  private def fixture: DataFrame = {
    val rows = Seq(
      Row(null, null),
      Row("", Array.emptyByteArray),
      Row("\u0000ÿ%%° in mph ,,..e+ w/m", Array.tabulate[Byte](40)(i => (i * 37).toByte)),
      Row("HTTP://Ex.COM:80/a/./b/../c?id=1&utm_x=2#f", png),
      Row("23,5 °F", wav),
      Row("the quick brown fox the quick brown fox jumps over the lazy dog the quick",
        "ID3\u0003garbage".getBytes("UTF-8")),
      Row("mailto:x@y.z", "RIFF....WAVEfmt ".getBytes("UTF-8")))
    val schema = StructType(Seq(StructField("s", StringType), StructField("b", BinaryType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
  }

  /** Every converted kernel, by name; the token-array kernels run on the
    * kernel tokens (`toks_`) and on an array holding a null element
    * (`nulls_`).
    */
  private def kernels: Seq[(String, Column)] = {
    val s = col("s")
    val b = col("b")
    val toks = HashFunctions.tokenize(s)
    val sig = TextFunctions.minHashSignature(toks, 8)
    val overTokens = Seq("toks_" -> toks, "nulls_" -> array(s, lit(null).cast("string"), s))
      .flatMap { case (p, t) => Seq(
        p + "simhash64" -> HashFunctions.simhash64(t),
        p + "posGramHashes" -> HashFunctions.posGramHashes(t, 2),
        p + "termCounts" -> HashFunctions.termCounts(t),
        p + "bucketCounts" -> HashFunctions.bucketCounts(t, 7),
        p + "cdcChunkStats" -> HashFunctions.cdcChunkStats(t, 3),
        p + "wordShingles" -> HashFunctions.distinctWordShingles(t, 2),
        p + "gramRunStats" -> HashFunctions.gramRunStats(t, 2),
        p + "lineDupStats" -> HashFunctions.lineDupStats(t, 3)) }
    Seq("fnv64" -> HashFunctions.fnv64(s),
      "polyHash" -> HashFunctions.polyFingerprint(s),
      "winnowPositions" -> HashFunctions.winnowPositions(s, 3, 2),
      "tokenize" -> toks,
      "ngramHashes" -> HashFunctions.ngramHashes(s, 3),
      "winnow" -> HashFunctions.winnowFingerprint(s, 3, 2),
      "videoProbe" -> HashFunctions.videoProbe(b),
      "wavProbe" -> HashFunctions.wavProbe(b),
      "exifProbe" -> HashFunctions.exifProbe(b),
      "pngProbe" -> HashFunctions.pngProbe(b),
      "mp3Probe" -> HashFunctions.mp3Probe(b),
      "dhash64" -> HashFunctions.dhash64(b),
      "lshBandKeys" -> HashFunctions.lshBandKeys(sig, 4, 2),
      "canonicalize" -> UrlOps.canonicalizeUrl(s),
      "host" -> UrlOps.urlHost(s),
      "scheme" -> UrlOps.urlScheme(s),
      "registeredDomain" -> UrlOps.registeredDomain(s),
      "schemeKind" -> UrlOps.urlSchemeKind(s),
      "cleanValue" -> CleanValue.cleanValue(s),
      "numOrNull" -> CleanValue.numOrNull(s)) ++ overTokens
  }

  /** The kernel outputs by input text, and whether the plan compiled them
    * into a whole-stage codegen stage.
    */
  private def run(): (Map[Option[String], Row], Boolean) = {
    val df = fixture.select(
      (col("s") +: kernels.map { case (name, k) => k.as(name) }): _*)
    val codegen = df.queryExecution.executedPlan
      .collectFirst { case w: WholeStageCodegenExec => w }.isDefined
    (df.collect().map(r => Option(r.getString(0)) -> r).toMap, codegen)
  }

  test("converted kernels: identical rows from generated code and the interpreted path") {
    val (compiled, usedCodegen) = run()
    assert(usedCodegen)
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    val (interpreted, stillCodegen) =
      try {
        spark.conf.set("spark.sql.codegen.wholeStage", "false")
        spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
        run()
      } finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    assert(!stillCodegen)
    assert(compiled.size == 7 && interpreted.keySet == compiled.keySet)
    for ((text, row) <- compiled; (name, _) <- kernels)
      assert(row.getAs[Any](name) == interpreted(text).getAs[Any](name),
        s"$name differs on input $text")

    // the fixture reaches the non-null branches, and the null rules hold
    val nullRow = compiled(None)
    for ((name, _) <- kernels if !name.startsWith("nulls_")) {
      if (name == "toks_wordShingles" || name == "lshBandKeys")
        assert(nullRow.getAs[Any](name) != null, s"$name is never null")
      else assert(nullRow.getAs[Any](name) == null, s"$name: null in, null out")
    }
    assert(nullRow.getAs[scala.collection.Seq[String]]("toks_wordShingles").isEmpty)
    val url = compiled(Some("HTTP://Ex.COM:80/a/./b/../c?id=1&utm_x=2#f"))
    assert(url.getAs[String]("canonicalize") == "http://ex.com/a/c?id=1")
    assert(url.getAs[Row]("pngProbe").getAs[Int]("width") == 12)
    assert(url.getAs[Any]("dhash64") != null)
    val temp = compiled(Some("23,5 °F"))
    assert(temp.getAs[Double]("cleanValue") == 23.5)
    assert(temp.getAs[Any]("numOrNull") == null)
    assert(temp.getAs[Row]("wavProbe").getAs[Int]("sample_rate") == 8000)
    val empty = compiled(Some(""))
    assert(empty.getAs[Any]("canonicalize") == null) // the kernel's own null
    assert(empty.getAs[Any]("dhash64") == null)
    assert(empty.getAs[String]("host") == "")
  }

  test("a kernel argument of an uncastable type fails analysis") {
    intercept[AnalysisException](spark.sql("SELECT graft_fnv64(map(1, 2))").collect())
  }

  test("a castable kernel argument is cast like a built-in's: graft_fnv64(42) hashes '42'") {
    val r = spark.sql("SELECT graft_fnv64(42) = graft_fnv64('42'), graft_fnv64('42')").head()
    assert(r.getBoolean(0))
    assert(r.getLong(1) == HashUtil.fnv64(org.apache.spark.unsafe.types.UTF8String.fromString("42")))
  }
}
