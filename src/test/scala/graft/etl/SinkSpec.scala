package graft.etl

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.streaming.StreamingOps

class SinkSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("manifest commit: crash after stage, before publish — old data stays current") {
    val dir = java.nio.file.Files.createTempDirectory("graft-manifest-crash1")
    val root = dir.resolve("t").toString
    ManifestCommit.commit(Seq((1L, "a", 1L)).toDF("k", "v", "ver"), root)
    val v1 = ManifestCommit.current(spark, root).get
    // simulate a commit that died between STAGE and PUBLISH: a fully
    // written version dir that no manifest references
    val orphan = new java.io.File(root, "v99999-deadbeef")
    Seq((9L, "never-visible", 9L)).toDF("k", "v", "ver")
      .write.parquet(orphan.toString)
    // readers resolve the manifest, never the newest directory
    assert(ManifestCommit.current(spark, root).get == v1)
    assert(StreamingOps.readCompleteSink(spark, root)
      .collect().map(_.getString(1)).toSeq == Seq("a"))
    // the next successful commit garbage-collects the orphan
    ManifestCommit.commit(
      Seq((1L, "a", 1L), (2L, "b", 2L)).toDF("k", "v", "ver"), root)
    assert(!orphan.exists(), "crashed-commit orphan not GC'd")
    assert(StreamingOps.readCompleteSink(spark, root).count() == 2)
  }

  test("manifest commit: publish is the commit point; superseded versions are GC'd") {
    val dir = java.nio.file.Files.createTempDirectory("graft-manifest-gc")
    val root = dir.resolve("t").toString
    Seq((1L, "a", 1L)).toDF("k", "v", "ver").write.parquet(root) // plain layout
    ManifestCommit.commit(
      Seq((1L, "a", 1L), (2L, "b", 2L)).toDF("k", "v", "ver"), root)
    val first = ManifestCommit.current(spark, root).get
    assert(first.version == 1L && first.rows == 2L)
    // pre-manifest plain-layout files at the root were GC'd post-commit
    assert(!new java.io.File(root).listFiles().exists(f =>
      f.isFile && f.getName.endsWith(".parquet")), "stale plain files")
    ManifestCommit.commit(
      Seq((1L, "a", 1L), (2L, "b", 2L), (3L, "c", 3L)).toDF("k", "v", "ver"), root)
    val second = ManifestCommit.current(spark, root).get
    assert(second.version == 2L && second.dataDir != first.dataDir)
    assert(!new java.io.File(root, first.dataDir).exists(),
      "superseded version dir not GC'd")
    assert(StreamingOps.readCompleteSink(spark, root).count() == 3)
    assert(second.rows == 3L)
  }

  test("manifest commit: corrupt manifest is a typed hard error, not silent fallback") {
    val dir = java.nio.file.Files.createTempDirectory("graft-manifest-bad")
    val root = dir.resolve("t").toString
    ManifestCommit.commit(Seq((1L, "a", 1L)).toDF("k", "v", "ver"), root)
    java.nio.file.Files.write(dir.resolve("t").resolve("_MANIFEST"),
      "not json".getBytes("UTF-8"))
    // the local filesystem's stale checksum would fail the read before the
    // manifest is parsed; an object store keeps none, so drop it
    java.nio.file.Files.delete(dir.resolve("t").resolve("._MANIFEST.crc"))
    val e = intercept[java.io.IOException] { StreamingOps.readCompleteSink(spark, root) }
    // the manifest parse itself must fail, not a fallback read of the root
    assert(e.getMessage.contains("corrupt sink manifest"), e.getMessage)
  }

  test("document-store sink: full truncate/insert/count protocol") {
    val dir = java.nio.file.Files.createTempDirectory("graft-docstore")
    val sink = new DocumentStoreSink(dir.resolve("donnees_horaires").toString)
    // protocol verbs individually (the etl_meteo.py:182-218 sequence)
    sink.ping()
    assert(sink.countDocuments(spark) == 0L)           // empty collection
    assert(sink.insertMany(Seq((1L, "a"), (2L, "b")).toDF("k", "v")) == 2L)
    assert(sink.insertMany(Seq((3L, "c")).toDF("k", "v")) == 1L) // append batch
    assert(sink.countDocuments(spark) == 3L)
    assert(sink.deleteMany(spark) == 3L)               // delete_many({})
    assert(sink.countDocuments(spark) == 0L)
    // overwrite() = ping -> truncate -> insert -> count-reconcile
    val df = Seq((1L, "x"), (2L, "y")).toDF("k", "v")
    assert(sink.overwrite(df) == 2L)
    assert(sink.overwrite(df) == 2L)                   // idempotent, not append
    assert(sink.read(spark).collect().map(_.getString(1)).sorted.toSeq == Seq("x", "y"))
  }

  test("empty-source overwrite reconciles as 0 rows (no schema-inference crash)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-empty-ovw")
    val empty = Seq((1L, "a")).toDF("k", "v").filter("k < 0")
    val doc = new DocumentStoreSink(dir.resolve("doc").toString)
    assert(doc.overwrite(Seq((1L, "a")).toDF("k", "v")) == 1L)
    // an upstream filter keeping 0 docs is a NORMAL outcome: the old
    // data is gone (truncate-and-load contract) and the count must be
    // 0, not UNABLE_TO_INFER_SCHEMA after the truncate already ran
    assert(doc.overwrite(empty) == 0L)
    assert(doc.countDocuments(spark) == 0L)
  }

  test("document-store sink: unreachable storage raises the typed connection failure") {
    val sink = new DocumentStoreSink("/nonexistent-root-dir/sub/collection")
    intercept[SinkConnectionFailure] { sink.ping() }
    intercept[SinkConnectionFailure] {
      sink.overwrite(Seq((1L, "a")).toDF("k", "v"))
    }
  }

  test("xml source round-trips (Spark 4 built-in XML)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-xml")
    val df = Seq((1L, "alpha"), (2L, "beta")).toDF("k", "v")
    df.write.option("rootTag", "rows").option("rowTag", "row")
      .mode("overwrite").xml(dir.resolve("x").toString)
    val back = spark.read.option("rowTag", "row").xml(dir.resolve("x").toString)
    assert(back.count() == 2)
    assert(back.select("v").collect().map(_.getString(0)).sorted.toSeq == Seq("alpha", "beta"))
  }
}
