package graft.etl

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Sink abstraction — SURVEY §2 W1-W3.
  *
  * The reference's load is truncate-and-reload into MongoDB with a
  * post-write count reconciliation (`etl_meteo.py:182-218`: delete_many →
  * insert_many → count_documents). `SaveMode.Overwrite` gives the same
  * full-overwrite, idempotent semantics, and [[overwrite]] returns the
  * read-back count for the W2 reconciliation.
  */
trait Sink {
  /** Full-overwrite write (W1). Returns rows written. */
  def overwrite(df: DataFrame): Long
  /** Read the sink back (for W2 reconciliation and downstream audits). */
  def read(spark: SparkSession): DataFrame
}

/** Parquet sink: a full overwrite of one dataset directory, counted back
  * after the write.
  */
final class ParquetSink(path: String) extends Sink {

  override def overwrite(df: DataFrame): Long = {
    df.write.mode(SaveMode.Overwrite).parquet(path)
    df.sparkSession.read.parquet(path).count()
  }

  override def read(spark: SparkSession): DataFrame = spark.read.parquet(path)
}

/** Manifest-pointer commit — the object-store-safe replacement for the
  * old rename-swap rewrite (r11 verdict #4: java.io renames assume an
  * atomic-rename filesystem; at the 100 TB target the sink sits on an
  * object store where directory rename is a non-atomic copy). Its writer
  * is the complete-mode streaming sink
  * ([[graft.streaming.StreamingOps.overwriteCompletePerBatch]], q114),
  * which republishes the whole aggregate every micro-batch; readers go
  * through [[graft.streaming.StreamingOps.readCompleteSink]]. The
  * Iceberg/Delta-shaped protocol, minimal form:
  *
  *   1. STAGE   — write the complete new dataset into a fresh,
  *                UNPUBLISHED version directory `path/v<n>-<uuid>/`.
  *                Nothing references it yet; a crash here leaves an
  *                orphan dir and the old data fully readable.
  *   2. VERIFY  — count the staged dataset back (the W2 reconciliation,
  *                BEFORE publish, so a short write can never become the
  *                current version).
  *   3. PUBLISH — write `_MANIFEST` (one small JSON line naming the
  *                version dir). This single-object write IS the commit
  *                point: locally a same-directory ATOMIC_MOVE of a temp
  *                file; on an object store the equivalent single PUT,
  *                which is atomic per object. Readers resolve the
  *                manifest first, so they see the old version until this
  *                instant and the new one after — never a mix.
  *   4. GC      — delete superseded version dirs, orphans from crashed
  *                commits, and stale plain-layout root files. Best-
  *                effort and post-commit: a crash here costs disk, not
  *                correctness.
  *
  * Single-writer (one streaming query owns the sink path, as one ETL run
  * owns the reference's collection); retention is 1 version, so a reader
  * must not hold a scan open across a concurrent commit (same contract as
  * the reference's delete_many→insert_many window, but without its
  * read-sees-empty hole).
  */
private[graft] object ManifestCommit {
  import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}

  private val ManifestName = "_MANIFEST"
  final case class State(version: Long, dataDir: String, rows: Long)

  private val Pattern =
    """\{"version":(\d+),"data":"([^"]+)","rows":(\d+)\}""".r

  // Hadoop FS API throughout, never java.io: the sink root may be
  // hdfs:// or an object store, where a local-file probe is always
  // false and the protocol would silently degrade to "sink is empty"
  private def conf(spark: SparkSession) =
    spark.sparkContext.hadoopConfiguration

  /** The currently-published state, or None for plain/absent sinks. */
  def current(spark: SparkSession, root: String): Option[State] = {
    val mp = new Path(root, ManifestName)
    val fs = mp.getFileSystem(conf(spark))
    if (!fs.exists(mp)) None
    else {
      val in = fs.open(mp)
      val bytes =
        try org.apache.commons.io.IOUtils.toByteArray(in)
        finally in.close()
      new String(bytes, java.nio.charset.StandardCharsets.UTF_8).trim match {
        case Pattern(v, d, r) => Some(State(v.toLong, d, r.toLong))
        case other => throw new java.io.IOException(
          s"corrupt sink manifest at $mp: $other")
      }
    }
  }

  /** Stage → verify → publish → GC. Returns the verified row count. */
  def commit(df: DataFrame, root: String): Long = {
    val spark = df.sparkSession
    val v = current(spark, root).map(_.version + 1).getOrElse(1L)
    val dataDir =
      f"v$v%05d-${java.util.UUID.randomUUID().toString.take(8)}%s"
    df.write.mode(SaveMode.Overwrite).parquet(s"$root/$dataDir")
    val rows = spark.read.parquet(s"$root/$dataDir").count()
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(conf(spark))
    val tmp = new Path(rootPath, s".$ManifestName.tmp")
    val out = fs.create(tmp, true)
    try out.write(s"""{"version":$v,"data":"$dataDir","rows":$rows}"""
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    // overwrite-rename of the one small manifest object is the commit
    // point: atomic on HDFS/local (FileContext rename), a single-object
    // copy+delete on stores without atomic rename — still never a
    // partial manifest, because tmp was written completely first
    val fc = FileContext.getFileContext(fs.getUri, conf(spark))
    fc.rename(fs.makeQualified(tmp),
      fs.makeQualified(new Path(rootPath, ManifestName)),
      Options.Rename.OVERWRITE)
    gc(fs, rootPath, dataDir)
    rows
  }

  /** Post-commit cleanup: everything under the sink root except the
    * manifest and the just-published version dir is superseded — old
    * versions, orphaned staged dirs from crashed commits, and files a
    * plain parquet write left at the root before the first manifest
    * commit.
    */
  private def gc(fs: FileSystem, root: Path, keep: String): Unit =
    fs.listStatus(root)
      .filter(st => st.getPath.getName != ManifestName &&
        st.getPath.getName != keep)
      .foreach(st => fs.delete(st.getPath, true))
}

/** Typed sink-connectivity failure — the engine's equivalent of pymongo's
  * `ConnectionFailure` branch (`etl_meteo.py:213-215`): connection problems
  * are a distinct, catchable failure mode, not a generic exception.
  */
final class SinkConnectionFailure(msg: String) extends RuntimeException(msg)

/** Load failed post-write reconciliation (source count != target count —
  * the reference's "ÉCHEC" report branch, `etl_meteo.py:203-207`).
  */
final class SinkReconciliationError(val source: Long, val target: Long)
  extends RuntimeException(s"source=$source target=$target")

/** Document-store sink speaking the reference's EXACT load protocol
  * (`etl_meteo.py:182-218`) through the same trait, file-backed because
  * no store connector exists offline:
  *
  *   reference                    | here
  *   ---------------------------- | -----------------------------------
  *   MongoClient(uri, 5000ms)     | constructor path
  *   client.admin.command('ping') | ping() — storage reachable/writable
  *   collection.delete_many({})   | deleteMany() — truncate collection dir
  *   collection.insert_many(docs) | insertMany(df) — append JSONL batch
  *   collection.count_documents() | countDocuments()
  *   source-vs-target count check | overwrite() reconcile, typed error
  *   ConnectionFailure branch     | SinkConnectionFailure
  *
  * `quality_audit.py:20-30` (read the collection back and audit it) is
  * `read()`. Documents are JSON lines, the closest file form of a BSON
  * collection. A sink over a real MongoDB connector would implement this
  * same trait with these verbs mapped 1:1.
  */
final class DocumentStoreSink(collectionPath: String) extends Sink {

  private def dir = new java.io.File(
    if (collectionPath.startsWith("file:")) collectionPath.stripPrefix("file:")
    else collectionPath)

  /** Connectivity check (the `ping` admin command): parent storage must
    * exist and be writable. Throws [[SinkConnectionFailure]], the typed
    * path the reference reserves for ConnectionFailure.
    */
  def ping(): Unit = {
    val parent = dir.getAbsoluteFile.getParentFile
    if (parent == null || !parent.exists() || !parent.canWrite)
      throw new SinkConnectionFailure(
        s"document store unreachable: ${dir.getAbsolutePath} (parent missing or read-only)")
  }

  /** Truncate the collection (delete_many({})). Returns docs removed —
    * pymongo's deleted_count, which here costs a read of the dying data;
    * [[overwrite]] uses the count-free [[truncate]] instead.
    */
  def deleteMany(spark: SparkSession): Long = {
    val n = if (dir.exists()) countDocuments(spark) else 0L
    truncate()
    n
  }

  /** Truncate without the deleted_count read. */
  def truncate(): Unit =
    if (dir.exists()) org.apache.commons.io.FileUtils.deleteDirectory(dir)

  /** Batch insert (insert_many): append one JSONL batch. Returns batch size. */
  def insertMany(df: DataFrame): Long = {
    df.write.mode(SaveMode.Append).json(collectionPath)
    df.count()
  }

  /** count_documents({}) — 0 for a missing collection. Counts JSONL
    * LINES (one doc per line by [[insertMany]]'s contract) rather than
    * schema-inferred rows: a legitimately-EMPTY collection (an upstream
    * filter kept 0 docs) has no data files to infer a schema from, and
    * `read().count()` would throw UNABLE_TO_INFER_SCHEMA instead of
    * returning 0.
    */
  def countDocuments(spark: SparkSession): Long =
    if (!dir.exists()) 0L else spark.read.text(collectionPath).count()

  /** The reference's full load sequence: ping → delete_many → insert_many
    * → count_documents → source-vs-target reconciliation. A count mismatch
    * throws [[SinkReconciliationError]] (the report's ÉCHEC branch made a
    * hard failure rather than a log line).
    */
  override def overwrite(df: DataFrame): Long = {
    ping()
    val spark = df.sparkSession
    truncate() // count-free: the reference discards delete_many's count too
    // persist across the two source actions (write + count) so an
    // expensive upstream pipeline computes once, not twice
    df.persist()
    try {
      val source = insertMany(df)
      val target = countDocuments(spark)
      if (target != source) throw new SinkReconciliationError(source, target)
      target
    } finally df.unpersist()
  }

  override def read(spark: SparkSession): DataFrame = spark.read.json(collectionPath)
}
