package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.{Collections, HexFormat, WeakHashMap}
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Loaders for the driver's synthetic TPC-H-ish tables (TESTDATA.md).
  *
  * Every load is a parquet scan of `<dir>/<name>.parquet`: column pruning
  * and predicate pushdown reach the scan because callers compose on the
  * returned (lazy) DataFrame.
  *
  * A table's schema is inferred once per session. Inference runs a
  * one-task Spark job that reads a footer (about 85 ms against about 7 ms
  * for a read given its schema), and a query build reads up to six
  * tables. The first read of a path in a session infers the schema and
  * keeps it with a digest of the file set that read listed: each file's
  * path, length and modification time. A later read of the path in that
  * session is given the kept schema, and keeps it only while its own
  * listing has the same digest; when the directory was rewritten or a
  * file came or went, the read infers again and the new schema replaces
  * the old. A read whose relation is not over a listed file index is
  * never cached. Schemas are kept per session (weak keys, so a dropped
  * session drops its schemas) because inference depends on session
  * confs such as `nanosAsLong`; a session that changes such a conf after
  * reading a table keeps the schema its first read inferred.
  */
object Tables {

  private final case class Inferred(files: String, schema: StructType)

  private val schemas =
    Collections.synchronizedMap(new WeakHashMap[SparkSession, ConcurrentHashMap[String, Inferred]])

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    GraftSession.tune(spark)
    val path = s"$dir/$name.parquet"
    val known = schemas.computeIfAbsent(spark, _ => new ConcurrentHashMap[String, Inferred])
    Option(known.get(path))
      .map(k => k -> spark.read.schema(k.schema).parquet(path))
      .collect { case (k, df) if filesDigest(df).contains(k.files) => df }
      .getOrElse {
        val df = spark.read.parquet(path)
        filesDigest(df).foreach(files => known.put(path, Inferred(files, df.schema)))
        df
      }
  }

  /** Digest of the files a path read listed (path, length, modification
    * time; in path order), from the read's own file index, so nothing is
    * listed twice. None for a relation over any other index.
    */
  private def filesDigest(df: DataFrame): Option[String] =
    df.queryExecution.analyzed match {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) => fs.location match {
        case index: PartitioningAwareFileIndex => Some(digest(index.allFiles()))
        case _ => None
      }
      case _ => None
    }

  private def digest(files: Seq[FileStatus]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    files.map(f => s"${f.getPath}\t${f.getLen}\t${f.getModificationTime}\n")
      .sorted.foreach(line => md.update(line.getBytes(UTF_8)))
    HexFormat.of.formatHex(md.digest())
  }

  def region(s: SparkSession, d: String): DataFrame   = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame  = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** The engine's events contract: `ts` TimestampType at µs precision +
    * `ts_ns` long epoch-nanos. The driver's events.parquet has shipped
    * with BOTH physical timestamp encodings across rounds, so the
    * normalization is schema-adaptive:
    *   - parquet TIMESTAMP(NANOS) → Spark reads a long under
    *     `nanosAsLong`; keep it as ts_ns and derive ts by integer `div`
    *     (a double division would corrupt 1.7e18-scale values);
    *   - parquet TIMESTAMP(MICROS) (current testdata) → Spark reads
    *     TIMESTAMP_NTZ; the UTC session makes the NTZ→TIMESTAMP cast
    *     epoch-preserving, and ts_ns = µs·1000 (the file has no
    *     sub-µs precision, so every (ts_ns, id) ordering is unchanged
    *     and the DuckDB oracle sees identical epoch_us values).
    */
  def normalizeEvents(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      case _ =>
        df.withColumn("ts",
            col("ts").cast(org.apache.spark.sql.types.TimestampType))
          .withColumn("ts_ns", unix_micros(col("ts")) * lit(1000L))
    }

  def events(s: SparkSession, d: String): DataFrame =
    normalizeEvents(table(s, d, "events"))
}
