package graft.core

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.{BasicFileAttributes, FileTime}
import scala.util.Try
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-provided testdata tables (TESTDATA.md).
  *
  * All tables are single parquet files per scale factor. At cluster scale the
  * same loaders work on partitioned directories — `spark.read.parquet` handles
  * both, and Catalyst pushes filters/column pruning into the scan.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Inferred schema per parquet path, cached for the JVM's life: every
    * `spark.read.parquet` call re-reads the file footer to infer the
    * schema, and a bench round issues ~700 table loads — pure repeated
    * driver I/O. The cached schema IS the inferred one, passed back via
    * `read.schema(...)`, so plans and results are byte-identical; only the
    * per-call footer read disappears. The key holds everything that can
    * change the inferred schema: the path, the parquet confs that alter
    * type inference (the events table's depends on nanosAsLong), and the
    * path's size and mtime, so a file regenerated in place re-infers. */
  private val schemaConfs = Seq(
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong")

  private final case class SchemaKey(path: String, confs: Seq[Option[String]],
                                     size: Long, mtime: FileTime)

  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[SchemaKey, StructType]()

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    // a path NIO cannot stat (missing, or a non-local URI) is read uncached
    Try(Files.readAttributes(Paths.get(path), classOf[BasicFileAttributes])).toOption match {
      case None => spark.read.parquet(path)
      case Some(attrs) =>
        val key = SchemaKey(path, schemaConfs.map(spark.conf.getOption),
          attrs.size, attrs.lastModifiedTime)
        val sch = schemaCache.computeIfAbsent(key, _ => spark.read.parquet(path).schema)
        spark.read.schema(sch).parquet(path)
    }
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  /** `events.ts` has shipped in two physical forms across testdata
    * generations: parquet TIMESTAMP(NANOS) — which Spark's vectorized
    * reader rejects ([PARQUET_TYPE_ILLEGAL]), so it is read as raw nanos
    * via the legacy long mapping and converted with exact integer division
    * (a double divide would lose sub-µs precision at 1.7e18 ns) — and
    * plain TIMESTAMP(MICROS), which lands as NTZ under Spark 4's parquet
    * inference. Dispatch on the OBSERVED type so either generation reads
    * to the same TimestampType column (sessions run in UTC, so the
    * NTZ→TZ cast is instant-preserving). */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ =>
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
}
