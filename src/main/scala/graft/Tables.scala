package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.BasicFileAttributes
import java.util.concurrent.{ConcurrentHashMap, TimeUnit}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

import scala.util.Try

/** Parquet table loader for the driver corpus (TESTDATA.md).
  *
  * All queries take an `sfDir` (e.g. `/root/testdata/sf0.01`) and read the
  * TPC-H-ish tables plus `events`, `documents`, `embeddings` from it.
  * Catalyst prunes columns and pushes filters into the vectorized parquet
  * scan.
  *
  * Opening parquet without a schema runs one Spark job that reads the
  * footer (and broadcasts the Hadoop conf to do it). The corpus tables are
  * opened by almost every query, so each session keeps a memo of the
  * inferred `StructType` per file: the first open of a regular file infers
  * as usual, later opens pass the memoized schema and run no job. File
  * listing stays live on every open. An entry is keyed by
  *   - the session (held weakly: a dropped session frees its entries, and
  *     a new session infers again);
  *   - the file's canonical path, size, nanosecond mtime and file key
  *     (inode), so a file rewritten at the same path is a new entry;
  *   - the session values of `footerConfs`, the confs that decide how
  *     footer types map to Spark types.
  * Directories, globs and non-local paths are opened uncached.
  */
object Tables {
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    open(spark, s"$sfDir/$name.parquet")

  /** The schema `spark.read.parquet(path)` would infer; it runs no Spark
    * job when the file was opened before in this session. */
  def schemaOf(spark: SparkSession, path: String): StructType =
    open(spark, path).schema

  /** The confs that `ParquetToSparkSchemaConverter` reads when it maps a
    * footer to a Spark schema. */
  private val footerConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.fieldId.read.enabled",
    "spark.sql.parquet.ignoreVariantAnnotation",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
    "spark.sql.caseSensitive")

  private final case class FooterKey(path: String, size: Long, mtimeNs: Long,
      fileKey: Option[AnyRef], confs: Seq[Option[String]])

  private type Memo = ConcurrentHashMap[FooterKey, StructType]

  private val memos = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, Memo]())

  /** The memo and key for a local regular file; None opens uncached. The
    * file is stat'ed BEFORE any inference, so a rewrite racing the footer
    * read can only leave an entry under the old key, never a stale schema
    * under the new one. */
  private def slot(spark: SparkSession, path: String): Option[(Memo, FooterKey)] =
    if (path.exists("*?[]{}\\".contains(_))) None
    else Try {
      val p = Paths.get(path).toRealPath()
      val a = Files.readAttributes(p, classOf[BasicFileAttributes])
      if (!a.isRegularFile) None
      else Some(FooterKey(p.toString, a.size(),
        a.lastModifiedTime().to(TimeUnit.NANOSECONDS), Option(a.fileKey()),
        footerConfs.map(spark.conf.getOption)))
    }.toOption.flatten.map { k =>
      (memos.computeIfAbsent(spark, _ => new Memo()), k)
    }

  /** Open a parquet path. The inference job runs outside any lock: two
    * racing first opens both infer, and the first schema stored wins. */
  private def open(spark: SparkSession, path: String): DataFrame = {
    val s = slot(spark, path)
    s.flatMap { case (memo, k) => Option(memo.get(k)) } match {
      case Some(sch) => spark.read.schema(sch).parquet(path)
      case None =>
        val df = spark.read.parquet(path)
        s.foreach { case (memo, k) => memo.putIfAbsent(k, df.schema) }
        df
    }
  }

  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  /** Normalize an event-time column to session-TZ `TIMESTAMP`, whatever
    * physical parquet encoding it arrived in. Corpus regenerations have
    * shipped all three, and any pandas/Arrow-written lake will too:
    *   - `TIMESTAMP(NANOS)` → Spark reads it only as a nanosecond long
    *     (`spark.sql.legacy.parquet.nanosAsLong=true`, set by
    *     Verify/Bench/tests); exact `div 1000` to micros — the corpus has
    *     microsecond granularity, so lossless.
    *   - `TIMESTAMP(MICROS, isAdjustedToUTC=false)` → Spark reads
    *     `TIMESTAMP_NTZ`; every entry point pins the session TZ to UTC, so
    *     `cast(TimestampType)` reinterprets the naive micros as UTC exactly —
    *     matching DuckDB's naive-timestamp semantics in the oracle.
    *   - `TIMESTAMP` (UTC-adjusted) → pass-through. */
  def normalizeEventTime(df: DataFrame, colName: String = "ts"): DataFrame =
    df.schema(colName).dataType match {
      case LongType =>
        // `div` is SQL integer division — exact on the full long range,
        // unlike Column./ which widens to double and loses ns precision.
        df.withColumn(colName, timestamp_micros(expr(s"`$colName` div 1000")))
      case TimestampNTZType =>
        df.withColumn(colName, col(colName).cast(TimestampType))
      case _ => df
    }

  def events(s: SparkSession, d: String): DataFrame =
    normalizeEventTime(table(s, d, "events"))
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
