package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.FooterSchemaBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver testdata tables (TESTDATA.md), and [[load]],
  * the file-table read every plain parquet read of the engine goes
  * through.
  *
  * All loads are parquet scans — Catalyst's predicate pushdown and column
  * pruning reach the vectorized parquet reader, so callers should
  * filter/select on these frames directly rather than materializing. The
  * scan's schema comes from ONE parquet footer read on the driver — the
  * file Spark's own inference would touch, converted by Spark's own
  * footer-to-schema function under the session's parquet settings
  * ([[org.apache.spark.sql.execution.datasources.parquet.FooterSchemaBridge]])
  * — so planning a table read starts no Spark job.
  *
  * `events.ts` has shipped in three physical encodings across driver
  * rounds — `timestamp[ns]` (read as a nanos long via
  * `spark.sql.legacy.parquet.nanosAsLong=true`, truncated to micros like
  * DuckDB), UTC-adjusted `timestamp[us]` (TimestampType, passthrough), and
  * naive `timestamp[us]` (TimestampNTZType, retagged to TimestampType —
  * exact because the session timezone is pinned UTC). [[events]] normalizes
  * all three to microsecond TimestampType so the engines stay comparable
  * (SURVEY §2.2 determinism rules) and every downstream operator sees one
  * type.
  */
object Tables {

  /** `spark.read.format(format).load(path)`, planned without a Spark
    * job where that gives the same frame: a flat parquet directory (or
    * one parquet file) without `mergeSchema` is read with the schema its
    * footer gives on the driver. Other formats, partitioned or nested
    * directories, globs, `mergeSchema`, and a missing or empty path read
    * through plain `spark.read`, with Spark's own errors. */
  def load(spark: SparkSession, path: String, format: String = "parquet"): DataFrame = {
    val schema =
      if (format.equalsIgnoreCase("parquet")) FooterSchemaBridge.inferredSchema(spark, path)
      else None
    schema.fold(spark.read)(spark.read.schema).format(format).load(path)
  }

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    load(spark, s"$dir/$name.parquet")

  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** `events` with `ts` normalized to microsecond TimestampType. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    // Runtime-settable legacy conf; required for sessions not built via
    // GraftSession (e.g. driver-owned ones) to read timestamp[ns] parquet.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        // nanos-as-long (session default): truncate to micros like DuckDB.
        // Integer `div`, not `/`: epoch-nanos (~1.7e18) exceed a double's
        // 53-bit exact range, so float division would corrupt low bits.
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType => raw
      case TimestampNTZType =>
        // timestamp[us] with isAdjustedToUTC=false (what the generator
        // writes as of 2026-08-13). The session timezone is pinned to UTC
        // (GraftSession), so NTZ -> TZ is a pure type retag: identical
        // micros, and DuckDB reads the same file as its (naive) TIMESTAMP.
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case other =>
        throw new IllegalStateException(s"unexpected events.ts type: $other")
    }
  }
}
