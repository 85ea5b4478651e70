package org.apache.spark.sql.graft

import scala.jdk.CollectionConverters._

import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.execution.datasources.orc.OrcFileFormat
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.internal.connector.PredicateUtils
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.vectorized.ColumnarBatch

/** Bridge into `private[sql]` FILE-READING machinery (the same
  * extension-library pattern as [[PlanBridge]]/[[StreamBridge]]; no
  * Spark internals are modified) — what a DSv2 `Batch` over data FILES
  * needs to read them with Spark's own readers instead of
  * re-implementing parquet/orc decoding:
  *
  *  - [[readFunc]] is `FileFormat.buildReaderWithPartitionValues`, the
  *    exact per-file reader `FileSourceScanExec` ships to executors
  *    (vectorized decode, nested schemas, evolution-to-null for columns
  *    a file predates, footer-level row-group skipping from the passed
  *    filters, rebase modes) — built once on the driver, serializable.
  *  - [[partitionedFile]] constructs the internal file descriptor the
  *    reader takes.
  *  - [[rows]] flattens the reader's output: the vectorized path yields
  *    `ColumnarBatch` disguised as `InternalRow` (the FileScanRDD
  *    contract), which a row-based `PartitionReader` must unwrap.
  *  - [[predicatesToV1]] is Spark's own v2→v1 predicate translation,
  *    for `SupportsRuntimeV2Filtering.filter`'s incoming predicates. */
object FileSourceBridge {

  def readFunc(spark: SparkSession, format: String, dataSchema: StructType,
               requiredSchema: StructType, filters: Seq[Filter])
      : PartitionedFile => Iterator[InternalRow] = {
    val fmt = format match {
      case "orc" => new OrcFileFormat()
      case _     => new ParquetFileFormat()
    }
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    fmt.buildReaderWithPartitionValues(
      classic, dataSchema, new StructType(), requiredSchema, filters,
      // a row-based PartitionReader consumes this — tell the vectorized
      // reader to hand back rows, not ColumnarBatch-as-InternalRow
      Map(org.apache.spark.sql.execution.datasources.FileFormat
        .OPTION_RETURNING_BATCH -> "false"),
      classic.sessionState.newHadoopConfWithOptions(Map.empty))
  }

  def partitionedFile(path: String, length: Long,
                      modTime: Long): PartitionedFile =
    PartitionedFile(InternalRow.empty, SparkPath.fromPathString(path),
      0L, length, Array.empty, modTime, length)

  def rows(it: Iterator[InternalRow]): Iterator[InternalRow] =
    it.flatMap {
      case b: ColumnarBatch => b.rowIterator().asScala
      case r                => Iterator.single(r)
    }

  def predicatesToV1(predicates: Array[Predicate]): Array[Filter] =
    PredicateUtils.toV1(predicates)

  /** The WRITE half: `FileFormat.prepareWrite` — the exact per-file
    * writer factory FileFormatWriter ships to executors (compression and
    * format conf from the session, schema stamped into the job conf).
    * Returns the serializable factory plus the prepared Hadoop conf the
    * executor-side TaskAttemptContext must carry (prepareWrite mutates
    * the job's conf; writers built against a fresh conf would lose the
    * compression/schema settings). A schema `df.write` would refuse
    * (duplicate column names, a type or field name the format cannot
    * hold) is refused here. */
  def writeFactory(spark: SparkSession, format: String,
                   dataSchema: StructType)
      : (org.apache.spark.sql.execution.datasources.OutputWriterFactory,
         org.apache.spark.util.SerializableConfiguration) = {
    val fmt = format match {
      case "orc" => new OrcFileFormat()
      case _     => new ParquetFileFormat()
    }
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    // what InsertIntoHadoopFsRelationCommand and FileFormatWriter check
    org.apache.spark.sql.util.SchemaUtils.checkColumnNameDuplication(
      dataSchema.fieldNames.toSeq, classic.sessionState.conf.caseSensitiveAnalysis)
    org.apache.spark.sql.execution.datasources.DataSourceUtils.verifySchema(fmt, dataSchema)
    org.apache.spark.sql.execution.datasources.DataSourceUtils.checkFieldNames(fmt, dataSchema)
    val job = org.apache.hadoop.mapreduce.Job.getInstance(
      classic.sessionState.newHadoopConfWithOptions(Map.empty))
    job.setOutputKeyClass(classOf[Void])
    job.setOutputValueClass(classOf[InternalRow])
    val factory = fmt.prepareWrite(classic, job, Map.empty, dataSchema)
    (factory, new org.apache.spark.util.SerializableConfiguration(
      job.getConfiguration))
  }

  /** Executor-side TaskAttemptContext for an OutputWriter. */
  def taskAttemptContext(conf: org.apache.spark.util.SerializableConfiguration,
                         partitionId: Int, taskId: Long)
      : org.apache.hadoop.mapreduce.TaskAttemptContext = {
    val attemptId = new org.apache.hadoop.mapreduce.TaskAttemptID(
      new org.apache.hadoop.mapreduce.TaskID(
        new org.apache.hadoop.mapreduce.JobID("graft", 0),
        org.apache.hadoop.mapreduce.TaskType.MAP, partitionId),
      (taskId % Int.MaxValue).toInt)
    new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
      conf.value, attemptId)
  }
}
