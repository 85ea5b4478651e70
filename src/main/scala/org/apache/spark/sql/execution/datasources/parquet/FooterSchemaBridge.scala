package org.apache.spark.sql.execution.datasources.parquet

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** Bridge into `private[parquet]` schema inference (the same
  * extension-library pattern as the `org.apache.spark.sql.graft` bridges;
  * no Spark internals are modified): the schema `spark.read.parquet(path)`
  * infers, read on the driver instead of in a Spark job.
  *
  * Without `mergeSchema`, Spark's inference (`ParquetUtils.inferSchema`)
  * touches ONE file — `_common_metadata`, else `_metadata`, else the first
  * data file by path — but reads its footer in a one-task job
  * (`mergeSchemasInParallel`). [[inferredSchema]] lists the path the way
  * the file index does (`HadoopFSUtils.shouldFilterOutPathName`), picks
  * that same file, reads its footer as the job's task does and converts
  * it with the job's converter and `readSchemaFromFooter`, so the
  * session's `nanosAsLong`, `binaryAsString`, `int96AsTimestamp`,
  * `inferTimestampNTZ` and the Spark schema stored in the footer all
  * apply as they would. */
object FooterSchemaBridge {

  /** The schema Spark infers for a flat parquet directory or a single
    * parquet file at `path`, or None where Spark's inference would do
    * something else or fail: `mergeSchema` on, a glob, a subdirectory
    * the file index would descend into (partitions, nesting), a missing
    * path, no file to read, an unreadable footer. The caller then reads
    * with plain `spark.read`, so Spark's own result or error stands. */
  def inferredSchema(spark: SparkSession, path: String): Option[StructType] = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val conf = session.sessionState.conf
    if (conf.isParquetSchemaMergingEnabled || path.exists("{}[]*?\\".contains(_))) None
    else try {
      val hadoopConf = session.sessionState.newHadoopConf()
      val p = new Path(path)
      val listed = p.getFileSystem(hadoopConf).listStatus(p)
        .filterNot(s => HadoopFSUtils.shouldFilterOutPathName(s.getPath.getName))
      if (listed.exists(_.isDirectory)) None
      else schemaFile(listed.toSeq).map { st =>
        val footer = new Footer(st.getPath, ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(st, hadoopConf), ParquetMetadataConverter.SKIP_ROW_GROUPS))
        ParquetFileFormat.readSchemaFromFooter(footer, new ParquetToSparkSchemaConverter(
          assumeBinaryIsString = conf.isParquetBinaryAsString,
          assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
          inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
          nanosAsLong = conf.legacyParquetNanosAsLong,
          respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation))
      }
    } catch { case NonFatal(_) => None }
  }

  /** The file non-merging inference reads among `leaves` (already
    * filtered): `ParquetUtils.splitFiles` sorts them by path, and
    * `inferSchema` takes the first `_common_metadata`, else the first
    * `_metadata`, else the first other file. */
  private def schemaFile(leaves: Seq[FileStatus]): Option[FileStatus] = {
    val sorted = leaves.sortBy(_.getPath.toString)
    def named(n: String) = sorted.find(_.getPath.getName == n)
    named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
      .orElse(named(ParquetFileWriter.PARQUET_METADATA_FILE))
      .orElse(sorted.find { s =>
        val n = s.getPath.getName
        n != ParquetFileWriter.PARQUET_COMMON_METADATA_FILE &&
          n != ParquetFileWriter.PARQUET_METADATA_FILE
      })
  }
}
