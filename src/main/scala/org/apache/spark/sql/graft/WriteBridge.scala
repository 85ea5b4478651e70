package org.apache.spark.sql.graft

import scala.reflect.ClassTag

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** Bridge into Spark's per-task file writing for a committer that
  * commits what its tasks REPORT, the way Spark's streaming file sink
  * and Delta Lake do: ONE Spark job over the frame's planned RDD, in
  * which every task writes its partition's file straight into the
  * destination dir through the format's own `OutputWriterFactory`
  * (`FileFormat.prepareWrite`, via [[FileSourceBridge.writeFactory]]) and
  * returns whatever the caller's task function builds from it. There is
  * no `_temporary` dir, no rename, no `_SUCCESS` marker and no listing:
  * the results of the attempts that succeeded are the commit's file
  * list, so a stray file in the dir (a failed or zombie attempt's) is
  * never part of it. The same extension-library pattern as
  * [[StreamBridge]]; no Spark internals are modified. */
object WriteBridge {

  /** One task attempt's output file under the destination dir, opened
    * at its first row and named uniquely per attempt. Partition 0
    * writes its file even when it saw no row, as `FileFormatWriter`
    * does, so an empty write still leaves its schema on disk. */
  final class TaskFile private[WriteBridge] (factory: OutputWriterFactory,
                                             conf: SerializableConfiguration,
                                             dir: String, schema: StructType,
                                             partition: Int, attemptId: Long) {
    private var writer: OutputWriter = null
    private var path: String = null

    def hadoopConf: org.apache.hadoop.conf.Configuration = conf.value

    private def open(): Unit = {
      val ctx = FileSourceBridge.taskAttemptContext(conf, partition, attemptId)
      path = f"$dir/part-$partition%05d-${java.util.UUID.randomUUID()}-c000" +
        factory.getFileExtension(ctx)
      writer = factory.newInstance(path, schema, ctx)
    }

    def write(row: InternalRow): Unit = {
      if (writer == null) open()
      writer.write(row)
    }

    /** Close the file and return its status; None when the task wrote
      * no file. */
    def close(): Option[FileStatus] = {
      if (writer == null && path == null && partition == 0) open()
      if (writer != null) { writer.close(); writer = null }
      Option(path).map { p =>
        val hp = new Path(p)
        hp.getFileSystem(conf.value).getFileStatus(hp)
      }
    }

    private[WriteBridge] def abort(): Unit =
      if (path != null) {
        try if (writer != null) writer.close()
        catch { case _: Throwable => () }
        finally {
          writer = null
          val hp = new Path(path)
          hp.getFileSystem(conf.value).delete(hp, false): Unit
        }
      }
  }

  /** Write `df` as `format` files of `schema` (what each task's
    * [[TaskFile]] takes, which may differ from the frame's own schema
    * when `task` projects) into `dir`, in ONE Spark job under a SQL
    * execution id, so listeners see it as they see `df.write`. `task`
    * runs once per partition on the partition's rows and its file and
    * returns that partition's report; a task that throws removes its
    * file first. `result` gets the report of each attempt that
    * succeeded, with its partition, as it arrives on the driver. A frame
    * with no partition runs one empty partition 0. `schema` passes the
    * checks `df.write` makes (duplicate column names under the
    * session's case sensitivity, the format's types and field names).
    * `spark.sql.files.maxRecordsPerFile` would split a task's output
    * into several files, which one report per task cannot name: a
    * positive value is refused. */
  def write[R: ClassTag](df: DataFrame, format: String, schema: StructType, dir: String)(
      task: (Iterator[InternalRow], TaskFile) => R, result: (Int, R) => Unit): Unit = {
    require(format == "parquet" || format == "orc",
      s"txlog writes parquet or orc files, not '$format'")
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
    val session = ds.sparkSession
    require(session.sessionState.conf.maxRecordsPerFile <= 0,
      "txlog writes one file per task and reports it: unset " +
        s"spark.sql.files.maxRecordsPerFile (now ${session.sessionState.conf.maxRecordsPerFile})")
    val (factory, conf) = FileSourceBridge.writeFactory(session, format, schema)
    val qe = ds.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("txlog.stage")) {
      val sc = session.sparkContext
      val planned = qe.toRdd
      val rdd =
        if (planned.partitions.isEmpty) sc.parallelize(Seq.empty[InternalRow], 1) else planned
      sc.runJob(rdd, (tc: TaskContext, rows: Iterator[InternalRow]) => {
        val file = new TaskFile(factory, conf, dir, schema, tc.partitionId(), tc.taskAttemptId())
        try task(rows, file)
        catch { case t: Throwable => file.abort(); throw t }
      }, rdd.partitions.indices, result)
    }
  }

  /** `parts` side by side as one frame: part i's rows, whatever its own
    * partitioning, make partition i, with no shuffle — what
    * `Dataset.union` of one-partition frames does not give, since Spark
    * then unions them partition-wise into one. Each part is planned here
    * and must need no job to plan (no shuffle in it); the parts share the
    * first one's schema. */
  def sideBySide(parts: Seq[DataFrame]): DataFrame = {
    val ds = parts.map(_.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]])
    val session = ds.head.sparkSession
    session.internalCreateDataFrame(
      session.sparkContext.union(ds.map(_.queryExecution.toRdd.coalesce(1))), ds.head.schema)
  }
}
