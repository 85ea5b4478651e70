package graft.operators

import java.util.concurrent.TimeoutException

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.util.{Failure, Success, Try}

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{SaveMode, SparkSession}

/** Small-file compaction for lake zones.
  *
  * The reference's CDC zone is built from Firehose micro-batch flushes —
  * observed objects of 365 B–1.4 KB (`images/ddb cdc result.png`,
  * README.md:58-59). At 100 TB that layout is the classic small-files
  * problem: listing dominates planning, each task reads one tiny object,
  * and the NameNode/S3 metadata load grows unbounded. Compaction rewrites
  * a zone into ~`targetBytes` files while preserving data, schema,
  * compression, and partition layout.
  *
  * Swap protocol for PLAIN directory zones (zones that must stay readable
  * by path-globbing consumers, like the reference's Firehose prefixes).
  * Zones that can route reads through a manifest should use [[TxLog]]
  * instead — its generation-addressed files + atomic publish give
  * lock-free readers and racing-writer safety without the fencing caveat
  * below:
  *   0. reclaim any staging dirs a previous crashed run left beside the
  *      live dir (restore `.compact_old_*` if the live dir is missing,
  *      delete the rest) — every run self-heals its predecessors;
  *   1. write `.compact_tmp_<name>` beside the live dir (DOT-prefixed, so
  *      Spark partition discovery and [[dataFiles]] ignore it);
  *   2. re-list the live dir — if its file set changed since planning
  *      (a concurrent writer appended), ABORT and delete the tmp;
  *   3. rename live -> `.compact_old_<name>`, tmp -> live, delete old.
  * No step deletes data before its replacement is in place: a crash at
  * any point leaves every row in SOME directory (worst case the partition
  * is transiently missing until the next run's reclaim restores it, never
  * silently corrupted or partially lost). The step-2 check shrinks — but
  * cannot close — the append race window; production orchestration must
  * still fence writers of the target partition (see
  * [[compactClosedHours]] for the CDC-zone fencing rule).
  */
object Compaction {

  /** `rewritten` is set ONLY on the swap path — false means no-op
    * (already compact) or abort (concurrent writer detected). */
  final case class Stats(filesBefore: Long, filesAfter: Long,
                         bytesBefore: Long, rewritten: Boolean)

  private def tmpPrefix(name: String) = s".compact_tmp_${name}_"
  private def oldPrefix(name: String) = s".compact_old_${name}_"

  /** List the zone's data files (skips _SUCCESS/metadata and anything
    * under a hidden directory BELOW the zone root — the zone root's own
    * name, or its ancestors', must not disqualify its contents). */
  private def dataFiles(spark: SparkSession, path: String): Seq[org.apache.hadoop.fs.FileStatus] = {
    val p0 = new Path(path)
    val fs = p0.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(p0)
    if (!fs.exists(root)) Seq.empty
    else {
      val it = fs.listFiles(root, true)
      val buf = scala.collection.mutable.ArrayBuffer.empty[org.apache.hadoop.fs.FileStatus]
      while (it.hasNext) {
        val f = it.next()
        val name = f.getPath.getName
        // walk ancestors up to (excluding) the zone root, by path equality
        val hiddenAncestor = {
          var q = f.getPath.getParent
          var hidden = false
          while (q != null && q != root && !hidden) {
            val n = q.getName
            hidden = n.startsWith("_") || n.startsWith(".")
            q = q.getParent
          }
          hidden
        }
        if (!name.startsWith("_") && !name.startsWith(".") && !hiddenAncestor) buf += f
      }
      buf.toSeq
    }
  }

  /** Identity of the live file set for the concurrent-writer abort check.
    * Includes modificationTime so a same-length in-place overwrite (or a
    * stale listing that reuses a path+length) between planning and swap
    * still trips the abort — path+length alone misses it. Cheap extra
    * signal only; external fencing (see class doc) remains mandatory. */
  private def fileKeys(fs: Seq[org.apache.hadoop.fs.FileStatus]): Set[(String, Long, Long)] =
    fs.map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).toSet

  /** Self-heal a predecessor's crash: a leftover `.compact_old_<name>_*`
    * with NO live dir means the crash hit between rename-aside and
    * promote — restore it; with a live dir present the promote finished —
    * delete it. Leftover tmp dirs are always safe to delete (they were
    * never the live copy). */
  private def reclaim(fs: FileSystem, live: Path): Unit = {
    val parent = live.getParent
    if (parent == null || !fs.exists(parent)) return
    val siblings = fs.listStatus(parent).toSeq.map(_.getPath)
    val olds = siblings.filter(_.getName.startsWith(oldPrefix(live.getName)))
    if (!fs.exists(live)) olds.headOption.foreach { o =>
      require(fs.rename(o, live), s"failed restoring $o -> $live")
    }
    (siblings.filter(_.getName.startsWith(tmpPrefix(live.getName)))
      ++ olds.filter(o => fs.exists(live) && o != live)).foreach(fs.delete(_, true))
  }

  /** Compact `path` (a lake zone dir) into ~`targetBytes` files, preserving
    * `partitionCols` directory layout and passing `writeOptions` (e.g.
    * compression) to the rewrite — the read side parses the zone as-is.
    * No-op when the zone already meets the target file count; aborts
    * (leaving the zone untouched) when a concurrent writer changes the
    * zone between planning and swap. `preSwapHook` is a test seam run
    * between the tmp write and the concurrent-change check. */
  def compact(spark: SparkSession, path: String, format: String = "parquet",
              targetBytes: Long = 128L << 20,
              partitionCols: Seq[String] = Nil,
              writeOptions: Map[String, String] = Map.empty,
              preSwapHook: String => Unit = _ => ()): Stats = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val live0 = new Path(path)
    val fs = live0.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = fs.makeQualified(live0)
    reclaim(fs, live)

    val before = dataFiles(spark, path)
    val bytes = before.map(_.getLen).sum
    val wantFiles = math.max(1L, math.ceil(bytes.toDouble / targetBytes).toLong)
    val noop = Stats(before.size.toLong, before.size.toLong, bytes, rewritten = false)
    if (before.isEmpty || before.size <= wantFiles) return noop

    // A partitioned zone root compacted with partitionCols=Nil would read
    // the key=value layout fine but REWRITE it as flat files — rows survive,
    // yet every consumer globbing year=*/month=*/... sees zero files. Refuse
    // loudly instead of silently destroying the layout.
    if (partitionCols.isEmpty) {
      val partDirs = fs.listStatus(live).filter(_.isDirectory).map(_.getPath.getName)
        .filter(n => !n.startsWith(".") && !n.startsWith("_") && n.contains("="))
      require(partDirs.isEmpty,
        s"$path contains partition subdirectories (${partDirs.sorted.take(3).mkString(", ")}, ...) " +
          "but partitionCols is empty — compacting would flatten the key=value layout. " +
          "Pass partitionCols explicitly, or compact one leaf via compactPartition / " +
          "compactClosedHours.")
    }

    val tag = System.nanoTime().toString
    val tmp = new Path(live.getParent, tmpPrefix(live.getName) + tag)
    val old = new Path(live.getParent, oldPrefix(live.getName) + tag)

    try {
      val df = graft.sources.Tables.load(spark, path, format)
      // partitioned zones repartition BY the partition columns so each
      // value's rows land in one task -> one file per value, not
      // wantFiles x values
      val re =
        if (partitionCols.nonEmpty)
          df.repartition(wantFiles.toInt, partitionCols.map(org.apache.spark.sql.functions.col): _*)
        else df.repartition(wantFiles.toInt)
      val writer = re.write.mode(SaveMode.Overwrite).format(format).options(writeOptions)
      (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*) else writer)
        .save(tmp.toString)

      preSwapHook(path)
      // abort on concurrent modification: a writer appended/removed files
      // since planning — compacting now would drop its rows
      if (fileKeys(dataFiles(spark, path)) != fileKeys(before)) {
        fs.delete(tmp, true)
        return noop
      }
      require(fs.rename(live, old), s"compaction swap failed renaming $live aside")
      require(fs.rename(tmp, live),
        s"compaction swap failed: $tmp -> $live (data intact at $old)")
      fs.delete(old, true)
      Stats(before.size.toLong, dataFiles(spark, path).size.toLong, bytes, rewritten = true)
    } catch {
      case e: Throwable =>
        // live dir untouched (or restorable from old on the next run's
        // reclaim); tmp is never the only copy, so drop it
        if (fs.exists(live) && fs.exists(tmp)) fs.delete(tmp, true)
        throw e
    }
  }

  /** Compact one LEAF partition subdir of a partitioned zone (e.g.
    * "year=2024/month=01/day=05/hour=13"): the bounded-unit production
    * form — concurrent readers of other partitions never see a swap.
    * A mid-level dir (e.g. "year=2024/month=01" in an hourly layout)
    * still contains key=value subdirs and is refused by [[compact]]'s
    * layout guard — compact its leaves individually instead (what
    * [[compactClosedHours]] does for the CDC zone). */
  def compactPartition(spark: SparkSession, zonePath: String, partitionSubdir: String,
                       format: String = "parquet", targetBytes: Long = 128L << 20,
                       writeOptions: Map[String, String] = Map.empty): Stats =
    compact(spark, zonePath.stripSuffix("/") + "/" + partitionSubdir, format,
      targetBytes, Nil, writeOptions)

  /** Compact every CLOSED hour partition of an A13-layout CDC zone
    * (`year=Y/month=M/day=D/hour=H`, the reference's Firehose prefix as
    * written by Cdc.writeCdcZone), preserving the zone's gzip-JSON
    * contract by default. An hour is treated as closed when it sorts
    * strictly before `beforeHour` — and because the hour columns derive
    * from `ingestion_timestamp`, which is only wall-clock "now" under the
    * production clock, callers must fence for replay: a restarted stream
    * re-stamps replayed rows with the CURRENT clock (they land in the
    * open hour — safe), but a pipeline configured with an event-derived
    * or injected clock can append into old hours, so pick `beforeHour`
    * with a lag covering the pipeline's maximum replay depth (e.g. two
    * hours behind now, not one). The per-compact concurrent-append check
    * additionally aborts a racing rewrite rather than dropping rows.
    *
    * `hourTimeout` is a PER-HOUR budget: hours run [[HourPoolSize]] at a
    * time, so the whole backlog gets `hourTimeout × ceil(hours / pool)`.
    * Past that, every Spark job the hours started is cancelled (they run
    * under one job tag) and a `TimeoutException` names the hours that
    * had not finished. Returns per-hour stats of the partitions actually
    * examined. */
  def compactClosedHours(spark: SparkSession, zonePath: String,
                         beforeHour: (Int, Int, Int, Int),
                         format: String = "json",
                         targetBytes: Long = 128L << 20,
                         writeOptions: Map[String, String] = Map("compression" -> "gzip"),
                         hourTimeout: FiniteDuration = 1.hour): Seq[(String, Stats)] = {
    val root = new Path(zonePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Seq.empty
    // only well-formed numeric partition dirs participate: tmp/old staging
    // dirs (dot-prefixed anyway), __HIVE_DEFAULT_PARTITION__ from null
    // timestamps, or any foreign dir must not crash the maintenance job
    def subdirs(p: Path, prefix: String): Seq[(Int, Path)] =
      fs.listStatus(p).toSeq.filter(_.isDirectory)
        .flatMap { s =>
          val n = s.getPath.getName
          if (n.startsWith(prefix + "="))
            Try(n.stripPrefix(prefix + "=").toInt).toOption.map(_ -> s.getPath)
          else None
        }
    val closed = for {
      (y, yp) <- subdirs(root, "year")
      (m, mp) <- subdirs(yp, "month")
      (d, dp) <- subdirs(mp, "day")
      (h, _) <- subdirs(dp, "hour")
      if Ordering[(Int, Int, Int, Int)].lt((y, m, d, h), beforeHour)
    } yield ((y, m, d, h), s"year=$y/month=$m/day=$d/hour=$h")
    // chronological (numeric) order — lexicographic would put hour=10
    // before hour=9. The per-hour compactions touch DISJOINT leaf dirs, so
    // they run overlapped from a small thread pool (guide §2.6: actions
    // are only sequential because the driver calls them sequentially;
    // FIFO scheduling back-fills one hour's write tail with the next
    // hour's read) — results keep hour order, stats unchanged.
    val ordered = closed.sortBy(_._1).map(_._2)
    if (ordered.isEmpty) return Seq.empty
    val poolSize = math.min(HourPoolSize, ordered.size)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(poolSize)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val sc = spark.sparkContext
    val tag = s"graft-compact-hours-${java.util.UUID.randomUUID()}"
    try {
      // Each body is wrapped in Try so the await NEVER completes early on
      // a failure (Future.sequence is fail-fast: siblings would keep
      // compacting on pool threads after the method returned, racing an
      // immediate retry on the same leaf).
      val futs = ordered.map { sub =>
        Future {
          sc.addJobTag(tag)
          try sub -> Try(compactPartition(spark, zonePath, sub, format,
            targetBytes, writeOptions))
          finally sc.removeJobTag(tag)
        }
      }
      val all = Future.sequence(futs)
      val budget = hourTimeout * ((ordered.size + poolSize - 1) / poolSize).toLong
      val done =
        try Await.result(all, budget)
        catch { case _: TimeoutException =>
          // cancel until the hours stop (an hour between two jobs starts
          // its next one after a single cancel), for at most StopGrace —
          // work outside Spark, such as a hung filesystem call, cannot be
          // cancelled and is named below instead
          val stopBy = System.nanoTime() + StopGrace.toNanos
          while (!all.isCompleted && System.nanoTime() < stopBy) {
            sc.cancelJobsWithTag(tag)
            Try(Await.ready(all, 100.millis))
          }
          val running = ordered.zip(futs).collect { case (sub, f) if !f.isCompleted => sub }
          throw new TimeoutException(
            s"compaction of ${ordered.size} closed hours exceeded $budget " +
              s"($hourTimeout per hour); their Spark jobs were cancelled" +
              (if (running.isEmpty) " and no compaction is still running"
               else s"; still running outside Spark: ${running.mkString(", ")}"))
        }
      val failed = done.collect { case (sub, Failure(e)) => sub -> e }
      if (failed.nonEmpty) {
        val ok = done.collect { case (sub, Success(_)) => sub }
        throw new RuntimeException(
          s"compaction failed for ${failed.map(_._1).mkString(", ")}" +
            (if (ok.nonEmpty) s" (completed ok: ${ok.mkString(", ")})" else "") +
            "; no compaction is still running — safe to retry",
          failed.head._2)
      }
      done.map { case (sub, t) => sub -> t.get }
    } finally {
      // every hour has finished unless the timeout named stragglers;
      // those get an interrupt, which stops blocking calls that honour it
      pool.shutdownNow(); ()
    }
  }

  /** Closed hours compacted at once by [[compactClosedHours]]. */
  private val HourPoolSize = 3

  /** How long a timed-out [[compactClosedHours]] keeps cancelling its
    * jobs while waiting for the hours to stop. */
  private val StopGrace = 30.seconds
}
