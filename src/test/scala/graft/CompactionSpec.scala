package graft

import org.apache.spark.sql.functions._
import graft.operators.Compaction

/** Compaction must shrink the file count to the byte-derived target while
  * preserving every row, the schema, the compression contract, and (when
  * asked) the partition directory layout — and must never race a
  * concurrent writer into data loss. */
class CompactionSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("graft_compact").toString + "/zone"

  private def dataFileNames(dir: String): Seq[String] = {
    val d = new java.io.File(dir)
    if (!d.exists()) Seq.empty
    else d.listFiles().filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
      .map(_.getName).toSeq
  }

  test("many tiny files collapse to the target count with identical data") {
    val dir = freshDir()
    val df = spark.range(10000L).select($"id",
      concat(lit("row"), $"id").as("payload"))
    df.repartition(64).write.parquet(dir) // 64 tiny files
    val stats = Compaction.compact(spark, dir, targetBytes = 1L << 30)
    assert(stats.filesBefore === 64L)
    assert(stats.filesAfter === 1L, s"expected 1 compacted file, got $stats")
    assert(stats.rewritten)
    val back = spark.read.parquet(dir)
    assert(back.count() === 10000L)
    assert(back.agg(sum($"id")).head.getLong(0) === (0L until 10000L).sum)
    assert(back.schema.fieldNames.toSet === Set("id", "payload"))
    // staging dirs are cleaned up
    val parent = new java.io.File(dir).getParentFile
    assert(!parent.listFiles().exists(_.getName.startsWith(".compact_")),
      "staging dirs left behind")
  }

  test("already-compact zones are left untouched (no rewrite)") {
    val dir = freshDir()
    spark.range(100L).coalesce(1).write.parquet(dir)
    val before = dataFileNames(dir).toSet
    val stats = Compaction.compact(spark, dir, targetBytes = 1L << 30)
    assert(!stats.rewritten)
    assert(dataFileNames(dir).toSet === before,
      "no-op compaction must not touch the zone")
  }

  test("closed CDC hours compact to gzip; the in-flight hour is never touched") {
    val dir = freshDir()
    // two closed hours + the current one, A13 layout, many tiny files each
    for (h <- Seq(9, 10, 11)) {
      spark.range(200L).select($"id", lit(2024).as("year"), lit(6).as("month"),
          lit(21).as("day"), lit(h).as("hour"))
        .repartition(8)
        .write.mode("append").partitionBy("year", "month", "day", "hour").json(dir)
    }
    // junk dirs that must not crash the maintenance walk
    new java.io.File(s"$dir/year=2024/month=6/day=21/hour=__HIVE_DEFAULT_PARTITION__").mkdirs()
    new java.io.File(s"$dir/year=2024/month=6/day=21/.compact_tmp_hour=9_123").mkdirs()
    def hourDir(h: Int) = s"$dir/year=2024/month=6/day=21/hour=$h"
    val currentBefore = dataFileNames(hourDir(11))
    val stats = Compaction.compactClosedHours(spark, dir,
      beforeHour = (2024, 6, 21, 11), targetBytes = 1L << 30)
    assert(stats.map(_._1) ===
      Seq("year=2024/month=6/day=21/hour=9", "year=2024/month=6/day=21/hour=10"))
    assert(dataFileNames(hourDir(9)).size === 1 && dataFileNames(hourDir(10)).size === 1,
      "closed hours not compacted")
    // the CDC zone's gzip contract survives the rewrite
    assert(dataFileNames(hourDir(9)).forall(_.endsWith(".json.gz")),
      s"compacted hour lost gzip: ${dataFileNames(hourDir(9))}")
    assert(dataFileNames(hourDir(11)).toSet === currentBefore.toSet,
      "in-flight hour was rewritten")
    assert(spark.read.json(dir).count() === 600L)
  }

  test("one failing hour surfaces loud AFTER every sibling finishes (no work left racing a retry)") {
    val dir = freshDir()
    for (h <- Seq(0, 1, 2)) {
      spark.range(200L).select($"id", lit(2024).as("year"), lit(1).as("month"),
          lit(1).as("day"), lit(h).as("hour"))
        .repartition(8)
        .write.mode("append").partitionBy("year", "month", "day", "hour").json(dir)
    }
    // hour=1 is poisoned: a garbage .gz makes its read throw, so its
    // compactPartition fails while the siblings succeed
    java.nio.file.Files.write(
      new java.io.File(s"$dir/year=2024/month=1/day=1/hour=1/junk.json.gz").toPath,
      Array.fill[Byte](64)(7))
    val e = intercept[RuntimeException] {
      Compaction.compactClosedHours(spark, dir, beforeHour = (2025, 1, 1, 0),
        targetBytes = 1L << 30, writeOptions = Map.empty)
    }
    // the failure names the hour AND only returns once nothing is running
    assert(e.getMessage.contains("hour=1"), e.getMessage)
    assert(e.getMessage.contains("no compaction is still running"), e.getMessage)
    // the healthy siblings were awaited to completion, not abandoned
    // mid-flight: their rewrites landed
    def files(h: Int) = dataFileNames(s"$dir/year=2024/month=1/day=1/hour=$h")
    assert(files(0).size === 1 && files(2).size === 1,
      s"sibling hours not compacted: ${files(0)} / ${files(2)}")
    // poisoned hour untouched (its swap never ran)
    assert(files(1).count(_.endsWith(".json")) === 8)
  }

  test("a timed-out backlog cancels its hours' Spark jobs before the timeout surfaces") {
    val dir = freshDir()
    for (h <- Seq(0, 1)) {
      spark.range(200L).select($"id", lit(2024).as("year"), lit(1).as("month"),
          lit(1).as("day"), lit(h).as("hour"))
        .repartition(4)
        .write.mode("append").partitionBy("year", "month", "day", "hour").json(dir)
    }
    def files(h: Int) = dataFileNames(s"$dir/year=2024/month=1/day=1/hour=$h")
    val before = Seq(0, 1).map(files)
    val sc = spark.sparkContext
    // the jobs the hours start, by their compaction job tag
    val started = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val ended = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
            .exists(_.split(",").exists(_.startsWith("graft-compact-hours-"))))
          started.add(e.jobId)
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        ended.add(e.jobId)
    }
    sc.addSparkListener(listener)
    HangingJson.hold = true
    try {
      val e = intercept[java.util.concurrent.TimeoutException] {
        Compaction.compactClosedHours(spark, dir, beforeHour = (2025, 1, 1, 0),
          format = classOf[HangingJson].getName, writeOptions = Map.empty,
          hourTimeout = scala.concurrent.duration.Duration(2, "s"))
      }
      assert(e.getMessage.contains("no compaction is still running"), e.getMessage)
      // the reads still block, yet every tagged job has ended (the listener
      // bus delivers asynchronously, hence the short poll)
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while ((started.isEmpty || !ended.containsAll(started)) &&
          System.nanoTime() < deadline) Thread.sleep(50)
      assert(!started.isEmpty, "the hours started no tagged job")
      assert(ended.containsAll(started),
        s"tagged jobs still active: ${started.toArray.filterNot(ended.contains).mkString(",")}")
    } finally {
      HangingJson.hold = false
      sc.removeSparkListener(listener)
    }
    assert(Seq(0, 1).map(files) === before, "a cancelled hour was swapped")
  }

  test("a concurrent append between planning and swap aborts the rewrite") {
    val dir = freshDir()
    spark.range(1000L).select($"id").repartition(16).write.parquet(dir)
    // inject the race through the per-call test seam: a writer appends
    // AFTER the tmp was written but BEFORE the swap — compact must walk
    // away, and the appended rows must survive
    val stats = Compaction.compact(spark, dir, targetBytes = 1L << 30,
      preSwapHook = p => spark.range(1000L, 1100L).select($"id")
        .coalesce(1).write.mode("append").parquet(p))
    assert(!stats.rewritten, s"racing rewrite must abort, got $stats")
    assert(spark.read.parquet(dir).count() === 1100L,
      "the concurrently appended rows were lost")
    val parent = new java.io.File(dir).getParentFile
    assert(!parent.listFiles().exists(_.getName.startsWith(".compact_")),
      "aborted compaction left staging dirs")
  }

  test("a crashed swap's leftover staging dirs self-heal on the next run") {
    val dir = freshDir()
    spark.range(500L).select($"id").repartition(8).write.parquet(dir)
    val parent = new java.io.File(dir).getParentFile
    val name = new java.io.File(dir).getName
    // simulate a crash between rename-aside and promote: live dir moved
    // to .compact_old_*, nothing promoted
    val oldDir = new java.io.File(parent, s".compact_old_${name}_999")
    assert(new java.io.File(dir).renameTo(oldDir))
    assert(!new java.io.File(dir).exists())
    // plus an orphaned tmp from an earlier failed write
    new java.io.File(parent, s".compact_tmp_${name}_42").mkdirs()
    val stats = Compaction.compact(spark, dir, targetBytes = 1L << 30)
    // reclaim restored the live dir, then the compaction proceeded
    assert(stats.rewritten && stats.filesBefore === 8L)
    assert(spark.read.parquet(dir).count() === 500L)
    assert(!parent.listFiles().exists(_.getName.startsWith(".compact_")),
      "staging dirs not reclaimed")
  }

  test("a same-length in-place overwrite between planning and swap aborts (mtime signal)") {
    val dir = freshDir()
    spark.range(1000L).select($"id").repartition(16).write.parquet(dir)
    // the racing writer rewrites one data file IN PLACE with the same byte
    // length — a (path, length)-only identity misses this; modificationTime
    // must trip the abort
    val stats = Compaction.compact(spark, dir, targetBytes = 1L << 30,
      preSwapHook = p => {
        val f = new java.io.File(p).listFiles()
          .filterNot(x => x.getName.startsWith("_") || x.getName.startsWith("."))
          .minBy(_.getName)
        val bytes = java.nio.file.Files.readAllBytes(f.toPath)
        java.nio.file.Files.write(f.toPath, bytes)
        assert(f.setLastModified(f.lastModified() + 2000L))
      })
    assert(!stats.rewritten, s"same-length overwrite race must abort, got $stats")
  }

  test("a partitioned zone root refuses compaction without explicit partitionCols") {
    val dir = freshDir()
    spark.range(100L).select($"id", ($"id" % 2).as("part"))
      .repartition(8).write.partitionBy("part").parquet(dir)
    val e = intercept[IllegalArgumentException] {
      Compaction.compact(spark, dir, targetBytes = 1L << 30)
    }
    assert(e.getMessage.contains("partition subdirectories"))
    // the layout is untouched and readable
    assert(spark.read.parquet(dir).filter($"part" === 1).count() === 50L)
    // with the columns declared explicitly the same call compacts fine
    val stats = Compaction.compact(spark, dir, targetBytes = 1L << 30,
      partitionCols = Seq("part"))
    assert(stats.rewritten)
    assert(spark.read.parquet(dir).filter($"part" === 1).count() === 50L)
  }

  test("partition layout survives; per-partition form bounds the rewrite unit") {
    val dir = freshDir()
    val df = spark.range(2000L).select($"id", ($"id" % 2).as("part"),
      concat(lit("x"), $"id").as("payload"))
    df.repartition(16).write.partitionBy("part").parquet(dir)
    // compact only part=0 — part=1's files must be byte-identical after
    val p1Before = new java.io.File(dir + "/part=1").listFiles()
      .filterNot(_.getName.startsWith("_")).map(f => f.getName -> f.length()).toMap
    val stats = Compaction.compactPartition(spark, dir, "part=0", targetBytes = 1L << 30)
    assert(stats.filesAfter === 1L)
    val p1After = new java.io.File(dir + "/part=1").listFiles()
      .filterNot(_.getName.startsWith("_")).map(f => f.getName -> f.length()).toMap
    assert(p1After === p1Before, "untouched partition was rewritten")
    // read back through the partitioned zone root: all rows intact
    val back = spark.read.parquet(dir)
    assert(back.count() === 2000L)
    assert(back.filter($"part" === 0).count() === 1000L)
  }
}

/** JSON whose schema inference first runs a Spark job that blocks while
  * [[HangingJson.hold]] is set: a compaction read that hangs until
  * released. */
class HangingJson extends org.apache.spark.sql.execution.datasources.json.JsonFileFormat {
  override def inferSchema(spark: org.apache.spark.sql.SparkSession,
                           options: Map[String, String],
                           files: Seq[org.apache.hadoop.fs.FileStatus])
      : Option[org.apache.spark.sql.types.StructType] = {
    spark.sparkContext.parallelize(1 to 2, 2)
      .foreach(_ => while (HangingJson.hold) Thread.sleep(20))
    super.inferSchema(spark, options, files)
  }
}

object HangingJson {
  @volatile var hold = false
}
