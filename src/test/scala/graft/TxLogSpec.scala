package graft

import org.apache.spark.sql.functions._
import graft.operators.TxLog

/** The transaction log's contract: readers always see a complete
  * generation (never a partial file set), racing writers cannot both own
  * a generation, old snapshots stay readable until vacuum retention
  * passes them, and every row survives append/compact/vacuum. */
class TxLogSpec extends SparkSpec {
  import spark.implicits._

  private def freshZone(): String =
    java.nio.file.Files.createTempDirectory("graft_txlog").toString + "/zone"

  private def ids(zone: String): Set[Long] =
    TxLog.read(spark, zone).select($"id").as[Long].collect().toSet

  test("init over an existing plain zone, then read, preserves the data") {
    val zone = freshZone()
    spark.range(100L).select($"id", concat(lit("p"), $"id").as("payload"))
      .repartition(4).write.parquet(zone)
    val s = TxLog.init(spark, zone)
    assert(s.gen === 0L && s.files.size === 4)
    assert(ids(zone) === (0L until 100L).toSet)
  }

  test("append publishes increasing generations and accumulates rows") {
    val zone = freshZone()
    spark.range(10L).toDF("id").write.parquet(zone)
    TxLog.init(spark, zone)
    val s1 = TxLog.append(spark, zone, spark.range(10L, 20L).toDF("id"))
    val s2 = TxLog.append(spark, zone, spark.range(20L, 30L).toDF("id"))
    assert(s1.gen === 1L && s2.gen === 2L)
    assert(s2.files.toSet.size === s2.files.size, "duplicate manifest entries")
    assert(ids(zone) === (0L until 30L).toSet)
  }

  test("compact collapses files, keeps data, and never disturbs old-snapshot readers") {
    val zone = freshZone()
    spark.range(1000L).toDF("id").repartition(16).write.parquet(zone)
    val s0 = TxLog.init(spark, zone)
    assert(s0.files.size === 16)

    // a reader pinned to the pre-compact snapshot
    val oldReader = TxLog.readSnapshot(spark, zone, s0)

    var sawDuringRewrite: Option[Set[Long]] = None
    val stats = TxLog.compact(spark, zone, targetBytes = 1L << 30,
      prePublishHook = () => {
        // new data files are fully written but NOT yet published: a
        // concurrent reader must still see the complete OLD generation
        sawDuringRewrite = Some(ids(zone))
      })
    assert(stats.rewritten && stats.filesBefore === 16L && stats.filesAfter === 1L)
    assert(sawDuringRewrite.get === (0L until 1000L).toSet,
      "reader during rewrite saw a partial or mixed file set")
    assert(ids(zone) === (0L until 1000L).toSet)
    // the pinned old snapshot still reads in full (vacuum has not run)
    assert(oldReader.count() === 1000L)
  }

  test("a lost publish race aborts the compaction and removes its files") {
    val zone = freshZone()
    spark.range(100L).toDF("id").repartition(8).write.parquet(zone)
    TxLog.init(spark, zone)
    val stats = TxLog.compact(spark, zone, targetBytes = 1L << 30,
      prePublishHook = () => {
        // a concurrent append wins generation 1 first
        TxLog.append(spark, zone, spark.range(100L, 110L).toDF("id"))
      })
    assert(!stats.rewritten, "compaction must abort when it loses the race")
    // the winner's rows are live; nothing was lost or duplicated
    assert(ids(zone) === (0L until 110L).toSet)
    // the aborted rewrite's data dir is gone: exactly one d-* dir (the append's)
    val dDirs = new java.io.File(zone).listFiles().filter(_.getName.startsWith("d-"))
    assert(dDirs.length === 1, s"aborted compact left its write dir: ${dDirs.mkString(",")}")
  }

  test("mid-write (truncated) manifests are invisible to readers") {
    val zone = freshZone()
    spark.range(50L).toDF("id").write.parquet(zone)
    val s0 = TxLog.init(spark, zone)
    // simulate a writer crash / in-flight publish: a gen-1 manifest with
    // no terminating 'end' marker
    val dir = new java.io.File(zone, "_txlog")
    val partial = new java.io.File(dir, "gen-" + "0" * 19 + "1")
    val w = new java.io.PrintWriter(partial, "UTF-8")
    try { w.println("graft-txlog v1"); w.println("gen=1"); w.println("format=parquet")
          w.println("count=1"); w.println("f d-dead/part-0.parquet") } finally w.close()
    val seen = TxLog.latest(spark, zone)
    assert(seen.map(_.gen) === Some(s0.gen), "reader picked up an incomplete manifest")
    assert(ids(zone) === (0L until 50L).toSet)
  }

  test("exactlyOnceAppend: replayed batchIds are skipped; the mark survives compaction") {
    val zone = freshZone()
    spark.range(0L).toDF("id").write.parquet(zone)
    TxLog.init(spark, zone)
    assert(TxLog.exactlyOnceAppend(spark, zone, spark.range(10L).toDF("id"), 0L))
    assert(TxLog.exactlyOnceAppend(spark, zone, spark.range(10L, 20L).toDF("id"), 1L))
    // a restart replaying batch 1 must be a no-op, not a duplicate
    assert(!TxLog.exactlyOnceAppend(spark, zone, spark.range(10L, 20L).toDF("id"), 1L))
    assert(ids(zone) === (0L until 20L).toSet)
    // compaction carries the high-water mark forward
    val stats = TxLog.compact(spark, zone, targetBytes = 1L << 30)
    assert(stats.rewritten)
    assert(!TxLog.exactlyOnceAppend(spark, zone, spark.range(10L, 20L).toDF("id"), 1L),
      "compaction erased the batchId mark — replay would duplicate")
    assert(TxLog.exactlyOnceAppend(spark, zone, spark.range(20L, 30L).toDF("id"), 2L))
    assert(ids(zone) === (0L until 30L).toSet)
  }

  test("streamSink: checkpointed stream lands each row exactly once across a restart") {
    import spark.implicits._
    val src = java.nio.file.Files.createTempDirectory("txsrc").toString
    val ckpt = java.nio.file.Files.createTempDirectory("txckpt").toString
    val zone = freshZone()
    spark.range(0L).toDF("id").write.parquet(zone)
    TxLog.init(spark, zone)

    def writeBatch(r: Range): Unit =
      r.map(_.toLong).toDF("id").coalesce(1).write.mode("append").json(src)
    def runOnce(): Unit = {
      val stream = spark.readStream
        .schema("id LONG").json(src).select($"id")
      val q = stream.writeStream
        .foreachBatch(TxLog.streamSink(zone))
        .option("checkpointLocation", ckpt).start()
      q.processAllAvailable(); q.stop()
    }
    writeBatch(0 until 50); runOnce()
    writeBatch(50 until 100); runOnce() // full restart from checkpoint
    assert(ids(zone) === (0L until 100L).toSet)
    // simulate the classic failure: the last trigger replays after a crash
    // between sink write and checkpoint commit
    val lastBatch = TxLog.latest(spark, zone).get.meta("batchId").toLong
    assert(!TxLog.exactlyOnceAppend(spark, zone,
      (50 until 100).map(_.toLong).toDF("id"), lastBatch))
    assert(ids(zone) === (0L until 100L).toSet, "replay duplicated rows")
  }

  test("manifest stats skip non-overlapping files; results equal the full scan") {
    import org.apache.spark.sql.functions._
    val zone = freshZone()
    spark.range(0L).toDF("id").write.parquet(zone)
    TxLog.init(spark, zone)
    // three appends with disjoint id ranges -> per-file min/max in the log
    for (lo <- Seq(0L, 1000L, 2000L))
      TxLog.append(spark, zone,
        spark.range(lo, lo + 1000L).toDF("id").coalesce(2),
        statsCols = Seq("id"))
    val head = TxLog.latest(spark, zone).get
    assert(head.meta("stats.cols") === "id")
    // the gen-0 root file (empty, pre-log) has no stats; every APPENDED
    // file carries them
    val unstatted = head.files.filterNot(_.startsWith("d-"))
    assert(unstatted.nonEmpty)
    assert(head.colStats.keySet === head.files.filter(_.startsWith("d-")).toSet,
      "an appended data file is missing stats")

    // the predicate touches ONLY the middle range's files, plus the
    // unstatted gen-0 file, which is never skipped blind
    val keep = TxLog.prunedFilesFor(head, "id", 1200L, 1300L)
    assert(keep.size < head.files.size && keep.exists(_.startsWith("d-")),
      s"no skipping happened: ${keep.size} of ${head.files.size}")
    assert(unstatted.forall(keep.contains), "an unstatted file was skipped")
    assert(keep.flatMap(head.colStats.get).forall { m =>
      m("id").max.get.toDouble >= 1200d && m("id").min.get.toDouble <= 1300d })

    val got = TxLog.readWhereCol(spark, zone, "id", 1200L, 1300L)
      .select($"id").as[Long].collect().toSet
    assert(got === (1200L to 1300L).toSet, "pruned read lost or gained rows")
    // a range beyond all stats reads nothing (only the empty gen-0 file)
    assert(TxLog.prunedFilesFor(head, "id", 10000L, 20000L) === unstatted)
    assert(TxLog.readWhereCol(spark, zone, "id", 10000L, 20000L).count() === 0L)

    // compaction recomputes stats for the rewritten files; skipping survives
    val c = TxLog.compact(spark, zone, targetBytes = 1L << 30)
    assert(c.rewritten)
    val afterHead = TxLog.latest(spark, zone).get
    assert(afterHead.colStats.nonEmpty, "compaction dropped the stats")
    val got2 = TxLog.readWhereCol(spark, zone, "id", 1200L, 1300L)
      .select($"id").as[Long].collect().toSet
    assert(got2 === (1200L to 1300L).toSet)
  }

  test("typed multi-column stats: numeric, lexicographic, and null-count skipping") {
    val zone = freshZone()
    spark.range(0L).select($"id", $"id".cast("string").as("name"),
      $"id".cast("string").as("maybe")).write.parquet(zone)
    TxLog.init(spark, zone)
    // batch 1: ids 0-999, names a*, `maybe` entirely NULL
    TxLog.append(spark, zone,
      spark.range(0L, 1000L).select($"id", concat(lit("a"), $"id").as("name"),
        lit(null).cast("string").as("maybe")).coalesce(2),
      statsCols = Seq("id", "name", "maybe"))
    // batch 2: ids 1000-1999, names m*, `maybe` populated (inherits stats.cols)
    TxLog.append(spark, zone,
      spark.range(1000L, 2000L).select($"id", concat(lit("m"), $"id").as("name"),
        concat(lit("v"), $"id").as("maybe")).coalesce(2))
    val head = TxLog.latest(spark, zone).get
    assert(head.meta("stats.cols") === "id,name,maybe")
    val appended = head.files.filter(_.startsWith("d-"))
    assert(appended.forall(f => head.colStats(f).keySet === Set("id", "name", "maybe")),
      "an appended file is missing typed stats")

    // numeric range pruning touches only batch 2's files
    val keepNum = TxLog.prunedFilesFor(head, "id", 1200L, 1300L)
    assert(keepNum.nonEmpty && keepNum.size < appended.size)
    val gotNum = TxLog.readWhereCol(spark, zone, "id", 1200L, 1300L)
    assert(gotNum.inputFiles.length === keepNum.size, "scan did not honor the pruned file list")
    assert(gotNum.select($"id").as[Long].collect().toSet === (1200L to 1300L).toSet)

    // lexicographic pruning on the string column skips the a* files
    val keepStr = TxLog.prunedFilesFor(head, "name", "m", "z")
    assert(keepStr.nonEmpty && keepStr.size < appended.size)
    assert(TxLog.readWhereCol(spark, zone, "name", "m", "z").count() === 1000L)

    // a range predicate on the all-null file's column prunes it outright,
    // and null-count skipping reads only files with a non-null row
    val notNull = TxLog.readWhereNotNull(spark, zone, "maybe")
    assert(notNull.count() === 1000L)
    assert(notNull.inputFiles.length < appended.size,
      "the entirely-null file should not be scanned for IS NOT NULL")

    // compaction recomputes typed stats for the rewritten files
    assert(TxLog.compact(spark, zone, targetBytes = 1L << 30).rewritten)
    val after = TxLog.latest(spark, zone).get
    assert(after.colStats.nonEmpty, "compaction dropped the typed stats")
    assert(TxLog.readWhereCol(spark, zone, "id", 1200L, 1300L)
      .select($"id").as[Long].collect().toSet === (1200L to 1300L).toSet)
  }

  test("value-clustered layout makes manifest skipping effective; shuffled does not") {
    // same rows, two physical layouts: clustering is what turns per-file
    // min/max into a sharp pruning predicate (single-column = range
    // clustering; multi-column locality is Layout.clusterByZ's job)
    val rows = spark.range(4000L).toDF("id")
      .select(col("id"), pmod(col("id") * 2654435761L, lit(4000L)).as("v"))
    def build(df: org.apache.spark.sql.DataFrame): String = {
      val zone = freshZone()
      spark.range(0L).select(col("id"), col("id").as("v")).limit(0)
        .write.parquet(zone)
      TxLog.init(spark, zone)
      TxLog.replace(spark, zone, df, statsCols = Seq("v"))
      zone
    }
    val clustered = build(rows.repartitionByRange(8, col("v"))
      .sortWithinPartitions("v"))
    val shuffled = build(rows.repartition(8))
    def touched(zone: String): Int = {
      val h = TxLog.latest(spark, zone).get
      TxLog.prunedFilesFor(h, "v", 100L, 150L).count(f => h.colStats.contains(f))
    }
    assert(touched(clustered) <= 2,
      s"clustered zone should prune to ~1 file, touched ${touched(clustered)}")
    assert(touched(shuffled) === 8, "shuffled layout cannot prune — every file overlaps")
    // both layouts return the identical exact result
    import spark.implicits._
    val a = TxLog.readWhereCol(spark, clustered, "v", 100L, 150L).select($"id").as[Long].collect().toSet
    val b = TxLog.readWhereCol(spark, shuffled, "v", 100L, 150L).select($"id").as[Long].collect().toSet
    assert(a === b && a.nonEmpty)
  }

  test("fuzz: a manifest truncated at ANY byte is invisible, never misread") {
    val zone = freshZone()
    spark.range(25L).toDF("id").write.parquet(zone)
    val s0 = TxLog.init(spark, zone)
    val s1 = TxLog.append(spark, zone, spark.range(25L, 50L).toDF("id"))
    val dir = new java.io.File(zone, "_txlog")
    val full = java.nio.file.Files.readAllBytes(
      new java.io.File(dir, "gen-" + "0" * 19 + "1").toPath)
    val g2 = new java.io.File(dir, "gen-" + "0" * 19 + "2")
    // every proper prefix of a real gen-2 manifest must be ignored (the
    // reader falls back to gen-1) — a crash can cut the write anywhere
    for (cut <- 0 until full.length) {
      java.nio.file.Files.write(g2.toPath, full.take(cut))
      val seen = TxLog.latest(spark, zone).get
      assert(seen.gen === s1.gen && seen.files === s1.files,
        s"truncation at byte $cut changed the visible snapshot")
      g2.delete()
    }
    // the complete bytes, by contrast, parse (as a gen-2 with gen-1's list)
    java.nio.file.Files.write(g2.toPath, full)
    assert(TxLog.latest(spark, zone).exists(_.files === s1.files))
    assert(s0.gen === 0L)
  }

  test("vacuum grace period protects an in-flight writer's unpublished files") {
    val zone = freshZone()
    spark.range(100L).toDF("id").repartition(8).write.parquet(zone)
    TxLog.init(spark, zone)
    TxLog.append(spark, zone, spark.range(100L, 200L).toDF("id"))
    // simulate a writer mid-commit: data files written, manifest not yet
    // published — exactly what a concurrent vacuum must NOT collect
    val inflight = new java.io.File(zone, "d-inflight")
    inflight.mkdirs()
    spark.range(200L, 300L).toDF("id").write.mode("overwrite")
      .parquet(inflight.toString + "/part")
    val compacted = TxLog.compact(spark, zone, targetBytes = 1L << 30)
    assert(compacted.rewritten)
    // default grace: the unpublished fresh files survive vacuum
    TxLog.vacuum(spark, zone, keepGens = 1)
    assert(spark.read.parquet(inflight.toString + "/part").count() === 100L,
      "vacuum collected an in-flight writer's files inside the grace window")
    // past the grace window (grace 0) they are garbage and go away
    TxLog.vacuum(spark, zone, keepGens = 1, graceMs = 0L)
    assert(!new java.io.File(inflight, "part").exists(),
      "expired unreferenced files should be collected")
    assert(ids(zone) === (0L until 200L).toSet)
  }

  test("concurrent appenders: every row lands exactly once (create-exclusive races)") {
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val zone = freshZone()
    spark.range(0L).toDF("id").write.parquet(zone)
    TxLog.init(spark, zone)
    // 8 writers race the generation counter; each loses some publishes and
    // must rebase — the exactly-once guarantee is the log's, not luck's
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val fs = (0 until 8).map { w =>
        Future {
          TxLog.append(spark, zone,
            spark.range(w * 100L, (w + 1) * 100L).toDF("id"))
        }
      }
      Await.result(Future.sequence(fs), 120.seconds)
    } finally pool.shutdown()
    val head = TxLog.latest(spark, zone).get
    assert(head.gen === 8L, s"expected 8 serialized publishes, got gen ${head.gen}")
    assert(head.files.size === head.files.toSet.size, "duplicate manifest entries")
    assert(ids(zone) === (0L until 800L).toSet, "a concurrent append lost or duplicated rows")
  }

  test("a meta commit that loses to an advancing head on every attempt still commits once") {
    val zone = freshZone()
    spark.range(10L).toDF("id").write.parquet(zone)
    TxLog.init(spark, zone)
    var calls = 0
    // each of the first 6 attempts lets a rival append win its generation:
    // more lost races than the bound, but every one advanced the head
    val s = TxLog.commitMeta(spark, zone, "memo", head => {
      calls += 1
      if (calls <= 6) TxLog.append(spark, zone, Seq(100L + calls).toDF("id"))
      Map("memo" -> head.gen.toString)
    })
    assert(calls === 7 && s.gen === 7L && s.meta("memo") === "6")
    val ops = TxLog.history(spark, zone).select("op").as[String].collect()
    assert(ops.count(_ == "memo") === 1, s"the meta commit must land exactly once: ${ops.mkString(",")}")
    assert(ids(zone) === (0L until 10L).toSet ++ (101L to 106L), "a rival append was lost")
  }

  /** A crashed publish: gen file created, body never completed. */
  private def writeTorn(zone: String, gen: Long): java.io.File = {
    val dir = new java.io.File(zone, "_txlog"); dir.mkdirs()
    val torn = new java.io.File(dir, "gen-" + ("%020d".format(gen)))
    val w = new java.io.PrintWriter(torn, "UTF-8")
    try { w.println("graft-txlog v1"); w.println(s"gen=$gen") } finally w.close()
    torn
  }

  test("a crash-torn manifest past the grace window is skipped — one crash cannot wedge the zone") {
    val zone = freshZone()
    spark.range(10L).toDF("id").write.parquet(zone)
    TxLog.init(spark, zone)
    val torn = writeTorn(zone, 1L)
    // fresh torn file = possibly a publish in progress: its number must
    // NOT be bypassed, so the append exhausts its retries and fails loudly
    intercept[RuntimeException] {
      TxLog.append(spark, zone, spark.range(10L, 20L).toDF("id"))
    }
    assert(ids(zone) === (0L until 10L).toSet, "failed append leaked rows")
    val referenced = TxLog.latest(spark, zone).get.files.map(_.split("/")(0)).toSet
    val staged = new java.io.File(zone).listFiles().map(_.getName)
      .filter(n => n.startsWith("d-") && !referenced(n))
    assert(staged.isEmpty, s"failed append left its staged dir: ${staged.mkString(",")}")
    // past the grace window the corpse's NUMBER is skipped (never deleted
    // — a delete-based reclaim would race a concurrent reclaimer into
    // deleting its fresh manifest) and the zone is writable again
    assert(torn.setLastModified(System.currentTimeMillis() - 16L * 60L * 1000L))
    val s = TxLog.append(spark, zone, spark.range(10L, 20L).toDF("id"))
    assert(s.gen === 2L, s"skip-forward should claim the next free gen, got ${s.gen}")
    assert(torn.exists(), "publish must never delete the corpse (vacuum GCs it)")
    assert(ids(zone) === (0L until 20L).toSet)
    assert(TxLog.latest(spark, zone).exists(_.gen === 2L))
    // a COMPLETE manifest is never skipped, however old it is
    val g2 = new java.io.File(new java.io.File(zone, "_txlog"), "gen-" + "%020d".format(2L))
    assert(g2.setLastModified(System.currentTimeMillis() - 24L * 60L * 60L * 1000L))
    val s2 = TxLog.append(spark, zone, spark.range(20L, 30L).toDF("id"))
    assert(s2.gen === 3L && ids(zone) === (0L until 30L).toSet)
  }

  test("str-stat pruning is format-safe: timestamp-granularity bounds on a DATE stats column") {
    import org.apache.spark.sql.functions.{col, to_date, lit}
    val zone = freshZone()
    val df = spark.range(1L, 11L).toDF("i")
      .withColumn("d", to_date(
        org.apache.spark.sql.functions.date_add(lit("2020-01-01"), (col("i") - 1).cast("int"))))
    TxLog.replace(spark, zone, df.repartitionByRange(3, col("d")),
      statsCols = Seq("d"))
    // DATE stats stringify as "2020-01-03"; a finer-granularity caller
    // bound "2020-01-03 00:00:00" compares lexicographically LARGER than
    // the day string — a plain string compare would prune the file whose
    // max is the lower-bound day and silently lose its qualifying rows.
    // The common-prefix compare treats them as equal (ambiguous → keep).
    val got = TxLog.readWhereCol(spark, zone, "d",
      "2020-01-03 00:00:00", "2020-01-07 23:59:59")
      .select("i").collect().map(_.getLong(0)).toSet
    assert(got === (3L to 7L).toSet,
      s"mixed-granularity bounds lost rows: $got")
  }

  test("fork check: a publish landing below a rival chain on the same base yields, not wins") {
    // The one hole skip-forward opens: writer A skips an expired corpse
    // and claims gen base+2; vacuum GC's the corpse; stale writer B then
    // claims the freed number base+1 — two complete chains on the same
    // base, and the higher one silently drops B's files. The manifest's
    // `base` field + post-publish fork check close it: the later
    // completer deletes its OWN manifest and reports a lost race.
    val zone = freshZone()
    spark.range(10L).toDF("id").repartition(4).write.parquet(zone)
    TxLog.init(spark, zone)                                        // gen 0
    TxLog.append(spark, zone, spark.range(10L, 20L).toDF("id"))    // gen 1 = head
    val corpse = writeTorn(zone, 2L)
    assert(corpse.setLastModified(System.currentTimeMillis() - 16L * 60L * 1000L))
    // compact plans against head gen 1 and will publish at gen 2; the
    // hook runs a full append (which skip-forwards past the corpse to
    // gen 3) and then simulates vacuum freeing the corpse's number
    val st = TxLog.compact(spark, zone, targetBytes = 128L << 20,
      prePublishHook = () => {
        val s = TxLog.append(spark, zone, spark.range(20L, 30L).toDF("id"))
        assert(s.gen === 3L, s"append should skip the corpse to gen 3, got ${s.gen}")
        assert(corpse.delete(), "simulated vacuum could not free the corpse")
      })
    assert(!st.rewritten, "the forked compact publish must abort, not win")
    val head = TxLog.latest(spark, zone).get
    assert(head.gen === 3L && head.baseGen === 1L)
    assert(ids(zone) === (0L until 30L).toSet, "the append's rows were lost to the fork")
    val g2 = new java.io.File(new java.io.File(zone, "_txlog"), "gen-" + "%020d".format(2L))
    assert(!g2.exists(), "the yielding fork arm must remove its own manifest")
  }

  test("fork-rival predicate: forks flagged, successors and ancestors never") {
    // The claim guard resolves staged end-to-end races before the post-
    // close fork check can fire, so the check's predicate is pinned
    // directly (an inverted comparison here would ship green otherwise).
    def snap(gen: Long, base: Long) =
      TxLog.Snapshot(gen, "parquet", Nil, base = base)
    // we published with base = 1
    assert(TxLog.isForkRival(snap(gen = 2L, base = 1L), ourBase = 1L),
      "a same-base rival at another number IS a fork arm")
    assert(TxLog.isForkRival(snap(gen = 5L, base = 0L), ourBase = 1L),
      "a rival rebased on an ANCESTOR of our base is also a fork arm")
    assert(!TxLog.isForkRival(snap(gen = 4L, base = 3L), ourBase = 1L),
      "a successor built on our generation is not a rival")
    assert(!TxLog.isForkRival(snap(gen = 1L, base = 0L), ourBase = 1L),
      "our own base is not a rival")
    assert(!TxLog.isForkRival(snap(gen = 0L, base = -1L), ourBase = 1L),
      "ancestors below our base are not rivals")
    // legacy manifest without the base field: baseGen falls back to gen-1
    assert(TxLog.isForkRival(TxLog.Snapshot(2L, "parquet", Nil), ourBase = 1L),
      "a legacy gen-2 manifest reads as base 1 — a same-base rival")
  }

  test("vacuum retention counts complete manifests only — a torn newest cannot evict the head") {
    val zone = freshZone()
    spark.range(50L).toDF("id").write.parquet(zone)
    TxLog.init(spark, zone)
    TxLog.append(spark, zone, spark.range(50L, 100L).toDF("id"))
    val torn = writeTorn(zone, 2L)
    // backdate past the torn-GC floor: torn manifests get the PUBLISH
    // grace window even when the caller passes a smaller graceMs — a
    // torn-looking file inside that window may be a publish whose body
    // is still streaming, and vacuuming its manifest would lose it
    assert(torn.setLastModified(System.currentTimeMillis() - 16L * 60L * 1000L))
    // keepGens=1 with a torn gen-2: the ONE kept snapshot must be the
    // newest COMPLETE generation (gen-1), not the corpse — otherwise
    // every live data file looks unreferenced and is deleted
    TxLog.vacuum(spark, zone, keepGens = 1, graceMs = 0L)
    assert(ids(zone) === (0L until 100L).toSet,
      "vacuum deleted the newest complete generation's data files")
    assert(!torn.exists(), "an expired torn manifest should be GC'd")
    assert(TxLog.latest(spark, zone).exists(_.gen === 1L))
    // a torn manifest INSIDE the floor survives even an aggressive
    // graceMs=0 vacuum (it may be an in-flight publish)
    val torn2 = writeTorn(zone, 2L)
    assert(torn2.setLastModified(System.currentTimeMillis() - 10000L))
    TxLog.vacuum(spark, zone, keepGens = 1, graceMs = 0L)
    assert(torn2.exists(), "vacuum must not GC a torn manifest inside the grace floor")
    // a zone whose every manifest is torn: liveness unknowable, data untouched
    val zone2 = freshZone()
    spark.range(10L).toDF("id").repartition(2).write.parquet(zone2 + "/d-seed")
    assert(writeTorn(zone2, 0L).setLastModified(System.currentTimeMillis() - 16L * 60L * 1000L))
    assert(TxLog.vacuum(spark, zone2, keepGens = 1, graceMs = 0L) === 0L,
      "vacuum with no complete manifest must not delete data files")
    assert(spark.read.parquet(zone2 + "/d-seed").count() === 10L)
  }

  test("two writers replaying the same batchId: exactly one commits (in-loop recheck)") {
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val zone = freshZone()
    spark.range(0L).toDF("id").write.parquet(zone)
    TxLog.init(spark, zone)
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      // both pass the fast pre-check (no mark yet), stage data, then race
      // the publish; the loser's rebase must see the winner's batchId mark
      // and abort instead of committing a duplicate
      val results = Await.result(Future.sequence((0 until 2).map { _ =>
        Future(TxLog.exactlyOnceAppend(spark, zone, spark.range(100L).toDF("id"), 7L))
      }), 60.seconds)
      assert(results.count(identity) === 1,
        s"exactly one replayed writer may commit, got $results")
    } finally pool.shutdown()
    assert(TxLog.read(spark, zone).count() === 100L, "replayed batch duplicated rows")
    // the loser's staged d-* dir was cleaned up: one data dir remains
    val dDirs = new java.io.File(zone).listFiles().filter(_.getName.startsWith("d-"))
    assert(dDirs.length === 1, s"aborted replay left its write dir: ${dDirs.mkString(",")}")
  }

  test("optimistic replace: a racing replacer aborts cleanly, no lost update, no stray files") {
    val zone = freshZone()
    spark.range(10L).toDF("id").write.parquet(zone)
    TxLog.init(spark, zone)
    // replacer A reads its snapshot (gen 0)...
    val baseA = TxLog.latest(spark, zone).get.gen
    // ...then rival B lands a replace first (last-writer-wins mode is fine
    // for B — its content does not derive from the zone)
    val sB = TxLog.replace(spark, zone, spark.range(100L, 110L).toDF("id"))
    assert(sB.gen === baseA + 1)
    // A's publish validates its read snapshot and must ABORT — committing
    // would overwrite B with content computed from the stale gen-0 read
    val e = intercept[TxLog.SnapshotMovedException] {
      TxLog.replace(spark, zone, spark.range(200L, 210L).toDF("id"),
        expectedBase = Some(baseA))
    }
    assert(e.expected === baseA && e.found === sB.gen)
    // B's commit is intact and A left nothing behind: every d-* dir on
    // disk is referenced by some manifest (A's staged dir was deleted)
    assert(ids(zone) === (100L until 110L).toSet, "rival's commit was lost")
    assert(TxLog.latest(spark, zone).get.gen === sB.gen, "head moved past B")
    val referenced = TxLog.latest(spark, zone).get.files
      .map(_.split("/")(0)).toSet
    val onDisk = new java.io.File(zone).listFiles()
      .filter(_.getName.startsWith("d-")).map(_.getName).toSet
    assert(onDisk.subsetOf(referenced),
      s"aborted replacer left stray data dirs: ${onDisk -- referenced}")
  }

  test("replaceCas: the retry hook recomputes from the NEW head and lands") {
    val zone = freshZone()
    spark.range(5L).toDF("id").write.parquet(zone)
    TxLog.init(spark, zone)
    val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
    var raced = false
    val s = TxLog.replaceCas(spark, zone, { head =>
      attempts.incrementAndGet()
      if (!raced) {
        // a rival replace slips in between this read and the publish —
        // exactly the lost-update window the validation closes
        raced = true
        TxLog.replace(spark, zone, spark.range(50L, 55L).toDF("id"))
      }
      // read-modify-write: shift every CURRENT id by 1000 (derives from
      // the snapshot `compute` was handed, so a stale read is visible)
      val cur = head.map(h => TxLog.readSnapshot(spark, zone, h))
        .getOrElse(spark.range(0L).toDF("id"))
      cur.select(($"id" + 1000L).as("id"))
    })
    // first attempt conflicted (computed from gen 0, rival landed gen 1);
    // second recomputed from the rival's rows and committed
    assert(attempts.get === 2, s"expected conflict+retry, got ${attempts.get} attempts")
    assert(ids(zone) === (1050L until 1055L).toSet,
      "the committed transform must derive from the RIVAL's rows, not the stale read")
    assert(s.base === 1L && s.gen === 2L)
  }

  test("vacuum drops only generations past retention; kept snapshots stay readable") {
    val zone = freshZone()
    spark.range(100L).toDF("id").repartition(8).write.parquet(zone)
    TxLog.init(spark, zone)
    val s1 = TxLog.append(spark, zone, spark.range(100L, 200L).toDF("id"))
    val s2 = TxLog.compact(spark, zone, targetBytes = 1L << 30)
    assert(s2.rewritten && s2.gen === 2L)
    // grace 0: this test's files are seconds old and must still qualify
    val removed = TxLog.vacuum(spark, zone, keepGens = 1, graceMs = 0L)
    assert(removed > 0L, "vacuum should remove the pre-compact generation's files")
    // head still fully readable after vacuum
    assert(ids(zone) === (0L until 200L).toSet)
    // s1's appended d-* files are gone (only gen-2's compacted dir remains)
    val liveRel = TxLog.latest(spark, zone).get.files.toSet
    assert(s1.files.exists(f => f.startsWith("d-") && !liveRel.contains(f)))
  }

  // ---- schema evolution ----------------------------------------------------

  test("schema evolution: an added column reads as null from pre-evolution files") {
    val zone = freshZone()
    spark.range(5L).toDF("id").write.parquet(zone)
    TxLog.init(spark, zone)
    // bootstrap: first append infers the pre-tracking zone's schema
    TxLog.append(spark, zone, spark.range(5L, 8L).toDF("id"))
    // evolution: new column lands; the log's schema grows
    TxLog.append(spark, zone,
      spark.range(8L, 10L).select($"id", concat(lit("t"), $"id").as("tag")))
    val df = TxLog.read(spark, zone)
    assert(df.columns.toSeq === Seq("id", "tag"))
    assert(df.count() === 10L)
    assert(df.filter($"tag".isNull).select($"id").as[Long].collect().toSet
      === (0L until 8L).toSet)
    assert(df.filter($"tag" === "t9").count() === 1L)
  }

  test("schema evolution: a write omitting a tracked column keeps the column") {
    val zone = freshZone()
    spark.range(3L).select($"id", lit("a").as("tag")).write.parquet(zone)
    TxLog.init(spark, zone)
    TxLog.append(spark, zone, spark.range(3L, 5L).toDF("id")) // no tag
    val df = TxLog.read(spark, zone)
    assert(df.columns.toSeq === Seq("id", "tag"))
    assert(df.filter($"tag".isNull).select($"id").as[Long].collect().toSet
      === Set(3L, 4L))
  }

  test("schema evolution: a type change is rejected; replace retypes") {
    val zone = freshZone()
    spark.range(3L).select($"id", $"id".cast("int").as("v")).write.parquet(zone)
    TxLog.init(spark, zone)
    TxLog.append(spark, zone,
      spark.range(3L, 4L).select($"id", $"id".cast("int").as("v")))
    val bad = spark.range(4L, 5L).select($"id", $"id".cast("string").as("v"))
    val e = intercept[IllegalArgumentException] {
      TxLog.append(spark, zone, bad)
    }
    assert(e.getMessage.contains("cannot change column 'v'"))
    // the documented retype path: replace rewrites every live file
    val s = TxLog.replace(spark, zone,
      TxLog.read(spark, zone).select($"id", $"v".cast("string").as("v")))
    assert(TxLog.zoneSchema(s).get("v").dataType
      === org.apache.spark.sql.types.StringType)
    assert(TxLog.read(spark, zone).count() === 4L)
    // and appends of the new type flow again
    TxLog.append(spark, zone,
      spark.range(4L, 5L).select($"id", lit("s4").as("v")))
    assert(TxLog.read(spark, zone).count() === 5L)
  }

  test("schema evolution: compaction rewrites under the evolved schema and keeps it") {
    val zone = freshZone()
    spark.range(4L).toDF("id").repartition(4).write.parquet(zone)
    TxLog.init(spark, zone)
    TxLog.append(spark, zone,
      spark.range(4L, 6L).select($"id", lit(1.5).as("score")))
    val stats = TxLog.compact(spark, zone, targetBytes = 1L << 30)
    assert(stats.rewritten)
    val df = TxLog.read(spark, zone)
    assert(df.columns.toSeq === Seq("id", "score"))
    assert(df.filter($"score".isNull).count() === 4L)
    assert(TxLog.zoneSchema(TxLog.latest(spark, zone).get).isDefined)
  }
}
