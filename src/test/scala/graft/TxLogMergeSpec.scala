package graft

import org.apache.spark.sql.functions._
import graft.operators.TxLog

/** The keyed-MERGE contract: matched keys are replaced, new keys are
  * inserted, files whose key-range stats miss the updates are carried
  * into the new generation UNREWRITTEN (the write-amplification bound),
  * a rival commit landing mid-merge forces a recompute instead of a lost
  * update, schema evolves by the append rules, and the streaming form is
  * exactly-once under batch replay. */
class TxLogMergeSpec extends SparkSpec {
  import spark.implicits._

  private def freshZone(): String =
    java.nio.file.Files.createTempDirectory("graft_merge").toString + "/zone"

  private def rows(zone: String): Map[Long, String] =
    TxLog.read(spark, zone).select($"id", $"payload").as[(Long, String)]
      .collect().toMap

  /** A zone over ids [0, 400) range-clustered into 4 files with typed
    * id stats, so each file owns one clean 100-key band. */
  private def bandedZone(): String = {
    val zone = freshZone()
    TxLog.replace(spark, zone,
      spark.range(400L).select($"id", concat(lit("v"), $"id").as("payload"))
        .repartitionByRange(4, $"id"),
      statsCols = Seq("id"))
    zone
  }

  test("merge updates matched keys, inserts new ones, leaves the rest") {
    val zone = bandedZone()
    val updates = Seq(
      (10L, "u10"), (11L, "u11"),      // matched: replace
      (1000L, "n1000"), (1001L, "n1001") // new keys: insert
    ).toDF("id", "payload")
    val st = TxLog.merge(spark, zone, updates, "id")
    assert(st.updatedRows === 2L && st.insertedRows === 2L)
    val r = rows(zone)
    assert(r.size === 402)
    assert(r(10L) === "u10" && r(11L) === "u11")
    assert(r(1000L) === "n1000" && r(1001L) === "n1001")
    assert(r(9L) === "v9" && r(399L) === "v399")
  }

  test("merge rewrites ONLY the files whose key-range stats overlap the updates") {
    val zone = bandedZone()
    val before = TxLog.latest(spark, zone).get
    assert(before.files.size === 4)
    // updates confined to the [100, 199] band: exactly one file overlaps
    val updates = Seq((150L, "u150"), (160L, "u160")).toDF("id", "payload")
    val st = TxLog.merge(spark, zone, updates, "id")
    assert(st.filesTouched === 1L, s"expected 1 touched file, got $st")
    assert(st.filesTotal === 4L)
    val after = TxLog.latest(spark, zone).get
    val untouchedBefore = before.files.filter { f =>
      val s = before.colStats(f)("id")
      !(s.max.get.toDouble >= 150.0 && s.min.get.toDouble <= 160.0)
    }
    assert(untouchedBefore.size === 3)
    // the three non-overlapping files are carried over byte-identical —
    // same manifest entries, same committed stats
    untouchedBefore.foreach { f =>
      assert(after.files.contains(f), s"untouched file $f was rewritten")
      assert(after.colStats(f) === before.colStats(f))
    }
    assert(rows(zone)(150L) === "u150" && rows(zone)(149L) === "v149")
  }

  test("insert-only merge into a disjoint key range touches zero files") {
    val zone = bandedZone()
    val updates = Seq((5000L, "n5000"), (5001L, "n5001")).toDF("id", "payload")
    val st = TxLog.merge(spark, zone, updates, "id")
    assert(st.filesTouched === 0L && st.updatedRows === 0L && st.insertedRows === 2L)
    assert(rows(zone).size === 402)
  }

  test("merge without tracked key stats still upserts correctly (unpruned)") {
    val zone = freshZone()
    TxLog.replace(spark, zone,
      spark.range(50L).select($"id", concat(lit("v"), $"id").as("payload"))
        .repartition(3))
    val st = TxLog.merge(spark, zone,
      Seq((7L, "u7"), (99L, "n99")).toDF("id", "payload"), "id")
    assert(st.filesTouched === st.filesTotal, "statless zone must rewrite all files")
    val r = rows(zone)
    assert(r(7L) === "u7" && r(99L) === "n99" && r.size === 51)
  }

  test("merge rejects updates with duplicate keys") {
    val zone = bandedZone()
    val dup = Seq((1L, "a"), (1L, "b")).toDF("id", "payload")
    val e = intercept[IllegalArgumentException] {
      TxLog.merge(spark, zone, dup, "id")
    }
    assert(e.getMessage.contains("unique"))
  }

  test("a rival append landing mid-merge is never lost — merge recomputes") {
    val zone = bandedZone()
    var injected = false
    val st = TxLog.merge(spark, zone,
      Seq((10L, "u10")).toDF("id", "payload"), "id",
      prePublishHook = () => {
        if (!injected) {
          injected = true
          // rival commits AFTER the merge computed its survivors but
          // BEFORE its publish: the gen claim must fail and the merge
          // must recompute against the head that includes this row
          TxLog.append(spark, zone,
            Seq((2000L, "rival")).toDF("id", "payload"))
        }
      })
    assert(injected)
    val r = rows(zone)
    assert(r(10L) === "u10", "merge result lost")
    assert(r(2000L) === "rival", "rival append lost — lost-update anomaly")
    assert(st.gen === TxLog.latest(spark, zone).get.gen)
  }

  test("merge evolves schema by the append rules: new columns, nulls backfill") {
    val zone = bandedZone()
    val updates = Seq((10L, "u10", "extra10"), (1000L, "n1000", "extra1000"))
      .toDF("id", "payload", "note")
    TxLog.merge(spark, zone, updates, "id")
    val df = TxLog.read(spark, zone)
    assert(df.columns.toSeq === Seq("id", "payload", "note"))
    val got = df.select($"id", $"note").as[(Long, Option[String])].collect().toMap
    assert(got(10L) === Some("extra10") && got(1000L) === Some("extra1000"))
    assert(got(9L) === None, "pre-evolution rows must surface the new column as null")
  }

  test("key pruning still works after a merge (new files carry fresh stats)") {
    val zone = bandedZone()
    TxLog.merge(spark, zone, Seq((150L, "u150")).toDF("id", "payload"), "id")
    val head = TxLog.latest(spark, zone).get
    // a read confined to the untouched [300, 399] band must not scan the
    // merged file (whose stats cover [100, 199])
    val keep = TxLog.prunedFilesFor(head, "id", 300, 399).toSet
    assert(keep.size === 1, s"expected 1 file for the [300,399] band, got $keep")
    val got = TxLog.readWhereCol(spark, zone, "id", 300, 399)
      .select($"id").as[Long].collect().toSet
    assert(got === (300L until 400L).toSet)
  }

  test("mergeExactlyOnce: a replayed batch is a no-op; a new batch lands atomically") {
    val zone = bandedZone()
    val b1 = Seq((10L, "b1")).toDF("id", "payload")
    assert(TxLog.mergeExactlyOnce(spark, zone, b1, "id", batchId = 1L))
    val genAfter1 = TxLog.latest(spark, zone).get.gen
    // replay of batch 1 (restart re-running the last trigger): no-op
    assert(!TxLog.mergeExactlyOnce(spark, zone,
      Seq((10L, "b1-replay")).toDF("id", "payload"), "id", batchId = 1L))
    assert(TxLog.latest(spark, zone).get.gen === genAfter1)
    assert(rows(zone)(10L) === "b1")
    // batch 2 progresses the mark and the data in one commit
    assert(TxLog.mergeExactlyOnce(spark, zone,
      Seq((10L, "b2")).toDF("id", "payload"), "id", batchId = 2L))
    assert(rows(zone)(10L) === "b2")
    assert(TxLog.latest(spark, zone).get.meta("batchId") === "2")
  }

  test("two racing merges on disjoint key ranges both land — nothing lost") {
    val zone = bandedZone()
    val u1 = Seq((10L, "m1"), (1000L, "i1")).toDF("id", "payload")
    val u2 = Seq((350L, "m2"), (2000L, "i2")).toDF("id", "payload")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val f1 = Future(TxLog.merge(spark, zone, u1, "id"))
    val f2 = Future(TxLog.merge(spark, zone, u2, "id"))
    val (s1, s2) = (Await.result(f1, 120.seconds), Await.result(f2, 120.seconds))
    assert(Set(s1.gen, s2.gen).size === 2, "racing merges must claim distinct generations")
    val r = rows(zone)
    assert(r(10L) === "m1" && r(350L) === "m2", "an update was lost to the race")
    assert(r(1000L) === "i1" && r(2000L) === "i2", "an insert was lost to the race")
    assert(r.size === 402)
  }

  test("metadataCount: exact through replace + merge + delete, zero files read") {
    val zone = bandedZone()
    assert(TxLog.metadataCount(spark, zone) === Some(400L))
    TxLog.merge(spark, zone,
      Seq((10L, "u"), (1000L, "n")).toDF("id", "payload"), "id")
    assert(TxLog.metadataCount(spark, zone) === Some(401L))
    TxLog.deleteWhereCol(spark, zone, "id", 0, 49)
    assert(TxLog.metadataCount(spark, zone) === Some(351L))
    assert(TxLog.metadataCount(spark, zone).get ===
      TxLog.read(spark, zone).count())
    // a zone without tracked stats must refuse, not guess
    val bare = freshZone()
    TxLog.replace(spark, bare, spark.range(10L).toDF("id"))
    assert(TxLog.metadataCount(spark, bare).isEmpty)
  }

  test("merge property: a random merge sequence equals the Map-fold reference") {
    val rnd = new scala.util.Random(20260814L)
    val zone = freshZone()
    TxLog.replace(spark, zone,
      spark.range(40L).select($"id", concat(lit("v"), $"id").as("payload"))
        .repartitionByRange(4, $"id"),
      statsCols = Seq("id"))
    var ref: Map[Long, String] =
      (0L until 40L).map(i => i -> s"v$i").toMap
    for (round <- 1 to 6) {
      val n = 1 + rnd.nextInt(8)
      val batch = Seq.fill(n)((rnd.nextInt(60).toLong, s"r$round-${rnd.nextInt(1000)}"))
        .distinctBy(_._1) // merge requires key-unique updates
      val st = TxLog.merge(spark, zone, batch.toDF("id", "payload"), "id")
      val expectUpd = batch.count(b => ref.contains(b._1))
      assert(st.updatedRows === expectUpd.toLong, s"round $round updated")
      assert(st.insertedRows === (batch.size - expectUpd).toLong, s"round $round inserted")
      ref = ref ++ batch.toMap
      assert(rows(zone) === ref, s"round $round diverged from the reference fold")
      assert(TxLog.metadataCount(spark, zone) === Some(ref.size.toLong),
        s"round $round metadata count")
    }
  }

  test("a batch whose keys are ALL null fails loudly instead of dropping its rows") {
    val zone = bandedZone()
    val genBefore = TxLog.latest(spark, zone).get.gen
    val allNull = Seq((None: Option[Long], "a"), (None: Option[Long], "b"))
      .toDF("id", "payload")
    val e = intercept[IllegalArgumentException] {
      TxLog.mergeExactlyOnce(spark, zone, allNull, "id", batchId = 7L)
    }
    assert(e.getMessage.contains("'id'") && e.getMessage.contains("null in 2 of 2"),
      e.getMessage)
    val head = TxLog.latest(spark, zone).get
    assert(head.gen === genBefore && !head.meta.contains("batchId"),
      "a refused batch must not be reported as merged")
    assert(rows(zone).size === 400)
  }

  test("a batch with SOME null keys names the null count, not a uniqueness failure") {
    val zone = bandedZone()
    val someNull = Seq((Some(10L), "u10"), (None: Option[Long], "x"), (Some(1000L), "n"))
      .toDF("id", "payload")
    val e = intercept[IllegalArgumentException] {
      TxLog.merge(spark, zone, someNull, "id")
    }
    assert(e.getMessage.contains("'id'") && e.getMessage.contains("null in 1 of 3"),
      e.getMessage)
    assert(!e.getMessage.contains("unique"), e.getMessage)
    val changes = Seq((Some(10L), "u10", "U"), (None: Option[Long], "x", "D"))
      .toDF("id", "payload", "op")
    intercept[IllegalArgumentException] {
      TxLog.changesExactlyOnce(spark, zone, changes, "id", "op", batchId = 1L)
    }
    assert(rows(zone)(10L) === "v10")
  }

  test("updated/inserted counts stay exact over a zone holding duplicate keys") {
    val zone = freshZone()
    TxLog.replace(spark, zone,
      Seq((1L, "a"), (1L, "a2"), (2L, "b"), (3L, "c")).toDF("id", "payload"),
      statsCols = Seq("id"))
    val st = TxLog.merge(spark, zone,
      Seq((1L, "u1"), (3L, "u3"), (9L, "n9")).toDF("id", "payload"), "id")
    assert(st.updatedRows === 2L && st.insertedRows === 1L, st)
    assert(TxLog.read(spark, zone).count() === 4L, "both key-1 rows collapse to the update")
    assert(rows(zone) === Map(1L -> "u1", 2L -> "b", 3L -> "u3", 9L -> "n9"))
    val ch = TxLog.changesExactlyOnce(spark, zone,
      Seq((2L, "x", "D"), (3L, "u3b", "U"), (10L, "n10", "U")).toDF("id", "payload", "op"),
      "id", "op", batchId = 1L)
    assert(ch)
    assert(rows(zone) === Map(1L -> "u1", 3L -> "u3b", 9L -> "n9", 10L -> "n10"))
  }

  test("empty updates frame is a no-op merge") {
    val zone = bandedZone()
    val genBefore = TxLog.latest(spark, zone).get.gen
    val st = TxLog.merge(spark, zone,
      Seq.empty[(Long, String)].toDF("id", "payload"), "id")
    assert(st.updatedRows === 0L && st.insertedRows === 0L)
    assert(TxLog.latest(spark, zone).get.gen === genBefore)
    assert(rows(zone).size === 400)
  }

  test("changesExactlyOnce: D rows tombstone their key, U rows upsert, op column never lands, replay skips") {
    val zone = bandedZone()
    val changes = Seq(
      (10L, "u10", "U"),   // matched: replace
      (20L, "x", "D"),     // matched: delete
      (1000L, "n", "U"),   // new key: insert
      (2000L, "x", "D")    // delete of an absent key: no-op
    ).toDF("id", "payload", "op")
    assert(TxLog.changesExactlyOnce(spark, zone, changes, "id", "op", batchId = 1L))
    val r = rows(zone)
    assert(r.size === 400, s"400 - 1 delete + 1 insert, got ${r.size}")
    assert(r(10L) === "u10" && !r.contains(20L) && r(1000L) === "n")
    assert(!TxLog.read(spark, zone).columns.contains("op"),
      "the op marker must not land in the zone")
    // replayed batch: no-op
    val gen = TxLog.latest(spark, zone).get.gen
    assert(!TxLog.changesExactlyOnce(spark, zone, changes, "id", "op", batchId = 1L))
    assert(TxLog.latest(spark, zone).get.gen === gen)
    // the sink form reduces per key to the LAST event: an upsert then a
    // delete of the same key in one batch tombstones it
    TxLog.cdcChangesSink(zone, "id", "seq", "op")(Seq(
      (30L, 1L, "late", "U"), (30L, 2L, "x", "D"),
      (40L, 1L, "x", "D"), (40L, 2L, "new40", "U")
    ).toDF("id", "seq", "payload", "op"), 2L)
    val r2 = TxLog.read(spark, zone).select($"id", $"payload")
      .as[(Long, String)].collect().toMap
    assert(!r2.contains(30L), "final event D must tombstone")
    assert(r2(40L) === "new40", "final event U must upsert")
  }
}
