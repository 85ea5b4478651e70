package graft

import org.apache.spark.sql.functions._
import graft.operators.TxLog

/** The targeted-DELETE and change-feed contracts: a range delete rewrites
  * only the files its stats overlap, deleted counts are exact, rivals are
  * never lost; `appendedBetween` serves exactly the rows committed in a
  * generation window, powers incremental aggregate maintenance, and
  * refuses to diff across a rewrite. */
class TxLogDeleteSpec extends SparkSpec {
  import spark.implicits._

  private def freshZone(): String =
    java.nio.file.Files.createTempDirectory("graft_del").toString + "/zone"

  private def ids(zone: String): Set[Long] =
    TxLog.read(spark, zone).select($"id").as[Long].collect().toSet

  private def bandedZone(): String = {
    val zone = freshZone()
    TxLog.replace(spark, zone,
      spark.range(400L).select($"id", concat(lit("p"), $"id").as("payload"))
        .repartitionByRange(4, $"id"),
      statsCols = Seq("id"))
    zone
  }

  test("range delete removes exactly the targeted rows, prunes untouched files") {
    val zone = bandedZone()
    val before = TxLog.latest(spark, zone).get
    val st = TxLog.deleteWhereCol(spark, zone, "id", 150, 249)
    assert(st.deletedRows === 100L)
    // the [150,249] range overlaps the [100,199] and [200,299] bands only
    assert(st.filesTouched === 2L && st.filesTotal === 4L)
    val after = TxLog.latest(spark, zone).get
    val untouched = before.files.filter { f =>
      val s = before.colStats(f)("id")
      !(s.max.get.toDouble >= 150.0 && s.min.get.toDouble <= 249.0)
    }
    assert(untouched.size === 2)
    untouched.foreach(f => assert(after.files.contains(f), s"$f was rewritten"))
    assert(ids(zone) === ((0L until 150L) ++ (250L until 400L)).toSet)
  }

  test("delete missing the whole zone touches nothing and commits nothing") {
    val zone = bandedZone()
    val genBefore = TxLog.latest(spark, zone).get.gen
    val st = TxLog.deleteWhereCol(spark, zone, "id", 5000, 6000)
    assert(st.filesTouched === 0L && st.deletedRows === 0L)
    assert(TxLog.latest(spark, zone).get.gen === genBefore)
  }

  test("a rival append landing mid-delete survives — delete recomputes") {
    val zone = bandedZone()
    var injected = false
    TxLog.deleteWhereCol(spark, zone, "id", 0, 99,
      prePublishHook = () => {
        if (!injected) {
          injected = true
          TxLog.append(spark, zone,
            Seq((9999L, "rival")).toDF("id", "payload"))
        }
      })
    assert(injected)
    assert(ids(zone).contains(9999L), "rival append lost")
    assert(ids(zone) === ((100L until 400L).toSet + 9999L))
  }

  test("a delete that loses every race gives up after 5 attempts, leaving rivals and no staged dir") {
    val zone = bandedZone()
    var fired = 0
    val e = intercept[IllegalStateException] {
      TxLog.deleteWhereCol(spark, zone, "id", 0, 99, prePublishHook = () => {
        fired += 1
        TxLog.append(spark, zone, Seq((10000L + fired, "rival")).toDF("id", "payload"))
      })
    }
    // a recomputing writer stages once per attempt, and the hook runs once per staging
    assert(fired === 5, s"expected 5 attempts, got $fired")
    assert(e.getMessage.contains("delete") && e.getMessage.contains(zone), e.getMessage)
    assert(ids(zone) === (0L until 400L).toSet ++ (10001L to 10005L),
      "the rivals must be intact and the delete must not apply")
    val referenced = TxLog.latest(spark, zone).get.files.map(_.split("/")(0)).toSet
    val staged = new java.io.File(zone).listFiles().map(_.getName)
      .filter(n => n.startsWith("d-") && !referenced(n))
    assert(staged.isEmpty, s"the failed delete left staged dirs: ${staged.mkString(",")}")
  }

  test("snapshotAt: explicit generation time travel within retention") {
    val zone = bandedZone()
    val g0 = TxLog.latest(spark, zone).get.gen
    TxLog.deleteWhereCol(spark, zone, "id", 0, 199)
    val pinned = TxLog.snapshotAt(spark, zone, g0).get
    assert(TxLog.readSnapshot(spark, zone, pinned).count() === 400L)
    assert(ids(zone).size === 200)
    assert(TxLog.snapshotAt(spark, zone, 999L).isEmpty)
  }

  test("appendedBetween: exactly the delta rows; incremental agg == full recompute") {
    val zone = freshZone()
    TxLog.replace(spark, zone, spark.range(100L).toDF("id"))
    val g1 = TxLog.latest(spark, zone).get.gen
    TxLog.append(spark, zone, spark.range(100L, 250L).toDF("id"))
    TxLog.append(spark, zone, spark.range(250L, 300L).toDF("id"))
    val delta = TxLog.appendedBetween(spark, zone, g1)
      .select($"id").as[Long].collect().toSet
    assert(delta === (100L until 300L).toSet)
    // incremental maintenance: old agg + delta agg == agg over the head
    val oldAgg = 100L // count at g1
    val incremental = oldAgg + delta.size
    assert(incremental === TxLog.read(spark, zone).count())
    // bounded window form
    val g2 = TxLog.latest(spark, zone).get.gen - 1
    val mid = TxLog.appendedBetween(spark, zone, g1, g2)
      .select($"id").as[Long].collect().toSet
    assert(mid === (100L until 250L).toSet)
  }

  test("appendedBetween refuses to diff across a rewrite (delete/compact)") {
    val zone = bandedZone()
    val g0 = TxLog.latest(spark, zone).get.gen
    TxLog.append(spark, zone, spark.range(400L, 450L)
      .select($"id", concat(lit("p"), $"id").as("payload")))
    TxLog.deleteWhereCol(spark, zone, "id", 0, 49)
    val e = intercept[IllegalArgumentException] {
      TxLog.appendedBetween(spark, zone, g0)
    }
    assert(e.getMessage.contains("not append-only"))
  }

  test("compactClustered restores sharp two-column pruning after scattering appends") {
    import graft.operators.TxLog.{prunedFilesFor, latest}
    val zone = freshZone()
    // 4 appends, each spanning the WHOLE (a, b) space: every file's
    // min/max covers everything -> range pruning degenerates
    TxLog.init(spark, zone)
    (0 until 4).foreach { i =>
      TxLog.append(spark, zone,
        spark.range(1000L).select(
          (($"id" * 7 + i) % 100).as("a"), (($"id" * 13 + i) % 100).as("b"),
          $"id".as("payload")),
        statsCols = Seq("a", "b"))
    }
    val before = latest(spark, zone).get
    val keepBefore = Seq(("a", 10, 19), ("b", 10, 19))
      .foldLeft(before.files) { case (fs0, (c, lo, hi)) =>
        val k = prunedFilesFor(before, c, lo, hi).toSet; fs0.filter(k)
      }
    assert(keepBefore.size === before.files.size,
      "scattered appends should defeat pruning (every file overlaps)")
    val rowsBefore = TxLog.read(spark, zone).count()

    val st = TxLog.compactClustered(spark, zone, Seq("a", "b"),
      bits = 7, targetBytes = 2L << 10)
    assert(st.rewritten && st.filesAfter >= 8,
      s"need enough files for pruning to show: $st")
    val after = latest(spark, zone).get
    val keepAfter = Seq(("a", 10, 19), ("b", 10, 19))
      .foldLeft(after.files) { case (fs0, (c, lo, hi)) =>
        val k = prunedFilesFor(after, c, lo, hi).toSet; fs0.filter(k)
      }
    assert(keepAfter.size < after.files.size / 2,
      s"z-clustering must restore pruning: ${keepAfter.size}/${after.files.size} files kept")
    // content is untouched by the rewrite
    assert(TxLog.read(spark, zone).count() === rowsBefore)
    assert(TxLog.readWhereCols(spark, zone,
        Seq(("a", 10, 19), ("b", 10, 19)))
      .count() ===
      TxLog.readSnapshot(spark, zone, before)
        .filter($"a".between(10, 19) && $"b".between(10, 19)).count())
  }

  test("appendedBetween with no new commits is empty") {
    val zone = bandedZone()
    val g = TxLog.latest(spark, zone).get.gen
    assert(TxLog.appendedBetween(spark, zone, g).count() === 0L)
  }
}
