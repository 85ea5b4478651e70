package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.operators.TxLog

/** Merge-on-read CDC commits: a streaming merge writes the batch's rows
  * and one key file, and every reader applies the pending key deletes —
  * checked against copy-on-write and an in-memory last-writer-wins model
  * over seeded random batches, plus the format, compat and stats-only
  * contracts that change with them. Zones hold at most ~1,500 rows. */
class TxLogMergeOnReadSpec extends SparkSpec {
  import spark.implicits._

  private def freshZone(tag: String): String =
    Files.createTempDirectory(s"graft_mor_$tag").toString + "/zone"

  private def rows(df: DataFrame): Set[(Long, String)] =
    df.select(col("id"), col("v")).as[(Long, String)].collect().toSet

  private def model(m: Map[Long, String]): Set[(Long, String)] = m.toSet

  /** Seed zone: `n` keys over 4 range files, stats on id. */
  private def seed(zone: String, n: Int): Map[Long, String] = {
    TxLog.replace(spark, zone,
      (0L until n.toLong).map(i => (i, s"v0_$i")).toDF("id", "v")
        .repartitionByRange(4, col("id")),
      statsCols = Seq("id"))
    (0L until n.toLong).map(i => i -> s"v0_$i").toMap
  }

  /** One random change batch over keys [0, keySpace): unique keys, ~25 %
    * tombstones, the rest upserts (re-inserting deleted keys too). */
  private def batch(rnd: scala.util.Random, step: Int, keySpace: Int,
                    size: Int): Seq[(Long, String, String)] =
    rnd.shuffle((0L until keySpace.toLong).toVector).take(size).map { k =>
      if (rnd.nextInt(4) == 0) (k, null, "D") else (k, s"v${step}_$k", "U")
    }

  private def applyModel(m: Map[Long, String],
                         b: Seq[(Long, String, String)]): Map[Long, String] =
    b.foldLeft(m) { case (acc, (k, v, op)) => if (op == "D") acc - k else acc + (k -> v) }

  private def changes(b: Seq[(Long, String, String)]): DataFrame =
    b.toDF("id", "v", "op")

  private def protocolOf(zone: String, gen: Long): String =
    Files.readString(Paths.get(zone, "_txlog", f"gen-$gen%020d")).linesIterator
      .find(_.startsWith("protocol=")).get

  test("a streaming merge commits its rows and one key file; the zone is not rewritten") {
    val zone = freshZone("commit")
    var m = seed(zone, 400)
    val before = TxLog.latest(spark, zone).get
    val b = batch(new scala.util.Random(7), 1, 500, 120)
    assert(TxLog.changesExactlyOnce(spark, zone, changes(b), "id", "op", 0L))
    m = applyModel(m, b)
    val head = TxLog.latest(spark, zone).get
    assert(before.files.forall(head.files.contains), "no live file may be rewritten")
    // the batch's upserts land in new files (as many as its partitions)
    val added = head.files.filterNot(before.files.contains)
    assert(added.nonEmpty && added.forall(f => head.dataGen(f) === head.gen))
    assert(head.keys.size === 1 && head.keys.values.head.gen === head.gen)
    assert(head.keys.values.head.stat.rows === 120L)
    assert(head.meta("batchId") === "0" && head.meta(TxLog.MergeKeyMeta) === "id")
    assert(protocolOf(zone, head.gen) === "protocol=2")
    // the key file is sorted by key and holds upserts and tombstones alike
    val keyFile = zone + "/" + head.keys.keys.head
    val keys = spark.read.parquet(keyFile).as[Long].collect().toSeq
    assert(keys === b.map(_._1).sorted)
    assert(rows(TxLog.read(spark, zone)) === model(m))
    // replaying the batch is a no-op
    assert(!TxLog.changesExactlyOnce(spark, zone, changes(b), "id", "op", 0L))
  }

  test("property: merge-on-read == copy-on-write == LWW model over random batches") {
    val rnd = new scala.util.Random(20261019L)
    val mor = freshZone("prop_mor")
    val cow = freshZone("prop_cow")
    var m = seed(mor, 600)
    seed(cow, 600)
    val history = scala.collection.mutable.ArrayBuffer.empty[(Long, Map[Long, String])]
    var folded = false
    for (step <- 1 to 10) {
      val b = batch(rnd, step, 800, 40 + rnd.nextInt(120))
      val before = TxLog.latest(spark, mor).get
      assert(TxLog.changesExactlyOnce(spark, mor, changes(b), "id", "op", step * 10L))
      TxLog.foldChanges(spark, cow, changes(b), "id", "op")
      m = applyModel(m, b)
      val head = TxLog.latest(spark, mor).get
      if (before.keys.nonEmpty && head.keys.isEmpty) folded = true
      history += ((head.gen, m))
      assert(rows(TxLog.read(spark, mor)) === model(m), s"step $step: mor != model")
      assert(rows(TxLog.read(spark, cow)) === model(m), s"step $step: cow != model")
      if (step == 5) {
        // compact folds the pending deletes into ~3 range-clustered files
        val h = TxLog.latest(spark, mor).get
        assert(h.pendingDeletes)
        val bytes = h.files.map(h.sizes(_)._1).sum
        val c = TxLog.compact(spark, mor, targetBytes = math.max(1L, bytes / 3))
        val after = TxLog.latest(spark, mor).get
        assert(c.rewritten && after.keys.isEmpty && after.files.size > 1)
        history += ((c.gen, m))
      }
      if (step == 7) {
        // a rewrite racing a key-file commit: the delete read gen N, a
        // merge-on-read batch lands at N+1 before its publish
        val race = batch(rnd, 100, 800, 50)
        var fired = false
        TxLog.deleteWhereCol(spark, mor, "id", 100L, 199L, prePublishHook = () =>
          if (!fired) {
            fired = true
            TxLog.changesExactlyOnce(spark, mor, changes(race), "id", "op", step * 10L + 5L): Unit
          })
        TxLog.foldChanges(spark, cow, changes(race), "id", "op")
        TxLog.deleteWhereCol(spark, cow, "id", 100L, 199L)
        m = applyModel(m, race).filterNot { case (k, _) => k >= 100L && k <= 199L }
        assert(rows(TxLog.read(spark, mor)) === model(m), "racing rewrite lost a delete")
        history += ((TxLog.latest(spark, mor).get.gen, m))
      }
    }
    assert(folded, "10 batches over a 4-file layout must cross the fold threshold")
    // time travel across folds and compaction: every recorded generation
    // still reads as the model did then
    history.foreach { case (g, mg) =>
      val s = TxLog.snapshotAt(spark, mor, g).get
      assert(rows(TxLog.readSnapshot(spark, mor, s)) === model(mg), s"gen $g")
    }
    // a deleted key re-inserted later reads back once
    assert(TxLog.read(spark, mor).groupBy("id").count().filter(col("count") > 1).count() === 0L)
    // rename and drop of a column ride the column mapping; deletes stay applied
    TxLog.addColumns(spark, mor, Seq(org.apache.spark.sql.types.StructField("extra",
      org.apache.spark.sql.types.StringType)))
    val b = batch(rnd, 50, 800, 80)
    TxLog.changesExactlyOnce(spark, mor, changes(b).withColumn("extra", col("v")),
      "id", "op", 1000L)
    m = applyModel(m, b)
    TxLog.renameColumn(spark, mor, "v", "w")
    assert(TxLog.read(spark, mor).select(col("id"), col("w")).as[(Long, String)]
      .collect().toSet === model(m))
    TxLog.dropColumn(spark, mor, "extra")
    val b2 = batch(rnd, 51, 800, 80)
    TxLog.changesExactlyOnce(spark, mor, changes(b2).withColumnRenamed("v", "w"),
      "id", "op", 1001L)
    m = applyModel(m, b2)
    assert(TxLog.read(spark, mor).columns.toSeq === Seq("id", "w"))
    assert(TxLog.read(spark, mor).as[(Long, String)].collect().toSet === model(m))
    // the merge key is renamed with its pending deletes
    if (!TxLog.latest(spark, mor).get.pendingDeletes) {
      val b3 = batch(rnd, 52, 800, 60)
      TxLog.changesExactlyOnce(spark, mor, changes(b3).withColumnRenamed("v", "w"),
        "id", "op", 1002L)
      m = applyModel(m, b3)
    }
    assert(TxLog.latest(spark, mor).get.pendingDeletes)
    TxLog.renameColumn(spark, mor, "id", "pk")
    assert(TxLog.read(spark, mor).as[(Long, String)].collect().toSet === model(m))
    // ...and cannot be dropped while they wait
    val e = intercept[IllegalArgumentException](TxLog.dropColumn(spark, mor, "pk"))
    assert(e.getMessage.contains("TxLog.compact"))
  }

  test("every reader applies pending deletes: SQL, time travel, streaming source") {
    val zone = freshZone("readers")
    var m = seed(zone, 300)
    val rnd = new scala.util.Random(11L)
    for (i <- 0 until 2) {
      val b = batch(rnd, i + 1, 400, 90)
      TxLog.changesExactlyOnce(spark, zone, changes(b), "id", "op", i.toLong)
      m = applyModel(m, b)
    }
    val head = TxLog.latest(spark, zone).get
    assert(head.pendingDeletes)
    // DSv2 batch scan (the table behind the catalog), with and without
    // the key column in the projection, and with a pruning predicate
    val t = spark.read.format("txlog").option("zone", zone).load()
    assert(rows(t) === model(m))
    assert(t.select("v").count() === m.size.toLong)
    assert(t.filter(col("id") === 5L).select("v").as[String].collect().toSeq ===
      m.get(5L).toSeq)
    // the COUNT(*) pushdown must not answer from overcounting manifest rows
    assert(t.count() === m.size.toLong)
    // time travel through the table option
    val prev = spark.read.format("txlog").option("zone", zone)
      .option("gen", head.gen.toString).load()
    assert(rows(prev) === model(m))
    // the catalog
    val cat = Files.createTempDirectory("graft_mor_cat").toString
    spark.conf.set("spark.sql.catalog.mor", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.mor.warehouse", cat)
    Files.createDirectories(Paths.get(cat, "ns"))
    java.nio.file.Files.move(Paths.get(zone), Paths.get(cat, "ns", "t"))
    val sql = spark.sql("SELECT id, v FROM mor.ns.t")
    assert(rows(sql) === model(m))
    assert(spark.sql("SELECT count(*) FROM mor.ns.t").as[Long].head() === m.size.toLong)
    val moved = Paths.get(cat, "ns", "t").toString
    // the v1 streaming source's first batch is the masked snapshot
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val q = spark.readStream.format("txlog").option("zone", moved).load()
      .writeStream.foreachBatch { (df: DataFrame, _: Long) =>
        out ++= df.select(col("id"), col("v")).as[(Long, String)].collect(); () }
      .start()
    q.processAllAvailable(); q.stop()
    assert(out.toSet === model(m) && out.size === m.size)
    // ...and so is the catalog table's v2 micro-batch stream
    out.clear()
    val q2 = spark.readStream.table("mor.ns.t")
      .writeStream.foreachBatch { (df: DataFrame, _: Long) =>
        out ++= df.select(col("id"), col("v")).as[(Long, String)].collect(); () }
      .start()
    q2.processAllAvailable(); q2.stop()
    assert(out.toSet === model(m) && out.size === m.size)
    // ...and a later batch window holding a merge-on-read commit refuses
    val e = intercept[IllegalArgumentException] {
      TxLog.appendedBetween(spark, moved, head.gen - 1L)
    }
    assert(e.getMessage.contains("merge-on-read"))
  }

  test("stats-only answers under pending deletes: count, append-only diff, vacuum") {
    val zone = freshZone("stats")
    var m = seed(zone, 200)
    assert(TxLog.metadataCount(spark, zone).contains(200L))
    val g0 = TxLog.latest(spark, zone).get.gen
    val b = batch(new scala.util.Random(3L), 1, 250, 60)
    TxLog.changesExactlyOnce(spark, zone, changes(b), "id", "op", 0L)
    m = applyModel(m, b)
    // manifest rows overcount while deletes are pending
    assert(TxLog.metadataCount(spark, zone).isEmpty)
    intercept[IllegalArgumentException](TxLog.appendedFilesBetween(spark, zone, g0))
    // vacuum keeps the key file a retained generation needs
    TxLog.append(spark, zone, Seq((9000L, "x")).toDF("id", "v"))
    m += 9000L -> "x"
    val keyFile = TxLog.latest(spark, zone).get.keys.keys.head
    TxLog.vacuum(spark, zone, keepGens = 1, graceMs = 0L)
    assert(Files.exists(Paths.get(zone, keyFile)), "vacuum dropped a needed key file")
    assert(rows(TxLog.read(spark, zone)) === model(m))
    // after the fold no generation needs it any more
    TxLog.compact(spark, zone)
    assert(TxLog.metadataCount(spark, zone).contains(m.size.toLong))
    TxLog.vacuum(spark, zone, keepGens = 1, graceMs = 0L)
    assert(!Files.exists(Paths.get(zone, keyFile)))
    assert(rows(TxLog.read(spark, zone)) === model(m))
  }

  test("compat: a v1 zone reads unchanged and takes commits; a v1 reader refuses pending deletes") {
    val zone = freshZone("compat")
    var m = seed(zone, 200)
    TxLog.append(spark, zone, Seq((500L, "a")).toDF("id", "v"))
    m += 500L -> "a"
    TxLog.merge(spark, zone, Seq((1L, "m1")).toDF("id", "v"), "id")
    m += 1L -> "m1"
    val log = Paths.get(zone, "_txlog")
    def manifests = Files.list(log).iterator().asScala.toSeq
      .filter(_.getFileName.toString.startsWith("gen-")).sortBy(_.getFileName.toString)
    assert(manifests.forall(p => Files.readString(p).contains("\nprotocol=1\n")),
      "a zone that never took a merge-on-read commit keeps writing v1")
    assert(rows(TxLog.read(spark, zone)) === model(m))
    val f = new org.apache.hadoop.fs.Path(zone).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def asV1(p: java.nio.file.Path) =
      TxLog.readCommit(f, new org.apache.hadoop.fs.Path(p.toString), understands = 1L)
    assert(manifests.forall(p => asV1(p).isDefined))
    val b = batch(new scala.util.Random(5L), 1, 300, 50)
    TxLog.changesExactlyOnce(spark, zone, changes(b), "id", "op", 0L)
    m = applyModel(m, b)
    intercept[TxLog.UnsupportedProtocolException](asV1(manifests.last))
    // the fold's full manifest is v1 again
    TxLog.compact(spark, zone, targetBytes = 1L << 30)
    assert(asV1(manifests.last).isDefined)
    assert(rows(TxLog.read(spark, zone)) === model(m))
  }

  test("the fold clusters by key: a one-key read keeps one base file plus the deltas") {
    val zone = freshZone("prune")
    var m = seed(zone, 1200)
    val rnd = new scala.util.Random(9L)
    var step = 0
    // run until a fold has happened and one more batch is pending
    var sawFold = false
    while (!sawFold || TxLog.latest(spark, zone).get.keys.isEmpty) {
      step += 1
      val before = TxLog.latest(spark, zone).get
      val b = batch(rnd, step, 1200, 100)
      TxLog.changesExactlyOnce(spark, zone, changes(b), "id", "op", step.toLong)
      m = applyModel(m, b)
      if (before.keys.nonEmpty && TxLog.latest(spark, zone).get.keys.isEmpty) sawFold = true
      assert(step < 20)
    }
    val head = TxLog.latest(spark, zone).get
    val deltas = head.files.count(f => head.dataGen(f) >= head.keys.values.map(_.gen).min)
    val kept = TxLog.prunedFilesFor(head, "id", 600L, 600L)
    assert(kept.size === 1 + deltas, s"kept $kept of ${head.files}")
    assert(kept.size < head.files.size)
    assert(TxLog.readWhereCol(spark, zone, "id", 600L, 600L).select("v").as[String]
      .collect().toSeq === m.get(600L).toSeq)
  }

  test("a merge-on-read commit runs at most 4 Spark jobs") {
    val zone = freshZone("jobs")
    seed(zone, 400)
    val b = batch(new scala.util.Random(13L), 1, 500, 100)
    val df = changes(b).withColumn("seq", col("id")).persist()
    df.count()
    val sc = spark.sparkContext
    sc.setJobGroup("mor-commit", "merge-on-read commit")
    try TxLog.cdcChangesSink(zone, "id", "seq", "op")(df, 0L)
    finally sc.clearJobGroup()
    // the status store fills from the asynchronous listener bus: wait
    // until every job of the group has ended
    def jobIds = sc.statusTracker.getJobIdsForGroup("mor-commit")
    val until = System.currentTimeMillis() + 10000L
    while (System.currentTimeMillis() < until && (jobIds.isEmpty ||
        jobIds.exists(j => sc.statusTracker.getJobInfo(j)
          .forall(_.status == org.apache.spark.JobExecutionStatus.RUNNING))))
      Thread.sleep(50L)
    Thread.sleep(300L)
    val jobs = jobIds.length
    assert(TxLog.latest(spark, zone).get.keys.size === 1)
    assert(jobs <= 4, s"$jobs jobs")
  }

  test("a batch past the pending-key bound, or on a key outside the key-file codec, folds") {
    import org.apache.spark.sql.functions.{concat, lit, when}
    val big = freshZone("bound")
    seed(big, 400)
    val n = TxLog.MaxPendingKeys + 1L
    // every key upserts except the seed's first ten, which are deleted
    val wide = spark.range(0L, n).toDF("id")
      .withColumn("op", when(col("id") < 10L, lit("D")).otherwise(lit("U")))
      .withColumn("v", concat(lit("w_"), col("id").cast("string")))
    assert(TxLog.changesExactlyOnce(spark, big, wide, "id", "op", 0L))
    val head = TxLog.latest(spark, big).get
    assert(head.keys.isEmpty && !head.pendingDeletes)
    assert(TxLog.read(spark, big).count() === n - 10L)
    assert(TxLog.read(spark, big).filter(col("id") < 10L).count() === 0L)

    // a decimal key has no key-file codec: every batch folds
    val dec = freshZone("decimal")
    TxLog.replace(spark, dec, (0L until 50L).map(i => (i, s"v0_$i")).toDF("id", "v")
      .select(col("id").cast("decimal(12,0)").as("id"), col("v")), statsCols = Seq("id"))
    val b = batch(new scala.util.Random(17L), 1, 80, 30)
    assert(TxLog.changesExactlyOnce(spark, dec,
      changes(b).withColumn("id", col("id").cast("decimal(12,0)")), "id", "op", 0L))
    assert(TxLog.latest(spark, dec).get.keys.isEmpty)
    val m = applyModel((0L until 50L).map(i => i -> s"v0_$i").toMap, b)
    assert(rows(TxLog.read(spark, dec).withColumn("id", col("id").cast("long"))) === model(m))
  }
}
