package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.TxLog

/** A TxLog write is ONE Spark job whose tasks report their files, stats
  * and keys, and the commit takes exactly what they report: a file the
  * tasks did not write is never committed, task-side footer stats equal
  * the read-back aggregation, partition 0 writes a file even when empty,
  * a failing job leaves nothing behind, and a merge-on-read batch past
  * the pending-key bound folds without leaving its staged write. Data is
  * seeded; zones hold at most ~50k rows. */
class TxLogStageSpec extends SparkSpec {
  import spark.implicits._

  private def freshZone(tag: String): String =
    Files.createTempDirectory(s"graft_stage_$tag").toString + "/zone"

  private def conf = spark.sparkContext.hadoopConfiguration

  /** The zone's `d-` dirs on disk. */
  private def dataDirs(zone: String): Set[String] =
    Files.list(Paths.get(zone)).iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("d-")).toSet

  /** The `d-` dirs the head's files live in. */
  private def referencedDirs(zone: String): Set[String] =
    TxLog.latest(spark, zone).get.files.map(_.takeWhile(_ != '/')).filter(_.startsWith("d-")).toSet

  /** Seed a keyed zone of `n` rows over 4 range files, stats on id. */
  private def seed(zone: String, n: Long): Unit =
    TxLog.replace(spark, zone,
      spark.range(0L, n).select($"id", concat(lit("v0_"), $"id".cast("string")).as("v"))
        .repartitionByRange(4, $"id"),
      statsCols = Seq("id"))

  test("a file planted in the staged dir before the publish is never committed") {
    val zone = freshZone("stray")
    seed(zone, 400L)
    val rnd = new scala.util.Random(11L)
    val keys = rnd.shuffle((0L until 400L).toVector).take(60)
    val changes = keys.map(k => (k, s"v1_$k", if (k % 5 == 0) "D" else "U", 1L))
      .toDF("id", "v", "op", "seq")
    var planted: Option[String] = None
    // the hook runs after the batch is staged: copy one staged data file
    // under a new name, as a zombie attempt's file would land
    val hook = () => {
      val staged = dataDirs(zone) -- referencedDirs(zone)
      assert(staged.size === 1, s"one staged dir expected, saw $staged")
      val dir = Paths.get(zone, staged.head)
      val src = Files.list(dir).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      val stray = dir.resolve("part-99999-stray-c000.snappy.parquet")
      Files.copy(src, stray)
      planted = Some(staged.head + "/" + stray.getFileName)
    }
    TxLog.cdcChangesSink(zone, "id", "seq", "op", hook)(changes, 0L)
    val head = TxLog.latest(spark, zone).get
    assert(planted.nonEmpty)
    assert(!head.files.contains(planted.get), "the stray file must not be committed")
    assert(head.keys.size === 1, "the batch commits merge-on-read")
    val expected = (0L until 400L).filterNot(k => keys.contains(k) && k % 5 == 0).map { k =>
      k -> (if (keys.contains(k)) s"v1_$k" else s"v0_$k")
    }.toSet
    assert(TxLog.read(spark, zone).select("id", "v").as[(Long, String)].collect().toSet === expected)
  }

  test("task-side stats equal the aggregation: integral, string, date with nulls and empty partitions") {
    val rnd = new scala.util.Random(23L)
    def opt[A](a: => A): Any = if (rnd.nextInt(5) == 0) null else a
    val rows = (0 until 60).map { i =>
      Row(opt(rnd.nextInt(100).toByte), opt(rnd.nextInt(1000)), opt(rnd.nextLong()),
        opt("s" + rnd.nextInt(50)), opt(java.sql.Date.valueOf(java.time.LocalDate.of(1990, 1, 1)
          .plusDays(rnd.nextInt(12000).toLong))), opt(rnd.nextDouble()),
        opt(new java.sql.Timestamp(1600000000000L + rnd.nextInt(1000000) * 1000L)))
    }
    val schema = StructType(Seq(StructField("b", ByteType), StructField("i", IntegerType),
      StructField("l", LongType), StructField("s", StringType), StructField("d", DateType),
      StructField("dbl", DoubleType), StructField("ts", TimestampType)))
    // 8 partitions, 4 of them empty: an empty partition but 0 writes no file
    val slices = spark.sparkContext.parallelize(rows, 5).mapPartitionsWithIndex { (i, it) =>
      it.map(r => (i * 2, r))
    }.partitionBy(new org.apache.spark.HashPartitioner(8)).values
    val df = spark.createDataFrame(slices, schema)
    val nonEmpty = df.rdd.mapPartitions(it => Iterator(if (it.hasNext) 1 else 0)).sum().toInt
    assert(nonEmpty < 8 && nonEmpty > 1)
    for (cols <- Seq(Seq("b", "i", "l", "s", "d"), Seq("l", "dbl", "ts"))) {
      val zone = freshZone("stats")
      TxLog.replace(spark, zone, df, statsCols = cols)
      val head = TxLog.latest(spark, zone).get
      assert(head.files.size === nonEmpty)
      val root = new Path(zone).getFileSystem(conf).makeQualified(new Path(zone))
      val files = head.files.map(f => f -> head.sizes(f))
      assert(head.colStats === TxLog.aggregateFileStats(spark, root, files, "parquet", cols))
      assert(head.colStats.values.map(_.values.head.rows).sum === 60L)
    }
  }

  test("partition 0 writes a file when empty: an empty replace and an all-tombstone batch") {
    val empty = freshZone("empty")
    TxLog.replace(spark, empty, spark.range(0L).select($"id", $"id".cast("string").as("v")),
      statsCols = Seq("id"))
    val h0 = TxLog.latest(spark, empty).get
    assert(h0.files.size === 1)
    assert(h0.colStats(h0.files.head)("id") === TxLog.ColStat("num", 0L, 0L, None, None))
    assert(TxLog.read(spark, empty).schema.fieldNames.toSeq === Seq("id", "v"))

    val zone = freshZone("tomb")
    seed(zone, 200L)
    val before = TxLog.latest(spark, zone).get
    val tombs = (0L until 30L).map(k => (k, null: String, "D")).toDF("id", "v", "op").repartition(3)
    assert(TxLog.changesExactlyOnce(spark, zone, tombs, "id", "op", 0L))
    val head = TxLog.latest(spark, zone).get
    val added = head.files.filterNot(before.files.toSet)
    assert(added.size === 1, s"one empty data file expected, got $added")
    assert(head.colStats(added.head)("id").rows === 0L)
    assert(head.keys.values.map(_.stat.rows).sum === 30L)
    assert(TxLog.read(spark, zone).count() === 170L)
  }

  test("a throw inside the write job removes the staged dir and publishes nothing") {
    val zone = freshZone("throw")
    seed(zone, 100L)
    val before = TxLog.latest(spark, zone).get
    val dirs = dataDirs(zone)
    val boom = udf((id: Long) => { if (id == 1042L) throw new IllegalStateException("boom"); id })
    val bad = spark.range(1000L, 1100L, 1L, 4).select(boom($"id").as("id"),
      $"id".cast("string").as("v"))
    val e = intercept[Exception](TxLog.append(spark, zone, bad))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => Option(c.getMessage).exists(_.contains("boom"))))
    assert(TxLog.latest(spark, zone).get.gen === before.gen)
    assert(dataDirs(zone) === dirs, "the failed write's dir must be gone")
  }

  test("a 50,001-key batch folds and leaves no staged data dir behind") {
    val zone = freshZone("bound")
    seed(zone, 400L)
    val n = TxLog.MaxPendingKeys + 1L
    val wide = spark.range(0L, n, 1L, 4).select($"id", concat(lit("w_"), $"id".cast("string")).as("v"),
      when($"id" < 10L, lit("D")).otherwise(lit("U")).as("op"))
    val before = dataDirs(zone)
    assert(TxLog.changesExactlyOnce(spark, zone, wide, "id", "op", 0L))
    val head = TxLog.latest(spark, zone).get
    assert(head.keys.isEmpty && !head.pendingDeletes, "the batch must fold")
    // the seed's dir stays for time travel; the fold's is the only new one
    assert(dataDirs(zone) -- before === referencedDirs(zone) -- before,
      "a staged data dir was left behind")
    assert((referencedDirs(zone) -- before).size === 1)
    assert(TxLog.read(spark, zone).count() === n - 10L)
  }

  test("duplicate column names are refused before anything is written or published") {
    val zone = freshZone("dup")
    seed(zone, 50L)
    val before = TxLog.latest(spark, zone).get
    val dirs = dataDirs(zone)
    val twice = spark.range(50L, 60L).select($"id", $"id".cast("string").as("v"),
      $"id".cast("string").as("v"))
    val cased = spark.range(50L, 60L).select($"id", $"id".as("ID"))
    for (df <- Seq(twice, cased)) {
      intercept[Exception](TxLog.append(spark, zone, df))
      intercept[Exception](TxLog.replace(spark, zone, df, statsCols = Seq("id")))
    }
    assert(TxLog.latest(spark, zone).get.gen === before.gen)
    assert(dataDirs(zone) === dirs, "a refused write must leave no dir")
    assert(TxLog.read(spark, zone).count() === 50L)
  }

  test("folds of inserts past the top file's max keep every file within twice the mean") {
    val zone = freshZone("even")
    seed(zone, 400L)
    val rnd = new scala.util.Random(31L)
    var folds = 0
    for (b <- 0 until 12) {
      // fresh ids past the zone's max, as a CDC stream's inserts arrive,
      // and updates spread over the ids already there, so every fold
      // touches every file
      val top = 400L + b * 40L
      val upd = rnd.shuffle((0L until top).toVector).take(20)
        .map(k => (k, s"u${b}_$k", "U"))
      val ins = (top until top + 40L).map(k => (k, s"n_$k", "I"))
      assert(TxLog.changesExactlyOnce(spark, zone, (upd ++ ins).toDF("id", "v", "op").repartition(2),
        "id", "op", b.toLong))
      val head = TxLog.latest(spark, zone).get
      if (head.keys.isEmpty) {
        folds += 1
        val rows = head.files.map(f => head.colStats(f)("id").rows)
        assert(rows.max <= 2 * rows.sum / rows.size, s"fold $folds left files of $rows rows")
      }
    }
    assert(folds >= 2)
    assert(TxLog.read(spark, zone).count() === 400L + 12 * 40L)
  }

  test("the write runs under a SQL execution id and refuses maxRecordsPerFile") {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        seen.add(f): Unit
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val zone = freshZone("sqlid")
    try {
      TxLog.append(spark, zone, spark.range(10L).toDF("id"))
      val until = System.currentTimeMillis() + 10000L
      while (!seen.contains("txlog.stage") && System.currentTimeMillis() < until) Thread.sleep(20L)
      assert(seen.contains("txlog.stage"))
    } finally spark.listenerManager.unregister(listener)
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "5")
    try {
      val e = intercept[IllegalArgumentException](
        TxLog.append(spark, zone, spark.range(10L, 20L).toDF("id")))
      assert(e.getMessage.contains("maxRecordsPerFile"))
    } finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    assert(TxLog.read(spark, zone).count() === 10L)
  }
}
