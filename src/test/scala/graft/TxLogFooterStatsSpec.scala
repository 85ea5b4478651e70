package graft

import java.sql.Date

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.TxLog

/** Per-file stats from Parquet footers must be exactly what the
  * read-back aggregation commits: same rows, null counts and min/max
  * strings, so the rendered `t ` manifest lines are byte-identical.
  * Columns whose footer bounds could differ (NaN-bearing doubles,
  * session-zoned timestamps, bounds parquet-mr dropped) must leave the
  * footer path and still be committed through the aggregation. */
class TxLogFooterStatsSpec extends SparkSpec {
  import spark.implicits._

  private def conf = spark.sparkContext.hadoopConfiguration

  private def freshRoot(): Path = {
    val p = new Path(java.nio.file.Files.createTempDirectory("graft_footer").toString)
    p.getFileSystem(conf).makeQualified(p)
  }

  /** The data files under `dir`, zone-relative to `root`, with
    * (bytes, mtime) — the shape a committer's listing hands the stats. */
  private def listed(root: Path, dir: Path): Seq[(String, (Long, Long))] = {
    val it = dir.getFileSystem(conf).listFiles(dir, true)
    val rootPath = root.toUri.getPath.stripSuffix("/")
    val buf = Seq.newBuilder[(String, (Long, Long))]
    while (it.hasNext) {
      val st = it.next()
      val n = st.getPath.getName
      if (!n.startsWith("_") && !n.startsWith("."))
        buf += ((st.getPath.toUri.getPath.stripPrefix(rootPath).stripPrefix("/"),
          (st.getLen, st.getModificationTime)))
    }
    buf.result().sortBy(_._1)
  }

  /** Write `df` as one data dir and return (footer stats, aggregate
    * stats, listed files). */
  private def statsBothWays(df: DataFrame, typed: Seq[String],
                            colmap: Map[String, String] = Map.empty) = {
    val root = freshRoot()
    val dir = new Path(root, "d-test")
    df.write.parquet(dir.toString)
    val files = listed(root, dir)
    val foot = TxLog.footerFileStats(conf, root, files, df.schema, "parquet",
      typed, colmap)
    val agg = TxLog.aggregateFileStats(spark, root, files, "parquet",
      typed, colmap)
    (foot, agg, files)
  }

  private def assertIdentical(foot: Option[Map[String, Map[String, TxLog.ColStat]]],
                              agg: Map[String, Map[String, TxLog.ColStat]],
                              files: Seq[(String, (Long, Long))]): Unit = {
    assert(foot.isDefined, "expected the footer path to serve these columns")
    assert(foot.get === agg)
    val names = files.map(_._1)
    assert(TxLog.perFileLines(names, foot.get, Map.empty) ===
      TxLog.perFileLines(names, agg, Map.empty))
  }

  private val allTypes = StructType(Seq(
    StructField("b", ByteType), StructField("s", ShortType),
    StructField("i", IntegerType), StructField("l", LongType),
    StructField("str", StringType), StructField("d", DateType),
    StructField("allnull", StringType)))

  /** Every footer-served type, with nulls, extremes and non-ASCII
    * strings whose UTF-16 order differs from their UTF-8 byte order
    * (U+1F600 sorts above U+FFFD in bytes, below it in UTF-16). Slices
    * of `parallelize` are contiguous, so slice 2 (rows 8-11) is a file
    * where `str` is entirely null. */
  private def allTypesRows: Seq[Row] = Seq(
    Row(1.toByte, 1.toShort, 1, 1L, "a", Date.valueOf("2020-01-01"), null),
    Row(null, (-7).toShort, Int.MinValue, Long.MinValue, "é", null, null),
    Row(Byte.MaxValue, null, Int.MaxValue, Long.MaxValue, "\uFFFD", Date.valueOf("1999-12-31"), null),
    Row(Byte.MinValue, Short.MaxValue, null, 9007199254740993L, "😀", Date.valueOf("2038-01-19"), null),
    Row(0.toByte, 0.toShort, 0, null, "", Date.valueOf("1970-01-01"), null),
    Row(2.toByte, Short.MinValue, -1, -1L, null, Date.valueOf("9999-12-31"), null),
    Row(3.toByte, 3.toShort, 3, 3L, "日本語", Date.valueOf("1583-01-01"), null),
    Row(4.toByte, 4.toShort, 4, 4L, "zz", Date.valueOf("2000-02-29"), null),
    Row(5.toByte, 5.toShort, 5, 5L, null, Date.valueOf("2001-01-01"), null),
    Row(6.toByte, 6.toShort, 6, 6L, null, null, null),
    Row(7.toByte, 7.toShort, 7, 7L, null, Date.valueOf("2002-01-01"), null),
    Row(8.toByte, 8.toShort, 8, 8L, null, Date.valueOf("2003-01-01"), null))

  test("footer stats equal aggregate stats for every served type, with nulls") {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(allTypesRows, 3), allTypes)
    val (foot, agg, files) = statsBothWays(df, allTypes.fieldNames.toSeq)
    assert(files.size === 3)
    assertIdentical(foot, agg, files)
    // the entirely-null cases really occurred: the all-null column in
    // every file, and `str` in the third slice
    val typed = foot.get
    assert(typed.values.forall(m => m("allnull").min.isEmpty &&
      m("allnull").nulls === m("allnull").rows))
    assert(typed.values.count(m => m("str").min.isEmpty && m("str").rows === 4L) === 1)
    assert(typed.values.exists(_("str").max.contains("😀")),
      "strings must order by UTF-8 bytes, as Spark's min/max does")
  }

  test("zero-row files from empty write partitions get rows=0 and no bounds both ways") {
    // four slices over two rows: two write partitions are empty
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(allTypesRows.take(2), 4), allTypes)
    val (foot, agg, files) = statsBothWays(df, Seq("l", "str", "d"))
    assertIdentical(foot, agg, files)
    foot.get.values.filter(_.values.exists(_.rows == 0L)).foreach { m =>
      assert(m.values.forall(st => st.rows == 0L && st.nulls == 0L &&
        st.min.isEmpty && st.max.isEmpty))
    }
    // a wholly empty write leaves exactly one schema-only file
    val (foot0, agg0, files0) = statsBothWays(
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], allTypes),
      Seq("l", "str"))
    assert(files0.nonEmpty)
    assertIdentical(foot0, agg0, files0)
    assert(foot0.get.values.forall(_.values.forall(st => st.rows == 0L && st.min.isEmpty)))
  }

  test("a file with several row groups folds them to the aggregate's answer") {
    val df = spark.range(0L, 20000L, 1L, 2).select(
      ($"id" * 7919L % 100003L).as("l"),
      when($"id" % 5 === 0, lit(null)).otherwise(concat(lit("k"), ($"id" * 31L % 997L).cast("string"))).as("str"),
      date_add(lit(Date.valueOf("2000-01-01")), ($"id" % 3000L).cast("int")).as("d"))
    val root = freshRoot()
    val dir = new Path(root, "d-rg")
    df.write.option("parquet.block.size", "8192").parquet(dir.toString)
    val files = listed(root, dir)
    val groups = files.map { case (rel, _) =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new Path(root, rel), conf))
      try r.getFooter.getBlocks.size finally r.close()
    }
    assert(groups.exists(_ > 1), s"expected a multi-row-group file, got $groups")
    val foot = TxLog.footerFileStats(conf, root, files, df.schema, "parquet",
      Seq("l", "str", "d"))
    val agg = TxLog.aggregateFileStats(spark, root, files, "parquet",
      Seq("l", "str", "d"))
    assertIdentical(foot, agg, files)
  }

  test("a colmap-renamed stats column reads its physical footer column") {
    val phys = spark.range(0L, 50L, 1L, 6) // past 4 files: the parallel footer read
      .select($"id".as("col_0007"), concat(lit("p"), $"id").as("col_0008"))
    val cmap = Map("key" -> "col_0007", "name" -> "col_0008")
    val (foot, agg, files) = statsBothWays(phys, Seq("key", "name"), cmap)
    assertIdentical(foot, agg, files)
    assert(foot.get.values.forall(m => m.keySet === Set("key", "name")),
      "stats stay keyed by LOGICAL names")
    // end to end: a renamed stats column keeps committing footer stats
    val zone = freshRoot().toString + "/zone"
    TxLog.replace(spark, zone, spark.range(20L).select($"id", $"id".cast("string").as("v")),
      statsCols = Seq("id", "v"))
    val renamed = TxLog.renameColumn(spark, zone, "id", "key")
    TxLog.append(spark, zone, spark.range(20L, 40L).select($"id".as("key"), $"id".cast("string").as("v")))
    val head = TxLog.latest(spark, zone).get
    val added = head.files.filterNot(renamed.files.toSet)
    val root = new Path(zone).getFileSystem(conf).makeQualified(new Path(zone))
    val dir = new Path(root, added.head.takeWhile(_ != '/'))
    val aggAdded = TxLog.aggregateFileStats(spark, root, listed(root, dir), "parquet",
      Seq("key", "v"), Map("key" -> "id"))
    assert(added.map(f => f -> head.colStats(f)).toMap === aggAdded)
    assert(TxLog.readWhereCol(spark, zone, "key", 25L, 27L).count() === 3L)
  }

  test("fallback types leave the footer path and still commit the aggregate's stats") {
    val df = Seq(
      (1L, 1.5, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), BigDecimal("1.10"), true),
      (2L, Double.NaN, java.sql.Timestamp.valueOf("2024-06-01 00:00:00"), BigDecimal("2.00"), false),
      (3L, -0.0, null, null, true)
    ).toDF("id", "dbl", "ts", "dec", "flag").repartition(2)
    for (c <- Seq("dbl", "ts", "dec", "flag")) {
      val (foot, _, _) = statsBothWays(df, Seq("id", c))
      assert(foot.isEmpty, s"$c must take the aggregation")
    }
    // dates outside 1583-9999 (calendar rebase, non-ISO widths) too
    val old = Seq((1L, Date.valueOf("1200-03-01")), (2L, Date.valueOf("2020-01-01")))
      .toDF("id", "d").coalesce(1)
    val (footOld, aggOld, _) = statsBothWays(old, Seq("id", "d"))
    assert(footOld.isEmpty, "an out-of-range date must take the aggregation")
    assert(aggOld.values.head("d").max.contains("2020-01-01"))
    // committed through a zone: byte-identical to the aggregation
    val zone = freshRoot().toString + "/zone"
    TxLog.replace(spark, zone, df, statsCols = Seq("id", "dbl", "ts"))
    val head = TxLog.latest(spark, zone).get
    val root = new Path(zone).getFileSystem(conf).makeQualified(new Path(zone))
    val dir = new Path(root, head.files.head.takeWhile(_ != '/'))
    val agg = TxLog.aggregateFileStats(spark, root, listed(root, dir), "parquet",
      Seq("id", "dbl", "ts"))
    assert(head.colStats === agg)
    assert(head.colStats.values.exists(_("dbl").max.contains("NaN")))
  }

  test("a row group whose string bounds parquet-mr dropped falls back to the aggregation") {
    val big = "x" * 5000 // above parquet-mr's 4 KiB statistics limit
    val df = Seq((1L, big), (2L, "short")).toDF("id", "str").coalesce(1)
    val (foot, agg, _) = statsBothWays(df, Seq("id", "str"))
    assert(foot.isEmpty, "missing min/max must not read as an all-null column")
    assert(agg.values.head("str").max.contains(big))
  }
}
