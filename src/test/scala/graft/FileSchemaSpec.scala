package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** `Tables.load` plans a parquet read without a Spark job and with the
  * frame `spark.read.parquet` gives: the same schema for every testdata
  * table (events under `nanosAsLong`), the same file picked among
  * summary, marker and checksum files, partition columns kept, and the
  * same errors for a missing path or an empty directory. */
class FileSchemaSpec extends SparkSpec {
  import spark.implicits._

  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "documents", "embeddings", "events")

  private def fresh(tag: String): Path = Files.createTempDirectory(s"graft_fileschema_$tag")

  /** The single part file `df` writes, as a standalone parquet file. */
  private def partFile(df: DataFrame, tag: String): Path = {
    val dir = fresh(tag).resolve("t")
    df.coalesce(1).write.parquet(dir.toString)
    Files.list(dir).iterator().asScala.find(_.getFileName.toString.startsWith("part-")).get
  }

  /** Asserts `Tables.load` gives `spark.read.parquet`'s schema at
    * `path`; returns the Spark jobs that planning `Tables.load` ran (0
    * when the schema came from a footer on the driver). */
  private def sameAsSpark(path: String): Int = {
    var df: DataFrame = null
    val jobs = jobsDuring { df = Tables.load(spark, path) }
    assert(df.schema === spark.read.parquet(path).schema, path)
    jobs
  }

  /** The number of Spark jobs started while `body` runs on this thread: `body`'s
    * jobs carry a job group of their own, and a sentinel job under
    * another group marks where its listener events end. */
  private def jobsDuring(body: => Unit): Int = {
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull)
    }
    val group = s"fileschema-${System.nanoTime()}"
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, "resolve")
      try body finally spark.sparkContext.clearJobGroup()
      spark.sparkContext.setJobGroup(group + "-end", "sentinel")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.clearJobGroup()
      val deadline = System.currentTimeMillis() + 30000
      while (!seen.contains(group + "-end") && System.currentTimeMillis() < deadline)
        Thread.sleep(10)
      assert(seen.contains(group + "-end"), "the sentinel job never reached the listener")
      seen.asScala.count(_ == group)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("every testdata table resolves to the schema spark.read.parquet infers") {
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    for (t <- tables) assert(sameAsSpark(s"$sf0001/$t.parquet") === 0, t)
    // the events normalization sees the same raw type either way
    assert(Tables.events(spark, sf0001).schema("ts").dataType.typeName === "timestamp")
  }

  test("resolving the tables runs no Spark job; spark.read.parquet runs one per table") {
    assert(jobsDuring {
      tables.foreach(t => Tables.table(spark, sf0001, t).schema)
      Tables.events(spark, sf0001).schema
    } === 0)
    assert(jobsDuring(spark.read.parquet(s"$sf0001/region.parquet").schema) >= 1)
  }

  test("a written dir (_SUCCESS, .crc) reads the first part file, as Spark does") {
    val dir = fresh("written").resolve("t")
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").repartition(2).write.parquet(dir.toString)
    val names = Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSet
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")), names)
    // a later part file with another schema: only the first by path counts
    Files.copy(partFile(Seq((1, 2.0)).toDF("x", "y"), "later"), dir.resolve("part-99999.parquet"))
    assert(sameAsSpark(dir.toString) === 0)
    assert(Tables.load(spark, dir.toString).columns.toSeq === Seq("id", "v"))
  }

  test("_common_metadata, then _metadata, outrank the part files, as in Spark") {
    val dir = fresh("summary").resolve("t")
    Seq((1L, "a")).toDF("id", "v").write.parquet(dir.toString)
    Files.copy(partFile(Seq((1, 2.0)).toDF("m", "n"), "meta"), dir.resolve("_metadata"))
    assert(sameAsSpark(dir.toString) === 0)
    assert(Tables.load(spark, dir.toString).columns.toSeq === Seq("m", "n"))
    Files.copy(partFile(Seq(("c", true)).toDF("cm", "flag"), "common"),
      dir.resolve("_common_metadata"))
    assert(sameAsSpark(dir.toString) === 0)
    assert(Tables.load(spark, dir.toString).columns.toSeq === Seq("cm", "flag"))
  }

  test("an hour= partitioned dir keeps its partition columns and column order") {
    val dir = fresh("hours").resolve("t").toString
    spark.range(0L, 40L).select($"id", ($"id" % 4).as("hour"), ($"id" * 2).as("v"))
      .write.partitionBy("hour").parquet(dir)
    // Spark's own inference: the file index descends into the hour dirs
    assert(sameAsSpark(dir) >= 1)
    val df = Tables.load(spark, dir)
    assert(df.columns.toSeq === Seq("id", "v", "hour"))
    assert(df.filter($"hour" === 3).orderBy("id").as[(Long, Long, Int)].collect().toSeq ===
      (3L until 40L by 4L).map(i => (i, i * 2, 3)))
    // a subdir that is no partition: Spark infers from the top level
    // only, so a summary file below it does not count
    val nested = fresh("nested").resolve("t")
    Seq((1L, "a")).toDF("id", "v").write.parquet(nested.toString)
    Files.createDirectories(nested.resolve("sub"))
    Files.copy(partFile(Seq((1, 2.0)).toDF("m", "n"), "nestedmeta"),
      nested.resolve("sub").resolve("_common_metadata"))
    sameAsSpark(nested.toString)
    assert(Tables.load(spark, nested.toString).columns.toSeq === Seq("id", "v"))
  }

  test("mergeSchema on merges every file, as Spark does") {
    val dir = fresh("merge").resolve("t")
    Seq((1L, "a")).toDF("id", "v").write.parquet(dir.toString)
    Files.copy(partFile(Seq((2L, 3.0)).toDF("id", "w"), "merged"), dir.resolve("part-99999.parquet"))
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try {
      assert(sameAsSpark(dir.toString) >= 1)
      assert(Tables.load(spark, dir.toString).columns.toSeq === Seq("id", "v", "w"))
    } finally spark.conf.unset("spark.sql.parquet.mergeSchema")
  }

  test("a missing path and an empty dir fail exactly as spark.read.parquet does") {
    val empty = fresh("empty")
    val missing = empty.resolve("absent.parquet")
    for (p <- Seq(missing.toString, empty.toString)) {
      val want = intercept[Exception](spark.read.parquet(p))
      val got = intercept[Exception](Tables.load(spark, p))
      assert(got.getClass === want.getClass, p)
      assert(got.getMessage === want.getMessage, p)
    }
  }

  test("a table read returns the rows spark.read.parquet returns") {
    val path = s"$sf0001/lineitem.parquet"
    val cols = spark.read.parquet(path).columns.map(col).toSeq
    assert(Tables.load(spark, path).orderBy(cols: _*).collect().toSeq ===
      spark.read.parquet(path).orderBy(cols: _*).collect().toSeq)
    // a single parquet file copied under a fresh dir reads the same
    val dir = fresh("copy")
    Files.copy(Paths.get(path), dir.resolve("lineitem.parquet"), StandardCopyOption.REPLACE_EXISTING)
    assert(sameAsSpark(dir.toString) === 0)
  }
}
