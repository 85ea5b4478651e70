package graft

import scala.sys.process._

import graft.operators.TxLog

/** Cross-process optimistic-concurrency evidence for the TxLog
  * (round-9 directive #3): the generation claim is create-exclusive on
  * the filesystem, which same-JVM specs prove only for racing THREADS.
  * A real deployment's rival writer is a separate Spark application —
  * so this spec spawns a SECOND JVM ([[TxLogRaceProbe]], same classpath,
  * its own SparkSession) appending to the same zone while this JVM
  * appends concurrently, then asserts total serialization: every commit
  * from both writers landed exactly once, the generation line is gapless
  * and fully resolvable, and the committed row stats stayed exact. */
class TxLogRaceSpec extends SparkSpec {
  import spark.implicits._

  // build.sbt's forked-JVM module opens, mirrored for the child (a bare
  // `java` launch of Spark on JDK17 needs them)
  private val addOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  test("two PROCESSES racing appends serialize: no lost generation, no torn head") {
    val perWriter = 12
    val zone = java.nio.file.Files
      .createTempDirectory("graft_race").toString + "/zone"
    // seed generation 0 so both writers append to an existing log; the
    // tracked stats column propagates to every append (zone's committed
    // choice), making assert #3's metadata count exact
    TxLog.replace(spark, zone, Seq(("seed", -1)).toDF("writer", "i"),
      statsCols = Seq("writer"))
    val seedGen = TxLog.latest(spark, zone).get.gen

    // child writer: a second JVM on this test's classpath (Test/fork is
    // on, so java.class.path is the real suite classpath)
    val javaBin = new java.io.File(new java.io.File(
      System.getProperty("java.home"), "bin"), "java").getAbsolutePath
    val cmd = Seq(javaBin) ++ addOpens ++ Seq(
      "-Xmx2g", "-Dspark.ui.enabled=false",
      "-Dspark.sql.session.timeZone=UTC",
      "-cp", System.getProperty("java.class.path"),
      "graft.TxLogRaceProbe", zone, "child", perWriter.toString)
    val childOut = new StringBuilder
    val child = Process(cmd).run(ProcessLogger(
      line => childOut.synchronized { childOut.append(line).append('\n') }: Unit,
      _ => ()))

    // parent writer: race on this JVM's session while the child runs
    for (i <- 0 until perWriter)
      TxLog.append(spark, zone, Seq(("parent", i)).toDF("writer", "i"))

    assert(child.exitValue() === 0,
      s"child writer JVM failed; output:\n$childOut")
    assert(childOut.toString.contains(s"race-probe done child $perWriter"),
      s"child did not report success:\n$childOut")

    // 1. every row from both writers landed exactly once
    val rows = TxLog.read(spark, zone).as[(String, Int)].collect().toSeq
    val expected = Seq(("seed", -1)) ++
      (0 until perWriter).map(("parent", _)) ++
      (0 until perWriter).map(("child", _))
    assert(rows.sorted === expected.sorted,
      "both writers' commits must land exactly once — no lost update")

    // 2. the generation line is gapless and every generation resolves
    //    (serialization evidence: each of the 2×perWriter appends claimed
    //    exactly the next number after the seed, none skipped or torn)
    val head = TxLog.latest(spark, zone).get
    assert(head.gen === seedGen + 2L * perWriter,
      s"head must be generation ${seedGen + 2 * perWriter}, got ${head.gen}")
    for (g <- 0L to head.gen)
      assert(TxLog.snapshotAt(spark, zone, g).isDefined,
        s"generation $g must resolve — a torn or lost commit broke the chain")

    // 3. committed per-file stats stayed exact under the race
    assert(TxLog.metadataCount(spark, zone) === Some(expected.size.toLong),
      "metadata row count must equal the true row count")
  }

  // ---- merge-on-read commit boundaries -----------------------------------

  private def rows(zone: String): Set[(Long, String)] =
    TxLog.read(spark, zone).select("id", "v").as[(Long, String)].collect().toSet

  test("a rewrite racing a key-file commit: the rewrite aborts and recomputes") {
    // the chosen rule: rewrites are optimistic (they publish only at the
    // generation after the one they read, so a key file landing in
    // between fails their claim), and their output carries the read
    // generation as its data generation
    val zone = java.nio.file.Files.createTempDirectory("graft_race_mor").toString + "/zone"
    TxLog.replace(spark, zone, (0L until 300L).map(i => (i, s"a$i")).toDF("id", "v")
      .repartitionByRange(3, $"id"), statsCols = Seq("id"))
    // one pending key file before the race
    TxLog.changesExactlyOnce(spark, zone,
      Seq((5L, "b5", "U"), (150L, null, "D")).toDF("id", "v", "op"), "id", "op", 0L)
    val readGen = TxLog.latest(spark, zone).get.gen
    var fired = 0
    TxLog.deleteWhereCol(spark, zone, "id", 100L, 199L, prePublishHook = () => {
      fired += 1
      if (fired == 1)
        TxLog.changesExactlyOnce(spark, zone, Seq((120L, "c120", "U"), (7L, null, "D"),
          (400L, "c400", "U")).toDF("id", "v", "op"), "id", "op", 1L): Unit
    })
    assert(fired === 2, "the first publish must lose to the key-file commit and retry")
    val head = TxLog.latest(spark, zone).get
    // the delete's replacement files carry the generation they were read at
    val keyGens = head.keys.values.map(_.gen).toSet
    assert(keyGens === Set(readGen, readGen + 1))
    val rewritten = head.files.filterNot(TxLog.snapshotAt(spark, zone, readGen + 1).get.files.contains)
    assert(rewritten.nonEmpty && rewritten.forall(head.dataGen(_) == readGen + 1),
      s"rewrite output must carry its read generation: ${head.dataGens}")
    val model = ((0L until 300L).map(i => i -> s"a$i").toMap + (5L -> "b5") - 150L +
      (120L -> "c120") - 7L + (400L -> "c400")).filterNot { case (k, _) => k >= 100L && k <= 199L }
    assert(rows(zone) === model.toSet)
  }

  /** A CDC stream into `zone` through cdcChangesSink whose pre-publish
    * hook throws once, on batch `failAt`; the query is restarted from its
    * checkpoint and must replay that batch exactly once. Returns the
    * staged directories the failed attempt left behind. */
  private def failAndReplay(zone: String, failAt: Long,
                            batches: Seq[Seq[(Long, String, Long, String)]]): Set[String] = {
    val src = java.nio.file.Files.createTempDirectory("graft_race_src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_race_ckpt").toString
    var armed = true
    var orphans = Set.empty[String]
    val hook = () => {
      val head = TxLog.latest(spark, zone).get
      if (armed && head.meta.get("batchId").map(_.toLong).getOrElse(-1L) == failAt - 1L) {
        armed = false
        val referenced = (head.files ++ head.keys.keys).map(_.takeWhile(_ != '/')).toSet
        orphans = new java.io.File(zone).listFiles().map(_.getName)
          .filter(n => (n.startsWith("d-") || n.startsWith("k-")) && !referenced(n)).toSet
        throw new IllegalStateException("injected failure before publish")
      }
    }
    def run(): Unit = {
      val q = spark.readStream.schema("id LONG, v STRING, seq LONG, op STRING").json(src)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch(TxLog.cdcChangesSink(zone, "id", "seq", "op", hook))
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    batches.zipWithIndex.foreach { case (b, i) =>
      b.toDF("id", "v", "seq", "op").coalesce(1).write.mode("append").json(src)
      if (i == failAt) intercept[Exception](run()) else run()
    }
    run() // the restart replays the failed batch
    assert(!armed, s"batch $failAt never reached its publish")
    orphans
  }

  private def checkReplay(zone: String, batches: Seq[Seq[(Long, String, Long, String)]],
                          base: Map[Long, String], orphans: Set[String]): Unit = {
    val model = batches.flatten.foldLeft(base) { case (m, (k, v, _, op)) =>
      if (op == "D") m - k else m + (k -> v) }
    assert(rows(zone) === model.toSet)
    val hist = TxLog.history(spark, zone).select("gen", "batch_id").as[(Long, Option[Long])]
      .collect()
    batches.indices.foreach { b =>
      assert(hist.count(_._2.contains(b.toLong)) === 1, s"batchId $b must mark exactly one commit")
    }
    assert(orphans.nonEmpty, "the failed attempt staged files")
    hist.foreach { case (g, _) =>
      val s = TxLog.snapshotAt(spark, zone, g).get
      assert(!(s.files ++ s.keys.keys).exists(f => orphans(f.takeWhile(_ != '/'))),
        s"gen $g references a staged orphan")
    }
  }

  private def seedZone(tag: String): (String, Map[Long, String]) = {
    val zone = java.nio.file.Files.createTempDirectory(s"graft_race_$tag").toString + "/zone"
    val base = (0L until 300L).map(i => i -> s"a$i").toMap
    TxLog.replace(spark, zone, base.toSeq.toDF("id", "v").withColumn("seq", org.apache.spark.sql.functions.lit(0L))
      .repartitionByRange(3, $"id"), statsCols = Seq("id"))
    (zone, base)
  }

  private val streamBatches = Seq(
    Seq((1L, "u1", 1L, "U"), (2L, null, 1L, "D"), (500L, "i500", 1L, "U")),
    Seq((2L, "back2", 2L, "U"), (3L, null, 2L, "D"), (1L, "u1b", 2L, "U")),
    Seq((500L, null, 3L, "D"), (4L, "u4", 3L, "U"), (250L, "u250", 3L, "U")))

  test("failpoint: a throw after the data and key files are staged, then replay") {
    val (zone, base) = seedZone("fp_mor")
    // batch 0 on a 3-file zone commits merge-on-read
    val orphans = failAndReplay(zone, 0L, streamBatches)
    checkReplay(zone, streamBatches, base, orphans)
  }

  test("failpoint: a throw mid-fold, then replay") {
    val (zone, base) = seedZone("fp_fold")
    // two pending key files on a 3-file zone: batch 2 folds
    val orphans = failAndReplay(zone, 2L, streamBatches)
    checkReplay(zone, streamBatches, base, orphans)
    assert(TxLog.latest(spark, zone).get.keys.isEmpty, "batch 2 must have folded")
  }

  test("failpoint: a throw in publish after the manifest is complete keeps its staged files") {
    spark.sparkContext.hadoopConfiguration.set("fs.graftfail.impl", classOf[ForkCheckFailFs].getName)
    val zone = "graftfail://" +
      java.nio.file.Files.createTempDirectory("graft_race_fork").toString + "/zone"
    TxLog.replace(spark, zone, spark.range(10L).toDF("id"))
    ForkCheckFailFs.armedAbove = TxLog.latest(spark, zone).get.gen
    val batch = spark.range(100L, 110L).toDF("id")
    // the fork check's listing is the first to see the complete manifest
    intercept[java.io.IOException](TxLog.exactlyOnceAppend(spark, zone, batch, 0L))
    assert(ForkCheckFailFs.armedAbove === -1L, "the failpoint never fired")
    val head = TxLog.latest(spark, zone).get
    assert(head.meta.get("batchId").contains("0"), "the append's generation is committed")
    val ids = TxLog.read(spark, zone).select("id").as[Long].collect().toSet
    assert(ids === (0L until 10L).toSet ++ (100L until 110L),
      "the committed generation must read the files it references")
    // the mark is committed, so the replay skips the batch
    assert(!TxLog.exactlyOnceAppend(spark, zone, batch, 0L))
    assert(TxLog.read(spark, zone).count() === 20L)
  }
}

/** A local filesystem under the `graftfail` scheme whose listing of a
  * `_txlog` dir throws once, when armed and a complete manifest numbered
  * above `armedAbove` has appeared: in one commit that listing is the
  * fork check of the publish that completed the manifest. */
class ForkCheckFailFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  import org.apache.hadoop.fs.{FileStatus, Path}
  override def getUri: java.net.URI = java.net.URI.create("graftfail:///")
  override def getScheme: String = "graftfail"
  // plain statuses: the local ones load their permissions through a
  // `file:` URI of their path
  private def plain(st: FileStatus) = new FileStatus(st.getLen, st.isDirectory,
    st.getReplication, st.getBlockSize, st.getModificationTime, st.getPath)
  override def getFileStatus(p: Path): FileStatus = plain(super.getFileStatus(p))
  override def listStatus(p: Path): Array[FileStatus] = {
    val out = super.listStatus(p).map(plain)
    val above = ForkCheckFailFs.armedAbove
    def complete(st: FileStatus): Boolean = {
      val n = st.getPath.getName
      n.startsWith("gen-") && n.stripPrefix("gen-").toLong > above && {
        val lines = java.nio.file.Files.readAllLines(pathToFile(st.getPath).toPath)
        !lines.isEmpty && lines.get(lines.size - 1) == "end"
      }
    }
    if (above >= 0L && p.getName == "_txlog" && out.exists(complete)) {
      ForkCheckFailFs.armedAbove = -1L
      throw new java.io.IOException("injected failure listing " + p)
    }
    out
  }
}

object ForkCheckFailFs {
  @volatile var armedAbove: Long = -1L
}
