package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.TxLog

/** Zones written before the single-column stats were retired carry
  * `s <file>=<min>,<max>` lines and an `m stats.col=<col>` meta key in
  * their manifests. Both are still valid v1 manifest content: a reader
  * must resolve such a zone to the same files and rows, ignore the
  * retired stats (their files are read unpruned), and accept new commits
  * on top — none of which writes the retired lines again. */
class TxLogLegacyStatsSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("payload", StringType)))

  private def rows(lo: Long, hi: Long) =
    spark.range(lo, hi).select($"id", concat(lit("p"), $"id").as("payload"))

  /** Write `lo until hi` as one parquet file under `zone/dir`; returns
    * its zone-relative path and (bytes, mtime). */
  private def dataFile(zone: String, dir: String, lo: Long, hi: Long)
      : (String, (Long, Long)) = {
    rows(lo, hi).coalesce(1).write.parquet(s"$zone/$dir")
    val f = new java.io.File(s"$zone/$dir").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    (s"$dir/${f.getName}", (f.length(), f.lastModified()))
  }

  /** One manifest in the earlier writer's exact layout: header, kv
    * lines, sorted meta, then the s/t/b/f per-file families. */
  private def manifest(zone: String, gen: Long, kv: Seq[String],
                       meta: Map[String, String], perFile: Seq[String]): Unit = {
    val body = (Seq("graft-txlog v1", "protocol=1", s"gen=$gen") ++ kv ++
      meta.toSeq.sorted.map { case (k, v) => s"m $k=$v" } ++ perFile :+ "end")
      .mkString("", "\n", "\n")
    Files.createDirectories(Paths.get(s"$zone/_txlog"))
    Files.write(Paths.get(f"$zone/_txlog/gen-$gen%020d"), body.getBytes(UTF_8))
  }

  private def manifestLines(zone: String): Map[String, Seq[String]] =
    new java.io.File(s"$zone/_txlog").listFiles().toSeq
      .filter(f => f.getName.startsWith("gen-") || f.getName.startsWith("chk-"))
      .map(f => f.getName ->
        new String(Files.readAllBytes(f.toPath), UTF_8).split("\n").toSeq)
      .toMap

  private def retired(lines: Seq[String]): Boolean =
    lines.exists(l => l.startsWith("s ") || l.startsWith("m stats.col="))

  test("a zone with retired single-column stats reads the same and accepts new commits") {
    val zone = Files.createTempDirectory("graft_txlog_legacy").toString + "/zone"
    val (a, aInfo) = dataFile(zone, "d-aaaaaaaa", 0L, 100L)
    val (b, bInfo) = dataFile(zone, "d-bbbbbbbb", 100L, 200L)
    val (c, cInfo) = dataFile(zone, "d-cccccccc", 200L, 300L)
    def sizeLine(f: String, info: (Long, Long)) = s"b $f=${info._1},${info._2}"
    // gen 0: a full manifest with only the retired stats
    manifest(zone, 0L, Seq("base=-1", "format=parquet", "count=2"),
      Map("op" -> "append", "schema" -> schema.json, "stats.col" -> "id"),
      Seq(s"s $a=0.0,99.0", s"s $b=100.0,199.0",
        sizeLine(a, aInfo), sizeLine(b, bInfo), s"f $a", s"f $b"))
    // gen 1: a delta commit carrying both stat families for its file
    manifest(zone, 1L,
      Seq("base=0", "kind=delta", "format=parquet", "addcount=1", "rmcount=0"),
      Map("op" -> "append", "schema" -> schema.json, "stats.col" -> "id",
        "stats.cols" -> "id"),
      Seq(s"s $c=200.0,299.0", s"t $c|id=num,100,0,v200.0,v299.0",
        sizeLine(c, cInfo), s"f $c"))

    // same files and rows; the retired stats are not surfaced anywhere
    val head = TxLog.latest(spark, zone).get
    assert(head.gen === 1L && head.files === Seq(a, b, c).sorted)
    assert(!head.meta.contains("stats.col"), head.meta)
    assert(head.colStats.keySet === Set(c))
    assert(TxLog.read(spark, zone).as[(Long, String)].collect().toSet ===
      rows(0L, 300L).as[(Long, String)].collect().toSet)
    assert(TxLog.snapshotAt(spark, zone, 0L).get.files === Seq(a, b).sorted)
    // files with only retired stats are never skipped; typed ones prune
    assert(TxLog.prunedFilesFor(head, "id", 0L, 50L) === Seq(a, b).sorted)
    assert(TxLog.readWhereCol(spark, zone, "id", 0L, 50L).count() === 51L)

    // new commits on top: append, merge, compact
    TxLog.append(spark, zone, rows(300L, 400L))
    val merged = TxLog.merge(spark, zone,
      Seq((10L, "u10"), (250L, "u250"), (5000L, "u5000")).toDF("id", "payload"), "id")
    assert(merged.updatedRows === 2L && merged.insertedRows === 1L)
    assert(TxLog.compact(spark, zone, targetBytes = 1L << 30).rewritten)

    val want = rows(0L, 400L).as[(Long, String)].collect().toMap ++
      Map(10L -> "u10", 250L -> "u250", 5000L -> "u5000")
    assert(TxLog.read(spark, zone).as[(Long, String)].collect().toMap === want)
    val after = TxLog.latest(spark, zone).get
    assert(after.files.forall(after.colStats.contains),
      "the compacted files must carry typed stats for the inherited stats.cols")

    // only the hand-written generations carry the retired lines
    val written = manifestLines(zone)
    assert(written.keySet.count(_.startsWith("gen-")) === 5)
    written.foreach { case (name, lines) =>
      val handWritten = name == f"gen-${0L}%020d" || name == f"gen-${1L}%020d"
      assert(retired(lines) === handWritten, s"$name: ${lines.mkString(" | ")}")
    }
  }
}
