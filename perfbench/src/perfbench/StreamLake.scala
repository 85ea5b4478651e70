package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Pipeline
import graft.operators.{AnnIndex, TxLog}

/** The composed streaming lake, run once per traced `cdc_lake` run after
  * its timed phases: generated documents with the synthetic embeddings
  * drained through `Pipeline.StreamingLakePlan` (quality gate and textual
  * dedup claims in RocksDB state in hop 1, the semantic gate against the
  * frozen ANN quantizer in hop 2, TxLog commits). A one-trigger reference
  * drain is followed by a drain of the same input fed as id-ordered
  * slices, one per trigger, and an idle re-drain; each drain starts from
  * empty lake and checkpoint directories. */
final class StreamLake(spark: SparkSession, work: String, seed: Long, trace: Trace) {
  private val Docs = 1000
  private val Slices = 2

  private val base = s"$work/slake"
  private def docsDir = s"$base/docs"
  private def embZone = s"$base/emb"
  private def indexDir = s"$base/annindex"

  private def setup(): Unit = {
    val rows = Gen.documentRows(new java.util.SplittableRandom(seed), Docs)
    val docs = spark.createDataFrame(java.util.Arrays.asList(rows: _*), Gen.documentSchema)
      .select(col("doc_id"), col("text"))
      .withColumn("ts", timestamp_seconds(col("doc_id")))
      .cache()
    // One parquet file per slice; mtimes strictly increase with the id
    // range, because the file source orders a trigger's files by mtime and
    // ties would let later ids arrive first and fall behind the watermark.
    val per = (Docs + Slices - 1) / Slices
    (0 until Slices).foreach { s =>
      val tmp = s"$base/tmp/slice$s"
      docs.filter(col("doc_id") >= s * per && col("doc_id") < (s + 1) * per)
        .coalesce(1).write.parquet(tmp)
      val part = new File(tmp).listFiles().find(f => f.getName.startsWith("part-")).get
      val dest = Paths.get(docsDir, f"slice-$s%03d.parquet")
      Files.createDirectories(dest.getParent)
      Files.move(part.toPath, dest, StandardCopyOption.ATOMIC_MOVE)
      dest.toFile.setLastModified(1700000000000L + s * 1000L)
    }
    // the synthetic embeddings the tracked bench entry uses
    TxLog.replace(spark, embZone, docs.select(col("doc_id"))
      .withColumn("embedding", transform(sequence(lit(0), lit(63)), d =>
        (pmod(xxhash64(col("doc_id") * 64 + d), lit(1000)).cast("double")
          / 1000.0 - 0.5).cast("float"))))
    AnnIndex.build(spark, indexDir, embZone, idCol = "doc_id")
    docs.unpersist()
  }

  private def stream(sliced: Boolean): DataFrame = {
    val r = spark.readStream.schema("doc_id BIGINT, text STRING, ts TIMESTAMP")
    (if (sliced) r.option("maxFilesPerTrigger", 1) else r).parquet(docsDir)
  }

  /** One drain from empty state: hop seconds, idle re-drain seconds, the
    * trigger progress of both hops, and the surviving doc ids. */
  private def drain(name: String, sliced: Boolean): Map[String, Any] = {
    val dir = s"$base/$name"
    val plan = Pipeline.plan(spark, Pipeline.StreamingLakeSpec(
      lakeDir = s"$dir/lake", checkpointDir = s"$dir/checkpoint", minQuality = 0.05,
      semantic = Some(Pipeline.StreamingSemanticSpec(
        embZone = Some(embZone), threshold = 0.95, indexDir = Some(indexDir)))))
    val before = trace.startedRuns().size
    val hops = trace.span(s"streamlake.$name")(plan.runOnceTimed(stream(sliced))).toMap
    val t0 = System.nanoTime()
    trace.span("streamlake.idle_redrain")(plan.runOnce(stream(sliced)))
    val idle = (System.nanoTime() - t0) / 1e9
    val runs = trace.startedRuns().drop(before)
    runs.foreach(r => trace.awaitTerminated(r))
    val survivors = TxLog.read(spark, plan.corpusZone).select("doc_id").collect()
      .map(_.getLong(0)).sorted.toSeq
    Map("textual_s" -> hops("textual"), "semantic_s" -> hops("semantic"), "idle_s" -> idle,
      "hop1_progress" -> trace.progressOf(runs.head),
      "hop2_progress" -> trace.progressOf(runs(1)),
      "survivors" -> survivors)
  }

  /** Set-up, the one-trigger reference drain, then the sliced drain.
    * Returns the sliced drain's observations and the check that its
    * survivors equal the reference's. */
  def run(): (Map[String, Any], (Boolean, String)) = {
    val t0 = System.nanoTime()
    trace.span("streamlake.setup")(setup())
    val setupS = (System.nanoTime() - t0) / 1e9
    val reference = drain("reference", sliced = false)("survivors").asInstanceOf[Seq[Long]]
    val d = drain("sliced", sliced = true)
    val got = d("survivors").asInstanceOf[Seq[Long]]
    val ok = reference.nonEmpty && got == reference
    val detail =
      if (ok) s"${got.size} survivors of $Docs docs in $Slices slices and in one trigger"
      else s"sliced drain: ${got.size} survivors, one-trigger drain ${reference.size}, " +
        s"differing ids ${((got.toSet -- reference) ++ (reference.toSet -- got)).take(10)}"
    (d - "survivors" ++ Map("docs" -> Docs, "setup_s" -> setupS, "survivors" -> got.size),
      (ok, detail))
  }
}
