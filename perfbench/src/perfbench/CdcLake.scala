package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{Cdc, FullLoad, TxLog}
import graft.sources.{DynamoFake, FileCdcSource}
import graft.streaming.CdcStream

/** The paper's pipeline: a one-shot full load of a DynamoDB table into
  * the lake's current-state zone, then a stream of change files, each
  * one micro-batch of one long-running query whose `foreachBatch`
  * commits the raw zone (ok + error routes, atomically) and merges the
  * batch's last-writer-wins changes into the current-state zone. One
  * closed-loop client lands a file, waits for its batch, and reads the
  * batch's last-written key back. */
final class CdcLake(spark: SparkSession, work: String, seed: Long, trace: Trace)
    extends Workload {
  private val Items = 20000
  private val EventsPerBatch = 1000
  private val CompactEvery = 10
  private val BatchTimeoutS = 120L

  private val gen = new Gen.Cdc(seed, Items)
  private var current = ""
  private val raw = s"$work/raw"
  private val inDir = s"$work/in"
  private val stageDir = s"$work/stage"
  private var query: StreamingQuery = _
  private var steps = 0L
  private val done = new LinkedBlockingQueue[Either[Throwable, Long]]()
  @volatile private var tracing = false
  // traced-only observations, appended from the stream thread
  private val mergeDiffs = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var rowsValid = 0L
  private var rowsError = 0L
  private val missedReadBacks = mutable.ArrayBuffer.empty[String]

  private val setupTimes = mutable.ArrayBuffer.empty[Double]

  override def setup(rep: Int): Double = {
    val dir = s"$work/setup$rep"
    val t0 = System.nanoTime()
    trace.span("fullload.run_scan") {
      FullLoad.runScan(spark,
        DynamoFake.ThrottledDynamoScan(DynamoFake.FakeDynamoTable(Items),
          provisionedRcu = 1e15), // unthrottled: pacing would time the budget
        splits = 4, s"$dir/fullload", outputPartitions = 4)
    }
    trace.span("txlog.replace") {
      TxLog.replace(spark, s"$dir/current",
        FullLoad.readBack(spark, s"$dir/fullload").withColumn("seq", lit(0L)),
        statsCols = Seq("id"))
    }
    current = s"$dir/current"
    setupTimes += (System.nanoTime() - t0) / 1e9
    setupTimes.last
  }

  /** The first set-up repetition ran on a cold JVM: the one-shot full
    * load as the batch job pays it. */
  override def cold(): Double = setupTimes.head

  private def zoneDiff(zone: String, before: Option[TxLog.Snapshot],
                       after: Option[TxLog.Snapshot]): Map[String, Any] = {
    val b = before.map(_.files.toSet).getOrElse(Set.empty[String])
    val a = after.map(_.files.toSet).getOrElse(Set.empty[String])
    val sizes = after.map(_.sizes).getOrElse(Map.empty[String, (Long, Long)])
    Map("zone" -> zone, "live_before" -> b.toList.sorted, "live_after" -> a.toList.sorted,
      "added_bytes" -> (a -- b).toList.map(f => sizes.get(f).map(_._1).getOrElse(0L)).sum)
  }

  private def onBatch(batch: DataFrame, batchId: Long): Unit = {
    val result = try {
      trace.span("cdc.batch") {
        batch.persist()
        try {
          if (tracing) {
            val (valid, errors) = Cdc.split(batch)
            trace.span("cdc.transform") {
              Cdc.transform(valid).write.format("noop").mode("overwrite").save()
            }
            rowsValid += valid.count()
            rowsError += errors.count()
          }
          val changes = Cdc.transform(Cdc.split(batch)._1).select(
            col("id").cast("long").as("id"), col("attrs").getItem("payload").as("payload"),
            col("attrs").getItem("seq").cast("long").as("seq"),
            when(col("Event") === "REMOVE", lit("D")).otherwise(lit("U")).as("op"))
          val curBefore = if (tracing) trace.span("txlog.latest")(TxLog.latest(spark, current))
                          else None
          trace.span("txlog.merge") {
            TxLog.cdcChangesSink(current, "id", "seq", "op")(changes, batchId)
          }
          val rawBefore = if (tracing) TxLog.latest(spark, raw) else None
          trace.span("cdcstream.commit_batch")(CdcStream.commitBatchTx(raw)(batch, batchId))
          if (tracing) mergeDiffs.synchronized {
            mergeDiffs += Map("batch_id" -> batchId,
              "current" -> zoneDiff("current", curBefore, TxLog.latest(spark, current)),
              "raw" -> zoneDiff("raw", rawBefore, TxLog.latest(spark, raw)))
          }
        } finally batch.unpersist()
      }
      Right(batchId)
    } catch { case t: Throwable => Left(t) }
    done.put(result)
    result.left.foreach(t => throw t)
  }

  private def startStream(): Unit = if (query == null) {
    Files.createDirectories(Paths.get(inDir))
    Files.createDirectories(Paths.get(stageDir))
    TxLog.init(spark, raw)
    query = FileCdcSource(inDir).stream(spark).writeStream
      .option("checkpointLocation", s"$work/checkpoint")
      .foreachBatch(onBatch _)
      .start()
  }

  /** Land one file, wait for its batch, read the key back. Returns
    * (visible seconds, read-back matched, landed bytes, batch id). */
  private def step(probes: mutable.ArrayBuffer[Map[String, Any]])
      : (Double, Boolean, Long, Long) = {
    steps += 1
    val b = gen.batch(EventsPerBatch)
    val name = f"batch-$steps%06d.json"
    val staged = Paths.get(stageDir, name)
    val bytes = (b.lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8)
    Files.write(staged, bytes)
    val t0 = System.nanoTime()
    Files.move(staged, Paths.get(inDir, name), StandardCopyOption.ATOMIC_MOVE)
    val outcome = done.poll(BatchTimeoutS, TimeUnit.SECONDS)
    if (outcome == null) sys.error(s"batch for $name not committed within $BatchTimeoutS s")
    val batchId = outcome.fold(
      t => throw new IllegalStateException(s"batch for $name failed", t), identity)
    val seen = trace.span("txlog.read_probe") {
      TxLog.readWhereCol(spark, current, "id", b.probeKey, b.probeKey)
        .select("payload").collect().map(_.getString(0)).toSeq
    }
    val visible = (System.nanoTime() - t0) / 1e9
    if (tracing) {
      val head = TxLog.latest(spark, current).get
      probes += Map("live" -> head.files.size,
        "kept" -> TxLog.prunedFilesFor(head, "id", b.probeKey, b.probeKey).size)
    }
    if (steps % CompactEvery == 0) trace.span("txlog.compact")(TxLog.compact(spark, raw))
    val ok = seen == b.expected.toSeq
    if (!ok) missedReadBacks += s"batch $batchId: key ${b.probeKey} read $seen, expected ${b.expected}"
    (visible, ok, bytes.length.toLong, batchId)
  }

  override def warmUp(): Map[String, Any] = {
    startStream()
    val scratch = mutable.ArrayBuffer.empty[Map[String, Any]]
    Steady.warm(window = 2, tol = 0.10, minUnits = 16, maxUnits = 16, maxSeconds = 120.0) {
      () => step(scratch)._1
    }
  }

  override def measure(seconds: Double, traced: Boolean): Map[String, Any] = {
    startStream()
    tracing = traced
    val probes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val visible = mutable.ArrayBuffer.empty[Double]
    val landed = mutable.ArrayBuffer.empty[Long]
    val batchIds = mutable.ArrayBuffer.empty[Long]
    var failed = 0
    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e9 < seconds) {
      val (v, ok, bytes, id) = step(probes)
      visible += v
      landed += bytes
      batchIds += id
      if (!ok) failed += 1
    }
    val elapsed = (System.nanoTime() - t0) / 1e9
    tracing = false
    // a batch's progress event is posted after its foreachBatch returns
    val ids = batchIds.toSet
    val runId = query.runId
    def timedProgress = trace.progressOf(runId).filter(p => ids(p("batch_id").asInstanceOf[Long]))
    val until = System.nanoTime() + 10000000000L
    while (timedProgress.size < ids.size && System.nanoTime() < until) {
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      Thread.sleep(20L)
    }
    Map("elapsed_s" -> elapsed, "attempted" -> visible.size, "failed" -> failed,
      "events" -> visible.size.toLong * EventsPerBatch, "visible_s" -> visible.toList,
      "landed_bytes" -> landed.toList, "progress" -> timedProgress, "probes" -> probes.toList,
      "merge_diffs" -> mergeDiffs.synchronized { val l = mergeDiffs.toList; mergeDiffs.clear(); l },
      "rows_valid" -> rowsValid, "rows_error" -> rowsError)
  }

  override def check(): Map[String, (Boolean, String)] = {
    close()
    val rows = TxLog.read(spark, current).select("id", "payload").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def digest(kv: Iterable[(Long, String)]): Long =
      kv.iterator.map { case (k, v) => scala.util.hashing.MurmurHash3.stringHash(s"$k\u0001$v").toLong }
        .sum
    val model = gen.model.toSeq
    val errRows = TxLog.readWhereCol(spark, raw, "route", "err", "err").count()
    val okRows = TxLog.readWhereCol(spark, raw, "route", "ok", "ok").count()
    Map(
      "current_state_matches_model" -> (rows.length == model.size && digest(rows) == digest(model),
        s"rows=${rows.length} model=${model.size} hash=${digest(rows)} model_hash=${digest(model)}"),
      "error_route_counts_bad_records" -> (errRows == gen.badInjected,
        s"err=$errRows injected=${gen.badInjected}"),
      "ok_route_counts_valid_events" -> (okRows == gen.validEvents,
        s"ok=$okRows valid=${gen.validEvents}"),
      "every_read_back_saw_its_batch" -> (missedReadBacks.isEmpty,
        if (missedReadBacks.isEmpty) s"$steps batches" else missedReadBacks.take(5).mkString("; ")))
  }

  override def close(): Unit = if (query != null) {
    query.stop()
    trace.awaitTerminated(query.runId)
    query = null
  }
}
