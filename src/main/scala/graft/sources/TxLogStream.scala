package graft.sources

import org.apache.spark.internal.Logging
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset}
import org.apache.spark.sql.graft.{PlanBridge, StreamBridge}
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType

import graft.operators.TxLog
import graft.plans.{PrunableScan, PushdownProbe}

/** TxLog zone as a Structured Streaming SOURCE — the read half of the
  * lake's streaming loop ([[graft.operators.TxLog.cdcMergeSink]] streams
  * in; this streams out): every committed generation becomes a stream
  * offset, every micro-batch is the file DIFF between two generations,
  * so a downstream consumer (a sync, a maintained index, a feature
  * pipeline) pays for the delta, never the zone. Semantics of Delta's
  * streaming source, built on this log's primitives:
  *
  *  - Offsets are generation numbers. With no `startingGen` option the
  *    first batch serves the FULL head snapshot — including files
  *    already live in the zone's start generation, so a zone brought
  *    under the log via `TxLog.init` over an existing directory streams
  *    its complete initial state (true Delta semantics: snapshot, then
  *    deltas). An EXPLICIT `startingGen=G` means "changes after
  *    generation G" (Delta's `startingVersion` + 1): the first batch is
  *    the file diff from G to the head, skipping history at and before
  *    G. Each later batch serves exactly the files the new generations
  *    added.
  *  - APPEND-ONLY contract, enforced loudly: a compact/replace/merge/
  *    delete inside a batch's generation window rewrites history — a
  *    file-level diff would double- or under-count, so the batch fails
  *    with the [[graft.operators.TxLog.appendedBetween]] error instead
  *    of silently corrupting the stream (Delta's `ignoreChanges` tradeoff,
  *    resolved for correctness). Run maintenance on a separate zone
  *    boundary or restart the stream from a fresh starting generation.
  *  - The schema is pinned at source creation (streaming requires a
  *    fixed schema); files written before a column evolution surface
  *    nulls through the explicit schema, exactly like the batch reader.
  *  - Offsets come back as [[SerializedOffset]] after a checkpoint
  *    restart; both forms decode to the generation number, so restart
  *    resumes from the last COMMITTED generation — exactly-once delivery
  *    into an idempotent sink.
  *
  * Usage: `spark.readStream.format("graft.sources.TxLogStreamProvider")
  * .option("zone", path).load()`.
  *
  * Reference anchor: the reference's consumers re-scan the raw S3 prefix
  * layout on a schedule (`lib/consumer-components.ts:86-110` Glue jobs);
  * this replaces rescans with manifest-driven incremental delivery. */
class TxLogStreamProvider extends StreamSourceProvider with StreamSinkProvider
    with DataSourceRegister with TxLogBatchSupport {

  override def shortName(): String = "txlog"

  /** `writeStream.format("txlog").option("zone", z)` — the lake SINK
    * half under the same short name, completing the loop the scaladoc
    * above describes (zones stream OUT through the source, and now
    * stream IN through the writer API instead of requiring
    * `foreachBatch(TxLog.streamSink/cdcMergeSink)`). The v2
    * table deliberately declares no STREAMING_WRITE, so Spark's
    * DataStreamWriter falls back here — one short name, batch read,
    * batch write, stream read, stream write, each on its proper plan
    * integration. Delivery is exactly-once by the same contract the
    * foreachBatch sinks pin: the batchId high-water mark rides IN the
    * commit's own manifest, so a replayed batch is a no-op.
    *
    * Options: `statsCols` commits per-file stats per batch; `mergeKey`
    * switches from append to keyed upsert ([[TxLog.mergeExactlyOnce]] —
    * batches must be unique per key); `mergeKey` + `ordCol` reduces each
    * batch to its per-key last-writer-wins row first
    * ([[TxLog.cdcMergeSink]]'s raw-CDC contract). OutputMode Complete
    * (a streaming aggregate materialized as a lake table) REPLACES the
    * zone wholesale each batch, batchId-skipped for idempotence. */
  override def createSink(sqlContext: SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    val p = parameters.map { case (k, v) =>
      k.toLowerCase(java.util.Locale.ROOT) -> v }
    val zone = p.getOrElse("zone", p.getOrElse("path",
      throw new IllegalArgumentException(
        "txlog sink requires option 'zone' (the zone path)")))
    val statsCols = p.get("statscols")
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty)).getOrElse(Nil)
    val mergeKey = p.get("mergekey")
    val ordCol = p.get("ordcol")
    require(partitionColumns.isEmpty,
      "txlog sink does not take partitionBy — file layout is the log's concern")
    require(ordCol.isEmpty || mergeKey.nonEmpty,
      "txlog sink option 'ordCol' requires 'mergeKey'")
    val complete = outputMode == OutputMode.Complete()
    require(!complete || mergeKey.isEmpty,
      "txlog sink: Complete mode replaces the zone wholesale; " +
        "'mergeKey' applies to append/update modes")
    // Update mode RE-EMITS each changed key every trigger: appending
    // those re-emissions silently accumulates stale rows per key. A
    // keyed upsert is the only append-shaped sink that can absorb them.
    require(outputMode != OutputMode.Update() || mergeKey.nonEmpty,
      "txlog sink: Update mode re-emits changed rows — give 'mergeKey' " +
        "(keyed upsert) or use append/complete")
    new TxLogSink(sqlContext.sparkSession, zone, statsCols, mergeKey, ordCol,
      complete)
  }

  private def zoneOf(parameters: Map[String, String]): String =
    parameters.getOrElse("zone",
      throw new IllegalArgumentException(
        "txlog stream source requires option 'zone' (the zone path)"))

  override def sourceSchema(sqlContext: SQLContext,
                            schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String]): (String, StructType) = {
    val zone = zoneOf(parameters)
    val s = schema.getOrElse {
      val spark = sqlContext.sparkSession
      val head = TxLog.latest(spark, zone).getOrElse(
        throw new IllegalArgumentException(
          s"txlog stream source: $zone has no transaction log yet"))
      TxLog.zoneSchema(head).getOrElse(TxLog.readSnapshot(spark, zone, head).schema)
    }
    (s"txlog[$zone]", s)
  }

  override def createSource(sqlContext: SQLContext,
                            metadataPath: String,
                            schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String]): Source = {
    val zone = zoneOf(parameters)
    val fixed = sourceSchema(sqlContext, schema, providerName, parameters)._2
    require(!(parameters.contains("startingGen") &&
        parameters.contains("startingTimestamp")),
      "txlog stream source: options 'startingGen' and 'startingTimestamp' " +
        "are mutually exclusive")
    // Delta's startingTimestamp: stream every commit that landed AT OR
    // AFTER the time. startingGen=G means "changes after G", so the
    // anchor is the newest generation STRICTLY before the timestamp
    // (mtime <= ts-1 ⇔ mtime < ts). No commit that early → the whole
    // history is at-or-after the time, which is exactly the DEFAULT
    // mode's contract (full snapshot first, then diffs) — resolve to
    // None rather than inventing an anchor.
    val startGen = parameters.get("startingGen").map(_.toLong)
      .orElse(parameters.get("startingTimestamp").flatMap { raw =>
        val ts = asOfMillis(sqlContext.sparkSession, raw)
        TxLog.snapshotAsOf(sqlContext.sparkSession, zone, ts - 1L).map(_.gen)
      })
    new TxLogSource(sqlContext, zone, fixed, startGen,
      parameters.get("maxGensPerBatch").map(_.toLong))
  }
}

class TxLogSource(sqlContext: SQLContext, zone: String,
                  override val schema: StructType,
                  startingGen: Option[Long],
                  maxGensPerBatch: Option[Long] = None) extends Source with Logging {

  require(maxGensPerBatch.forall(_ >= 1L),
    s"maxGensPerBatch must be >= 1, got $maxGensPerBatch")

  private val spark = sqlContext.sparkSession

  /** The newest generation this source has OFFERED as a batch end —
    * the anchor the `maxGensPerBatch` backpressure caps against (the
    * A11 rate-limit analog: a consumer restarted after a long gap
    * catches up in bounded bites instead of one giant batch). Unknown
    * until the first getBatch of a run; the first offer after a cold
    * start is uncapped (the initial snapshot is one batch by design) —
    * the same best-effort contract as the file source's
    * maxFilesPerTrigger. */
  private var lastEnd: Option[Long] = None

  private def genOf(o: Offset): Long = o match {
    case l: LongOffset => l.offset
    case s: SerializedOffset => LongOffset(s).offset
    case other => sys.error(s"txlog source: unexpected offset type $other")
  }

  override def getOffset: Option[Offset] =
    TxLog.latest(spark, zone).map(_.gen)
      // default mode must fire even at the start generation itself — the
      // initial snapshot is a batch; explicit startingGen=G streams only
      // generations AFTER G
      .filter(h => startingGen.forall(h > _))
      .map { h =>
        // cap only against an end this RUN has offered: anchoring on
        // startingGen after a restart could offer an offset below the
        // checkpoint-committed one (offset regression) — so the first
        // offer of a run is uncapped, like maxFilesPerTrigger
        (maxGensPerBatch, lastEnd) match {
          case (Some(m), Some(b)) => math.min(h, b + m)
          case _ => h
        }
      }
      .map(LongOffset(_))

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val toGen = genOf(end)
    lastEnd = Some(toGen)
    // Resolve the batch's FILE LIST (not a DataFrame): the batch goes out
    // as a GraftScan leaf over (snapshot, files), so the session
    // extension can fold the query's range predicates on stats-tracked
    // columns into the scan — each micro-batch then opens only the files
    // whose committed min/max overlap the predicate (manifest pruning,
    // now reachable from a STREAMING plan).
    val (snap, relFiles) = (start, startingGen) match {
      // first batch, default mode: the FULL snapshot at `end` — serves a
      // non-empty start generation (init over an existing directory)
      // instead of silently dropping it, and needs no append-only window
      // (a full read diffs nothing)
      case (None, None) =>
        val s = TxLog.snapshotAt(spark, zone, toGen).getOrElse(
          sys.error(s"txlog source: $zone generation $toGen is gone " +
            "(vacuumed?) — cannot serve the initial snapshot"))
        (s, s.files)
      // explicit changes-after-G, and every later batch: the file diff
      // between the two committed generations — loudly append-only (see
      // class doc)
      case (_, _) =>
        val fromGen = start.map(genOf).orElse(startingGen).get
        TxLog.appendedFilesBetween(spark, zone, fromGen, toGen)
    }
    val scan = TxLogPrunableScan(spark, zone, snap, relFiles, schema)
    if (graft.plans.GraftScanStrategy.registeredIn(spark))
      PlanBridge.dataFrame(spark,
        graft.plans.GraftScan(DataTypeUtils.toAttributes(schema), scan))
    else
      // vanilla session without GraftExtensions: the leaf would be
      // unplannable — serve the same batch unpruned via the bridge
      StreamBridge.streamingDataFrame(spark, scan.buildRDD(Nil), schema)
  }

  override def stop(): Unit = ()

  override def toString: String =
    s"TxLogSource[$zone${startingGen.fold("")(g => s" after gen $g")}]"
}

/** A TxLog micro-batch (snapshot + its window's file list) as a
  * [[PrunableScan]]: query-plan predicates on the zone's STATS-TRACKED
  * columns prune the file list against the committed per-file min/max
  * (exactly [[TxLog.prunedFilesFor]]'s batch skip, now reachable from a
  * streaming plan) before any parquet footer is opened. Supported
  * shapes: equality on any tracked column; range bounds on numerically
  * tracked columns; range bounds on STRING-tracked columns when the
  * bound renders as a stat-comparable string — plain strings, and
  * timestamps/dates formatted at the SESSION time zone (the zone the
  * stats were cast-to-string under), with the empty string as the
  * open-bound sentinel ([[TxLog.prunedFilesFor]]'s common-prefix compare
  * treats "" as equal-to-everything, i.e. ±∞). Sub-second fractions are
  * truncated, which only WIDENS a bound under prefix comparison (the
  * truncation is a string prefix of the full render) — so the CDC-lake
  * shape `WHERE ingestion_ts BETWEEN t1 AND t2` file-skips soundly.
  * Strict bounds prune as their non-strict widening — superset
  * semantics, the full predicate still runs above. */
final case class TxLogPrunableScan(spark: SparkSession, zone: String,
                                   snap: TxLog.Snapshot,
                                   relFiles: Seq[String],
                                   pinned: StructType,
                                   cap: Option[Int] = None) extends PrunableScan {

  override def describe: String = s"txlog[$zone gen ${snap.gen}]"

  /** Serve a FILE-LIST PREFIX whose committed row counts reach `n`
    * (files without row stats count as unknown — kept, not counted), and
    * cap the inner read at `n` rows: a `.limit(5)` preview of a wide
    * zone opens one file and reads 5 rows, not the window. */
  override def withLimit(n: Int): Option[graft.plans.PrunableScan] =
    Some(copy(cap = Some(cap.fold(n)(math.min(_, n)))))

  /** Shortest prefix of `files` whose known committed rows reach `n`;
    * the whole list when the stats never get there — or while key
    * deletes are pending, since committed rows then overcount. */
  private def limitPrefix(files: Seq[String], n: Int): Seq[String] = {
    if (snap.pendingDeletes) return files
    var cum = 0L
    val keep = Seq.newBuilder[String]
    val it = files.iterator
    while (it.hasNext && cum < n) {
      val f = it.next()
      keep += f
      // any tracked column's stat carries the file's row count
      snap.colStats.get(f).flatMap(_.values.headOption)
        .foreach(st => cum += st.rows)
    }
    keep.result()
  }

  /** Narrow the pinned schema to `cols` — the nested parquet read then
    * fetches only those columns' pages (ReadSchema pruning), the wide-
    * zone win [[graft.plans.PruneGraftScanColumns]] exists for. */
  override def withRequiredColumns(cols: Seq[String])
      : Option[graft.plans.PrunableScan] = {
    val byName = pinned.fields.map(f => f.name -> f).toMap
    val resolved = cols.flatMap(byName.get)
    // PrunableScan contract: DECLINE (None) when the scan cannot narrow —
    // a caller asking for a column this schema does not carry must get
    // the unpruned fallback, not a NoSuchElementException
    if (resolved.size == cols.size && resolved.nonEmpty)
      Some(copy(pinned = StructType(resolved)))
    else None
  }

  private def tracked: Set[String] =
    snap.meta.getOrElse("stats.cols", "").split(",").filter(_.nonEmpty).toSet

  /** The column's committed stat kind ("num" | "str"), from any file
    * that has one. */
  private def kindOf(c: String): Option[String] =
    snap.colStats.valuesIterator.flatMap(_.get(c)).map(_.kind).nextOption()

  private def numeric(v: Any): Boolean = v match {
    case _: Byte | _: Short | _: Int | _: Long | _: Float | _: Double |
         _: java.math.BigDecimal | _: BigDecimal => true
    case _ => false
  }

  /** A pushed literal rendered in the string form the committed "str"
    * stats use ([[TxLog.collectFileStats]] casts non-numeric columns to
    * string under the SESSION time zone). Timestamps go through their
    * absolute instant, so the render is correct even when the JVM
    * default zone differs from the session's (the external Timestamp
    * object Spark hands a v1 filter is built in the JVM zone — its
    * toString would be unsound here). Fractions truncate to seconds:
    * the truncation is a string PREFIX of the full render, which the
    * prefix-stat compare treats as equal — widening, never pruning a
    * qualifying file. None for literals with no stat-comparable form. */
  private def statStr(v: Any): Option[String] = {
    lazy val zone = java.time.ZoneId.of(spark.conf.get(
      "spark.sql.session.timeZone", java.util.TimeZone.getDefault.getID))
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss")
    v match {
      case s: String                 => Some(s)
      case t: java.sql.Timestamp     =>
        Some(java.time.LocalDateTime
          .ofInstant(t.toInstant.truncatedTo(java.time.temporal.ChronoUnit.SECONDS), zone)
          .format(fmt))
      case i: java.time.Instant      =>
        Some(java.time.LocalDateTime
          .ofInstant(i.truncatedTo(java.time.temporal.ChronoUnit.SECONDS), zone)
          .format(fmt))
      case dt: java.time.LocalDateTime => // TimestampNTZ: no zone math
        Some(dt.truncatedTo(java.time.temporal.ChronoUnit.SECONDS).format(fmt))
      case d: java.sql.Date          => Some(d.toLocalDate.toString)
      case d: java.time.LocalDate    => Some(d.toString)
      case _                         => None
    }
  }

  /** Translate one accepted filter to the [lo, hi] range
    * [[TxLog.prunedFilesFor]] understands; "" is the open string bound
    * (prefix-compares equal to everything). */
  private def rangeOf(f: sources.Filter): Option[(String, Any, Any)] = {
    def lower(c: String, v: Any): Option[(String, Any, Any)] =
      if (numeric(v)) Some((c, v, Double.PositiveInfinity))
      else statStr(v).map(s => (c, s, ""))
    def upper(c: String, v: Any): Option[(String, Any, Any)] =
      if (numeric(v)) Some((c, Double.NegativeInfinity, v))
      else statStr(v).map(s => (c, "", s))
    f match {
      case sources.EqualTo(c, v) =>
        if (numeric(v)) Some((c, v, v)) else statStr(v).map(s => (c, s, s))
      case sources.GreaterThan(c, v)        => lower(c, v)
      case sources.GreaterThanOrEqual(c, v) => lower(c, v)
      case sources.LessThan(c, v)           => upper(c, v)
      case sources.LessThanOrEqual(c, v)    => upper(c, v)
      case _ => None
    }
  }

  /** Does one literal fit the column's committed stat kind? */
  private def fitsKind(c: String, v: Any): Boolean = kindOf(c) match {
    case Some("num") => numeric(v)
    case Some(_)     => statStr(v).isDefined
    case None        => false // no file carries a stat: nothing to prune with
  }

  override def accepts(f: sources.Filter): Boolean = f match {
    case sources.In(c, vs) =>
      // no size cap: small IN-lists prune per value; big ones (a runtime
      // join-key set can be thousands) collapse to their [min, max]
      // range — still superset, O(files) instead of O(files · values)
      tracked(c) && vs.nonEmpty && vs.forall(fitsKind(c, _))
    case sources.IsNotNull(c) => tracked(c)
    case _ => rangeOf(f) match {
      case Some((c, lo, hi)) if tracked(c) => kindOf(c) match {
        case Some("num") => numeric(lo) && numeric(hi) // both bounds comparable
        case Some(_)     => // str stats: both bounds strings ("" = open)
          lo.isInstanceOf[String] && hi.isInstanceOf[String]
        case None        => false
      }
      case _ => false
    }
  }

  /** Files the filter can possibly touch (superset keep-set). */
  private def keepFor(f: sources.Filter): Option[Set[String]] = f match {
    case sources.In(c, vs) if vs.length <= 64 =>
      // union of per-value equality overlaps — the event-type IN shape
      // (temporal values go through the same stat render as ranges)
      Some(vs.flatMap { v =>
        val sv = if (numeric(v)) v else statStr(v).getOrElse(v)
        TxLog.prunedFilesFor(snap, c, sv, sv)
      }.toSet)
    case sources.In(c, vs) =>
      // big IN (runtime join keys): collapse to the value range — one
      // O(files) pass; per-value membership still re-checks above
      if (kindOf(c).contains("num")) {
        // toString.toDouble (prunedFilesFor's own convention) parses
        // NaN/Infinity where BigDecimal would throw; a NaN key makes
        // the range meaningless (all comparisons false could wrongly
        // DROP files) — decline pruning for that filter instead
        val ds = vs.map(_.toString.toDouble)
        if (ds.exists(_.isNaN)) None
        else Some(TxLog.prunedFilesFor(snap, c, ds.min, ds.max).toSet)
      } else {
        val ss = vs.map(v => statStr(v).getOrElse(v.toString))
        Some(TxLog.prunedFilesFor(snap, c, ss.min, ss.max).toSet)
      }
    case sources.IsNotNull(c) =>
      // null-count skipping: a file whose tracked column is entirely
      // null cannot produce a row ([[TxLog.readWhereNotNull]]'s rule)
      Some(snap.files.filter { fl =>
        snap.colStats.get(fl).flatMap(_.get(c)) match {
          case Some(st) => st.nulls < st.rows
          case None     => true
        }
      }.toSet)
    case _ =>
      rangeOf(f).map { case (c, lo, hi) =>
        TxLog.prunedFilesFor(snap, c, lo, hi).toSet
      }
  }

  /** The file subset a conjunction of ACCEPTED filters can possibly
    * touch — each filter's keep-set intersected over `relFiles`
    * (superset contract per filter, so the intersection is a superset of
    * the files holding any row matching them all). Shared with the SQL
    * DELETE path ([[TxLogTable.deleteWhere]]), which needs exactly this
    * "files a predicate might live in" answer before rewriting. */
  private[graft] def prunedKeep(pushed: Seq[sources.Filter]): Seq[String] = {
    var keep = relFiles
    pushed.flatMap(keepFor).foreach { overlap =>
      keep = keep.filter(overlap)
    }
    keep
  }

  /** The composed keep-set: stats pruning, then (for an UNFILTERED scan
    * only — a filtered keep-set's row stats would overcount matching
    * rows and the at-least-n contract could silently break) the limit's
    * committed-row-count file prefix. The one answer both execution
    * shapes share: [[buildRDD]]'s nested read and the v2 batch's
    * [[TxLogBatchScan]] per-file partitions. */
  private[graft] def keptFiles(pushed: Seq[sources.Filter]): Seq[String] = {
    val pruned = prunedKeep(pushed)
    cap.filter(_ => pushed.isEmpty).fold(pruned)(limitPrefix(pruned, _))
  }

  override def buildRDD(pushed: Seq[sources.Filter],
                        onPrune: (Long, Long) => Unit): RDD[InternalRow] = {
    val keep = keptFiles(pushed)
    onPrune(keep.size.toLong, relFiles.size.toLong)
    PushdownProbe.record(s"txlog:$zone", keep.size.toLong, relFiles.size.toLong)
    PushdownProbe.recordCols(s"txlog:$zone", pinned.fieldNames.toSeq)
    if (keep.isEmpty) spark.sparkContext.emptyRDD[InternalRow]
    else innerFrame(pushed, keep).queryExecution.toRdd
  }

  /** The nested batch plan buildRDD executes (exposed for the plan spec:
    * its parquet scan must carry the pushed predicates as PushedFilters). */
  private[graft] def innerFrame(pushed: Seq[sources.Filter],
                                keep: Seq[String]): DataFrame = {
    val loaded = TxLog
      .loadFiles(spark, zone, snap, keep)
    // re-express pushed filters over the inner read, so the NESTED plan
    // pushes them into the parquet scan — row-group min/max skipping
    // INSIDE each kept file, composing with the manifest-level file
    // pruning above (the same two-level skip the batch
    // [[TxLog.readWhereCol]] documents). Exactness is unaffected: the
    // plan's full Filter still runs above the bridge.
    val rowGroupSkip = pushed
      .filter { case sources.In(_, vs) => vs.length <= 64; case _ => true }
      .flatMap(TxLogFilters.toColumn).reduceOption(_ && _)
    val selected = rowGroupSkip.fold(loaded)(loaded.filter)
      .selectExpr(pinned.fieldNames.map(n => s"`$n`").toSeq: _*)
    // cap the inner read too: the file prefix bounds the units opened,
    // this bounds the ROWS decoded from them (exact trimming still
    // happens in the outer plan's Limit)
    cap.filter(_ => pushed.isEmpty).fold(selected)(selected.limit)
  }
}

/** The v1 lake sink behind `writeStream.format("txlog")` (see
  * [[TxLogStreamProvider.createSink]] for the option surface). Each
  * micro-batch frame is first lifted to a batch view
  * ([[StreamBridge.sinkBatchDataFrame]] — the ForeachBatchSink re-wrap,
  * nothing recomputed), then committed through the library's own
  * exactly-once primitives, so the writer-API path and the
  * foreachBatch path produce bit-identical logs. */
final class TxLogSink(spark: SparkSession, zone: String,
                      statsCols: Seq[String], mergeKey: Option[String],
                      ordCol: Option[String], complete: Boolean)
    extends org.apache.spark.sql.execution.streaming.Sink {

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val batch = StreamBridge.sinkBatchDataFrame(data)
    (mergeKey, ordCol) match {
      case (Some(k), Some(o)) =>
        TxLog.cdcMergeSink(zone, k, o)(batch, batchId)
      case (Some(k), None) =>
        TxLog.mergeExactlyOnce(spark, zone, batch, k, batchId): Unit
      case (None, _) if complete =>
        // Complete mode: the batch IS the whole result — replace, with
        // the same batchId fast-skip the append sink uses (single
        // streaming query per zone, Structured Streaming's own model)
        val committed = TxLog.latest(spark, zone)
          .flatMap(_.meta.get("batchId")).map(_.toLong)
        if (!committed.exists(_ >= batchId))
          TxLog.replace(spark, zone, batch,
            meta = Map("batchId" -> batchId.toString),
            statsCols = statsCols): Unit
      case (None, _) =>
        TxLog.exactlyOnceAppend(spark, zone, batch, batchId, statsCols): Unit
    }
  }

  override def toString: String = s"TxLogSink[$zone]"
}
