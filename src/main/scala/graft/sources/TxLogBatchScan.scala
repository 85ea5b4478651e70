package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, UnsafeProjection}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.graft.FileSourceBridge
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{DataType, StructType}

import graft.operators.TxLog
import graft.plans.PushdownProbe

/** The txlog batch table's SCAN, as a real DSv2 [[Batch]] (one
  * [[InputPartition]] per kept data file, read with Spark's own
  * parquet/orc per-file reader via [[FileSourceBridge]]) — replacing the
  * earlier V1Scan fallback so the scan can participate in RUNTIME
  * filtering:
  *
  * [[SupportsRuntimeV2Filtering]] is the dynamic-partition-pruning hook
  * for v2 sources. In `SELECT ... FROM fact JOIN dim ON fact.k = dim.k
  * WHERE dim.region = 'x'`, Spark broadcasts the filtered dim, turns its
  * join keys into an IN-predicate, and hands it to [[filter]] BEFORE
  * [[planInputPartitions]] — so the fact zone opens only the files whose
  * committed k-stats overlap the dim's actual keys. At 100 TB this is
  * the classic star-join cliff: a compile-time-unknowable key set
  * pruning the big side's scan at run time, file-granular, from the
  * manifest — no data file opened to decide. `filterAttributes`
  * advertises exactly the stats-tracked columns; everything else
  * declines, and runtime pruning keeps the same SUPERSET contract as
  * static pruning (the join above the scan still evaluates exactly).
  *
  * Static pushdown is unchanged in semantics: `pushed` (accepted
  * predicates) prunes files at plan time and rides into the file reader
  * for footer-level row-group skipping inside kept files; `cap`
  * (pushed limit) keeps its committed-row-count file-prefix rule,
  * composing only with an unfiltered scan. Both reuse
  * [[TxLogPrunableScan.keptFiles]] — one pruning implementation across
  * the streaming hook, the v1 paths, and this batch.
  *
  * Scale notes: partitions are whole files (the zone's compaction
  * targets ~128 MB files, one task each — the same granularity Spark's
  * own scan would pick at the default maxPartitionBytes); per-file
  * length/mtime are served from the MANIFEST's committed sizes (round
  * 11), so planning touches the filesystem zero times — pre-sizes
  * manifests fall back to one `listStatus` per parent directory. */
final case class TxLogBatchScan(spark: SparkSession, zone: String,
                                snap: TxLog.Snapshot, full: StructType,
                                required: StructType,
                                pushed: Array[Filter],
                                cap: Option[Int] = None,
                                recorder: Option[TxLogFileRecorder] = None,
                                streamOpts: TxLogStreamOptions = TxLogStreamOptions())
    extends Scan with Batch with SupportsRuntimeV2Filtering {

  /** Runtime (join-driven) filters, set by [[filter]] before Spark
    * re-plans partitions; not part of the case-class identity (two scans
    * are exchange-reusable iff their STATIC shape matches). */
  @transient private var runtime: Seq[Filter] = Nil

  override def readSchema(): StructType = required

  override def toBatch: Batch = this

  override def description(): String =
    s"txlog[$zone gen ${snap.gen}]" +
      (if (pushed.isEmpty) "" else s" PushedFilters: [${pushed.mkString(", ")}]") +
      cap.fold("")(n => s" Limit: $n") +
      (if (runtime.isEmpty) "" else s" RuntimeFilters: [${runtime.mkString(", ")}]")

  private def prunable: TxLogPrunableScan =
    TxLogPrunableScan(spark, zone, snap, snap.files, full, cap)

  /** Only stats-tracked columns can answer a runtime IN-set from the
    * manifest; advertising anything else would cost a broadcast wait
    * with nothing to prune by. Restricted to the scan's OUTPUT
    * (`required`): Spark resolves these against the pruned relation, so
    * a projected-away column must not be advertised. */
  override def filterAttributes(): Array[NamedReference] = {
    val tracked = snap.meta.getOrElse("stats.cols", "")
      .split(",").filter(_.nonEmpty).toSet
    required.fieldNames.filter(tracked).map(Expressions.column)
  }

  override def filter(predicates: Array[Predicate]): Unit = {
    val p = prunable
    runtime = FileSourceBridge.predicatesToV1(predicates).toSeq.filter(p.accepts)
  }

  override def planInputPartitions(): Array[InputPartition] = {
    // the limit prefix composes only with a scan NOTHING filters — a
    // runtime filter arriving after a pushed limit must disable the cap
    // the same way a static filter blocks its offer
    val p = if (runtime.nonEmpty) prunable.copy(cap = None) else prunable
    val keep = p.keptFiles(pushed.toSeq ++ runtime)
    // row-level operations replace exactly the files their scan serves —
    // last plan wins (Spark re-plans after runtime filters arrive)
    recorder.foreach(_.record(keep))
    PushdownProbe.record(s"txlog:$zone", keep.size.toLong, snap.files.size.toLong)
    PushdownProbe.recordCols(s"txlog:$zone", required.fieldNames.toSeq)
    TxLogBatchScan.filePartitions(spark, zone, keep, snap.sizes, snap.dataGens)
  }

  // evolution-safe: dataSchema is the LOG's schema; files predating an
  // added column surface it as null, exactly like the v1 read. Under a
  // column mapping the files are requested by PHYSICAL name (rows are
  // positional, so the logical output schema is untouched). Pending key
  // deletes are applied per row (the files' superset is masked by the
  // same key set whichever subset runtime filters keep).
  override def createReaderFactory(): PartitionReaderFactory =
    TxLogBatchScan.readerFactory(spark, zone, snap, snap.files, full, required,
      pushed.toSeq ++ runtime)

  /** `spark.readStream.table("graft.ns.t")` — catalog tables stream
    * natively (the v2 twin of the v1 `TxLogSource`, same semantics:
    * generation offsets, full snapshot first, then per-commit file
    * diffs, loudly append-only). The static pushed filters and pruned
    * columns this scan collected at stream START apply to EVERY
    * micro-batch's file list and reader — a filtered monitoring
    * consumer of a catalog table reads matching files only, for the
    * stream's whole life. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new TxLogMicroBatchStream(spark, zone, full, required, pushed,
      streamOpts)
}

/** One data file to read, with its data generation (which pending key
  * deletes can mask its rows — [[TxLog.loadFiles]]'s rule). */
final case class TxLogFilePartition(path: String, length: Long,
                                    modTime: Long,
                                    dataGen: Long = TxLog.NoDataGen) extends InputPartition

/** Pending merge-on-read deletes applied inside the per-file reader, which
  * cannot join: a row is dropped iff its key (at `ordinal`) maps to a key
  * generation above its file's data generation. `strip` holds the output
  * field types when the key column was read only for this test, to be
  * projected away again. */
final case class TxLogDeleteMask(ordinal: Int, keyType: DataType,
                                 gens: Map[Any, Long],
                                 strip: Option[Seq[DataType]]) {
  def live(rows: Iterator[InternalRow], dataGen: Long): Iterator[InternalRow] = {
    val kept = rows.filter(r =>
      r.isNullAt(ordinal) || gens.get(r.get(ordinal, keyType)).forall(_ <= dataGen))
    strip.fold(kept) { types =>
      val proj = UnsafeProjection.create(types.zipWithIndex.map { case (t, i) =>
        BoundReference(i, t, nullable = true): Expression })
      kept.map(proj)
    }
  }
}

object TxLogBatchScan {
  /** Translate a read's schemas to PHYSICAL names under the snapshot's
    * column mapping (identity when the zone was never renamed). Filters
    * that reference a RENAMED column are dropped from the per-file
    * reader only — file-level pruning already ran on the logical-keyed
    * manifest stats, and the plan's Filter node still evaluates exactly
    * (the superset contract); what's lost is row-group skipping inside
    * kept files for that one column, until the next OPTIMIZE normalizes
    * the physical names. */
  private[graft] def toPhysicalRead(snap: TxLog.Snapshot, full: StructType,
                                    required: StructType,
                                    filters: Seq[Filter])
      : (StructType, StructType, Seq[Filter]) = {
    val cmap = TxLog.colMap(snap.meta)
    if (cmap.isEmpty) return (full, required, filters)
    def phys(s: StructType) = StructType(
      s.fields.map(f => f.copy(name = cmap.getOrElse(f.name, f.name))))
    (phys(full), phys(required),
      filters.filter(_.references.forall(r => !cmap.contains(r))))
  }

  /** The per-file reader for `relFiles` of `snap`, masking the key
    * deletes pending against them ([[TxLogDeleteMask]]; the mask is
    * collected once on the driver by [[TxLog.collectedMask]], the same
    * keys `TxLog.loadFiles` applies, and refused past the same bound,
    * naming `TxLog.compact`). */
  private[graft] def readerFactory(spark: SparkSession, zone: String,
                                   snap: TxLog.Snapshot, relFiles: Seq[String],
                                   full: StructType, required: StructType,
                                   filters: Seq[Filter]): TxLogReaderFactory = {
    val (physFull, physReq, physFilters) = toPhysicalRead(snap, full, required, filters)
    def factory(req: StructType, mask: Option[TxLogDeleteMask]) =
      new TxLogReaderFactory(FileSourceBridge.readFunc(spark, snap.format,
        dataSchema = physFull, requiredSchema = req, filters = physFilters), mask)
    TxLog.collectedMask(spark, zone, snap, relFiles) match {
      case None => factory(physReq, None)
      case Some((key, gens)) =>
        val physKey = TxLog.colMap(snap.meta).getOrElse(key, key)
        val keyField = physFull(physKey)
        val (req, strip) =
          if (physReq.fieldNames.contains(physKey)) (physReq, None)
          else (physReq.add(keyField), Some(physReq.fields.map(_.dataType).toSeq))
        factory(req, Some(TxLogDeleteMask(req.fieldIndex(physKey), keyField.dataType,
          gens, strip)))
    }
  }

  /** One InputPartition per kept file. Length/mtime come from the
    * MANIFEST's committed per-file sizes — plan time touches the
    * filesystem ZERO times for covered files (at 100 TB/~800k kept files
    * that is the difference between a pure in-memory pass and 800k
    * driver RPCs before any task launches), and a file whose bytes are
    * manifest-served plans even if an external actor broke the FS view.
    * Files a pre-sizes manifest does not cover fall back to ONE
    * `listStatus` per parent `d-*` directory (never one RPC per file). */
  private[graft] def filePartitions(spark: SparkSession, zone: String,
                                    keep: Seq[String],
                                    sizes: Map[String, (Long, Long)] = Map.empty,
                                    dataGens: Map[String, Long] = Map.empty)
      : Array[InputPartition] = {
    if (keep.isEmpty) return Array.empty
    val fs = new Path(zone).getFileSystem(spark.sessionState.newHadoopConf())
    val root = fs.makeQualified(new Path(zone))
    val (known, unknown) = keep.partition(sizes.contains)
    def dataGen(rel: String) = dataGens.getOrElse(rel, TxLog.NoDataGen)
    val fromManifest = known.iterator.map { rel =>
      val (len, mt) = sizes(rel)
      TxLogFilePartition(new Path(root, rel).toString, len, mt, dataGen(rel)): InputPartition
    }
    val fromListing = unknown.groupBy { p =>
      val i = p.lastIndexOf('/'); if (i < 0) "" else p.substring(0, i)
    }.iterator.flatMap { case (dir, files) =>
      val base = if (dir.isEmpty) root else new Path(root, dir)
      val wanted = files.map(p => p.substring(p.lastIndexOf('/') + 1)).toSet
      fs.listStatus(base).iterator
        .filter(st => wanted(st.getPath.getName))
        .map(st => TxLogFilePartition(st.getPath.toString, st.getLen,
          st.getModificationTime,
          dataGen(if (dir.isEmpty) st.getPath.getName else dir + "/" + st.getPath.getName)): InputPartition)
    }
    (fromManifest ++ fromListing).toArray
  }
}

/** Generation-number stream offset (the v2 form of the v1 source's
  * LongOffset; -1 = nothing served yet, so the first batch is the full
  * snapshot — Delta's snapshot-then-diffs contract). */
final case class TxLogGenOffset(gen: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = gen.toString
}

/** The v2 micro-batch stream behind catalog-table streaming reads.
  * Offsets are committed generations; batch (a, b] is the full snapshot
  * at b when a < 0, otherwise the file DIFF the generations in (a, b]
  * appended ([[TxLog.appendedFilesBetween]] — loudly append-only, the
  * same contract the v1 source pins: a compaction inside the window
  * fails the batch instead of double-counting). Static pushed filters
  * prune every batch's file list against that batch's committed stats,
  * and ride into the per-file reader for row-group skipping. Restart
  * resumes from the checkpoint's committed generation — exactly-once
  * into an idempotent sink. */
final class TxLogMicroBatchStream(spark: SparkSession, zone: String,
                                  full: StructType, required: StructType,
                                  pushed: Array[Filter],
                                  opts: TxLogStreamOptions = TxLogStreamOptions())
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl {

  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}

  private def head: TxLog.Snapshot =
    TxLog.latest(spark, zone).getOrElse(sys.error(
      s"txlog stream: $zone has no transaction log"))

  /** Streaming plans get no V2ScanRelationPushDown, so the query's
    * filters arrive via [[graft.plans.PushFiltersIntoTxLogStream]]
    * (optimizer-observed each micro-batch, before partition planning) —
    * folded into every batch's pruning and reader. Superset contract as
    * always: the plan's Filter still evaluates above. */
  @volatile private var static: Seq[Filter] = pushed.toSeq
  private[graft] def pushStatic(filters: Seq[Filter]): Unit =
    static = (pushed.toSeq ++ filters).distinct

  /** Default mode starts at -1 (first batch = full snapshot);
    * `startingGen`/`startingTimestamp` = "changes after G" — the exact
    * contract of the v1 source's options. */
  override def initialOffset(): Offset =
    TxLogGenOffset(opts.startGen.getOrElse(-1L))

  override def latestOffset(): Offset = TxLogGenOffset(head.gen)

  /** `maxGensPerBatch` backpressure (the A11 rate-limit analog): a
    * consumer restarted after a long gap catches up in bounded bites —
    * capping against the checkpoint-committed start can never regress
    * an offset. The FIRST offer of a default-mode run is uncapped (the
    * v1 source's rule, and for the same reason with a second bite:
    * capping against the -1 sentinel would resolve an ancient
    * generation that vacuum may have folded away, wedging the stream
    * before it ever starts — the initial snapshot is one batch by
    * design). */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val h = head.gen
    val s = start.asInstanceOf[TxLogGenOffset].gen
    if (s < 0L) TxLogGenOffset(h)
    else TxLogGenOffset(opts.maxGensPerBatch.fold(h)(m => math.min(h, s + m)))
  }

  override def deserializeOffset(json: String): Offset =
    TxLogGenOffset(json.trim.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[TxLogGenOffset].gen
    val to = end.asInstanceOf[TxLogGenOffset].gen
    if (to <= from && from >= 0L) return Array.empty
    // one log resolution per batch: the diff call already returns the
    // window-end snapshot it resolved
    val (snap, relFiles) =
      if (from < 0L) {
        val s = TxLog.snapshotAt(spark, zone, to).getOrElse(sys.error(
          s"txlog stream: $zone generation $to is gone (vacuumed?) — " +
            "cannot serve the batch window"))
        (s, s.files)
      } else TxLog.appendedFilesBetween(spark, zone, from, to)
    val p = TxLogPrunableScan(spark, zone, snap, relFiles, full)
    val keep = p.prunedKeep(static.filter(p.accepts))
    PushdownProbe.record(s"txlog:$zone", keep.size.toLong, relFiles.size.toLong)
    PushdownProbe.recordCols(s"txlog:$zone", required.fieldNames.toSeq)
    batchSnap = Some(snap)
    batchFiles = keep
    TxLogBatchScan.filePartitions(spark, zone, keep, snap.sizes, snap.dataGens)
  }

  /** The end-offset snapshot the CURRENT batch's files were resolved
    * from — set by planInputPartitions, consumed by createReaderFactory
    * in the same micro-batch (Spark calls them in that order on the
    * driver). The reader's column mapping must come from THIS snapshot,
    * not the live head: a rename followed by a mapping-resetting rewrite
    * (replace/OPTIMIZE) while pre-rename backlog files are still
    * unprocessed would otherwise empty the head's colmap and make those
    * files' renamed column silently read as null. */
  @volatile private var batchSnap: Option[TxLog.Snapshot] = None
  /** The batch's kept files: what its pending key deletes must mask. */
  @volatile private var batchFiles: Seq[String] = Nil

  // per-trigger: the batch-window snapshot's column mapping governs how
  // files are requested (physical names are stable across renames, so
  // the end-offset mapping covers every file the window serves), and its
  // pending key deletes mask the first batch's full snapshot (a later
  // batch's appended files postdate every key file of its window)
  override def createReaderFactory(): PartitionReaderFactory =
    TxLogBatchScan.readerFactory(spark, zone, batchSnap.getOrElse(head), batchFiles,
      full, required, static)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
  override def toString: String = s"TxLogMicroBatchStream[$zone]"
}

/** Executor-side: wrap the shipped per-file reader as a
  * [[PartitionReader]], unwrapping vectorized batches to rows. */
final class TxLogReaderFactory(
    readFunc: PartitionedFile => Iterator[InternalRow],
    mask: Option[TxLogDeleteMask] = None)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val fp = p.asInstanceOf[TxLogFilePartition]
    val rows = FileSourceBridge.rows(readFunc(
      FileSourceBridge.partitionedFile(fp.path, fp.length, fp.modTime)))
    val it = mask.fold(rows)(_.live(rows, fp.dataGen))
    new PartitionReader[InternalRow] {
      override def next(): Boolean = it.hasNext
      override def get(): InternalRow = it.next()
      override def close(): Unit = ()
    }
  }
}
