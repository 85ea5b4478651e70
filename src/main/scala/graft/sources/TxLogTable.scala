package graft.sources

import java.util.{Map => JMap}

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsDelete, SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Count, CountStar}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownLimit, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources.{BaseRelation, Filter, InsertableRelation, TableScan}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.operators.TxLog

/** TxLog zone as a DataSource V2 BATCH table — the batch twin of the
  * round-9 streaming pushdown hook, closing the last plan-integration
  * gap: before this, manifest-level file skipping was only reachable
  * through the explicit `TxLog.readWhere*` APIs, so a user writing plain
  * `spark.read.format("txlog").load().filter(...)` (or SQL over a
  * registered view) silently FULL-SCANNED the zone. At 100 TB that is
  * the difference between opening the handful of files whose committed
  * min/max overlap a predicate and opening every file in the table.
  *
  * Shape: [[TxLogStreamProvider]] (the registered "txlog" source)
  * additionally implements [[TableProvider]] via [[TxLogBatchSupport]],
  * so `spark.read.format("txlog")` takes Spark's native DSv2 read path:
  *
  *  - [[TxLogScanBuilder]] implements `SupportsPushDownFilters` +
  *    `SupportsPushDownRequiredColumns` — Spark's own
  *    V2ScanRelationPushDown rule (no custom Catalyst rule needed, unlike
  *    the streaming side where the v1 Source boundary hides the plan)
  *    hands it the query's predicates and required columns;
  *  - accepted predicates prune the snapshot's file list against the
  *    committed per-file stats, and required columns narrow the file
  *    read's schema — BOTH reusing [[TxLogPrunableScan]], the exact
  *    scan the streaming hook runs, so batch and streaming prune with
  *    one shared implementation;
  *  - the built [[TxLogBatchScan]] is a real DSv2 [[org.apache.spark
  *    .sql.connector.read.Batch]] (one partition per kept file, read by
  *    Spark's own per-file reader) — which makes it a
  *    `SupportsRuntimeV2Filtering` participant: JOIN-driven dynamic
  *    pruning hands the scan the broadcast dim's actual keys at run
  *    time and the manifest drops non-overlapping fact files before any
  *    is opened (see [[TxLogBatchScan]]'s scaladoc);
  *  - every pushed filter is also RETURNED as a residual, so the full
  *    predicate still evaluates above the scan: pruning is a SUPERSET
  *    contract and results are bit-identical with and without it.
  *
  * Snapshot semantics: the snapshot is pinned when the table is loaded
  * (`spark.read...load()`), so all actions on that DataFrame read one
  * consistent generation even while writers commit — the same isolation
  * [[TxLog.readSnapshot]] gives. Time travel rides the same option
  * surface: `.option("gen", 5)` reads generation 5 (within vacuum
  * retention), mirroring [[TxLog.snapshotAt]]; `.option("asOfTimestamp",
  * t)` resolves the newest generation committed at or before `t`
  * ([[TxLog.snapshotAsOf]]'s manifest-mtime clock).
  *
  * Streaming reads are untouched: the table declares no streaming
  * capability, so `spark.readStream.format("txlog")` falls back to the
  * v1 [[TxLogStreamProvider.createSource]] path (and `writeStream` to
  * [[TxLogStreamProvider.createSink]]) — one short name, batch read,
  * batch write ([[TxLogWriteBuilder]]), stream read, stream write, each
  * on its proper plan integration.
  *
  * Reference anchor: the reference's consumers read raw S3 prefixes via
  * Glue jobs (`lib/consumer-components.ts:86-110`) with no statistics to
  * skip by; this is the lake-format upgrade of that read path. */
trait TxLogBatchSupport extends TableProvider {

  private def zoneOf(m: JMap[String, String]): String = {
    // "zone" is the canonical option; "path" (what `.load(p)`/`.save(p)`
    // set) is accepted as the natural alias
    val z = if (m.get("zone") != null) m.get("zone") else m.get("path")
    if (z == null) throw new IllegalArgumentException(
      "txlog batch table requires option 'zone' (the zone path)")
    z
  }

  /** `asOfTimestamp` accepts epoch millis, "yyyy-MM-dd HH:mm:ss[.SSS]",
    * or a bare date — wall-clock forms read at the SESSION time zone
    * (the same convention the committed string stats use). Protected:
    * the streaming provider reuses it for `startingTimestamp`. */
  protected def asOfMillis(spark: SparkSession, raw: String): Long =
    TxLogOptions.asOfMillis(spark, raw)

  /** One resolution per (provider instance, travel options): Spark calls
    * `inferSchema` and then `getTable` on the SAME fresh provider
    * instance per `.load()` — without the cache that resolves the head
    * chain twice, and a writer committing between the two calls would
    * pin generation N+1 under generation N's schema. */
  private val resolvedOnce =
    new java.util.concurrent.ConcurrentHashMap[String, Option[TxLog.Snapshot]]()

  private def snapshotOpt(spark: SparkSession, m: JMap[String, String])
      : Option[TxLog.Snapshot] = {
    // \u0001 separator (as an ESCAPE, not a raw byte -- a raw control
    // char in the literal makes git treat the file as binary): cannot
    // appear in a path or numeric option, so no (zone, gen, asOf) triple
    // can alias another's cache key.
    val key = zoneOf(m) + "\u0001" + m.get("gen") + "\u0001" +
      m.get("asOfTimestamp") + "\u0001" + m.get("asoftimestamp")
    resolvedOnce.computeIfAbsent(key, _ => resolveSnapshot(spark, m))
  }

  /** Head, `gen`-pinned, or `asOfTimestamp`-resolved snapshot of the
    * zone, resolved on the driver at load time. None only when the zone
    * has NO log at all and neither travel option was given — the
    * write-create case; an explicit `gen`/`asOfTimestamp` that does not
    * resolve is always an error. */
  private def resolveSnapshot(spark: SparkSession, m: JMap[String, String])
      : Option[TxLog.Snapshot] = {
    val zone = zoneOf(m)
    val gen = Option(m.get("gen")).map(_.toLong)
    val asOf = Option(m.get("asOfTimestamp")).orElse(Option(m.get("asoftimestamp")))
    require(gen.isEmpty || asOf.isEmpty,
      "txlog batch table: options 'gen' and 'asOfTimestamp' are mutually exclusive")
    (gen, asOf) match {
      case (Some(g), _) => Some(TxLog.snapshotAt(spark, zone, g).getOrElse(
        throw new IllegalArgumentException(
          s"txlog batch table: $zone has no resolvable generation $g " +
            "(vacuumed, torn, or never committed)")))
      case (_, Some(raw)) =>
        val ts = asOfMillis(spark, raw)
        Some(TxLog.snapshotAsOf(spark, zone, ts).getOrElse(
          throw new IllegalArgumentException(
            s"txlog batch table: $zone has no generation committed at or " +
              s"before '$raw' — the zone is younger than the requested time")))
      case _ => TxLog.latest(spark, zone)
    }
  }


  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val spark = SparkSession.active
    // a log-less zone infers an EMPTY schema instead of refusing here:
    // the WRITE paths must get a Table back (the batch writer passes the
    // input schema as external metadata and never consults this; the
    // streaming writer probes the table before its v1-sink fallback) —
    // READS of a log-less zone still refuse with the same
    // "no transaction log" error, at scan build instead of load
    snapshotOpt(spark, options) match {
      case Some(snap) => TxLog.zoneSchema(snap)
        .getOrElse(TxLog.readSnapshot(spark, zoneOf(options), snap).schema)
      case None => new StructType()
    }
  }

  // a caller may pass an explicit schema (the streaming side always
  // could); the batch read serves it as the pinned read schema
  override def supportsExternalMetadata(): Boolean = true

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table = {
    val spark = SparkSession.active
    // WRITES reach here directly with the input query's schema
    // (supportsExternalMetadata), skipping inferSchema — so a FIRST
    // write to a log-less zone resolves no snapshot and simply creates
    // the zone on insert. READS resolve through inferSchema first,
    // which still refuses a log-less zone loudly at load time.
    new TxLogTable(spark, zoneOf(properties),
      snapshotOpt(spark, properties), schema)
  }
}

final class TxLogTable(spark: SparkSession, zone: String,
                       snapOpt: Option[TxLog.Snapshot], pinned: StructType,
                       /** catalog tables additionally stream natively
                         * (`spark.readStream.table` → MicroBatchStream);
                         * the FORMAT path keeps `false` so
                         * `readStream.format("txlog")` stays on the v1
                         * source whose option surface (startingGen /
                         * startingTimestamp / maxGensPerBatch) and
                         * GraftScan pushdown hook are spec-pinned. */
                       streaming: Boolean = false)
    extends Table with SupportsRead with SupportsWrite with SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {

  /** SQL UPDATE / MERGE INTO / rewrite-DELETE — see
    * [[TxLogRowLevelOperation]]'s contract walk-through. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    val snap = snapOpt.getOrElse(throw new IllegalArgumentException(
      s"txlog table: $zone has no transaction log"))
    () => new TxLogRowLevelOperation(spark, zone, snap,
      TxLog.zoneSchema(snap).getOrElse(pinned), info.command())
  }
  override def name(): String =
    s"txlog[$zone gen ${snapOpt.map(_.gen.toString).getOrElse("none")}]"
  override def schema(): StructType = pinned
  override def capabilities(): java.util.Set[TableCapability] = {
    // BATCH_WRITE must accompany V1_BATCH_WRITE: DataFrameWriter's v2
    // routing gates on BATCH_WRITE specifically (a table with only the
    // V1 fallback capability is sent down the v1 CTAS path, which this
    // provider does not serve); the write itself still builds a V1Write
    val caps = java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER)
    if (streaming) caps.add(TableCapability.MICRO_BATCH_READ)
    caps
  }
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // reads normally can't get here snapshot-less (inferSchema refused),
    // but a user-supplied READ schema skips inferSchema — same refusal
    val snap = snapOpt.getOrElse(throw new IllegalArgumentException(
      s"txlog batch table: $zone has no transaction log"))
    new TxLogScanBuilder(spark, zone, snap, pinned,
      TxLogOptions.streamOptions(spark, zone, options))
  }
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new TxLogWriteBuilder(spark, zone, info)

  /** SQL `DELETE FROM` (and v2 `TRUNCATE TABLE` via [[SupportsDelete]]'s
    * AlwaysTrue default): Spark translates the WHERE clause to v1
    * filters and asks `canDeleteWhere` first — accepted iff EVERY
    * conjunct has an exact Column re-expression (a partial translation
    * would delete the wrong rows; Spark raises its standard
    * cannot-translate error instead). The delete itself is
    * [[TxLog.deleteWhereFiles]]'s OCC rewrite loop: each attempt prunes
    * the TOUCHED file set against the head's committed stats through
    * the same [[TxLogPrunableScan]] the reads use — a keyed scrub
    * rewrites the key's files, never the zone — and survivors are the
    * exact predicate's complement. Deletes apply to the zone's CURRENT
    * head (each attempt re-reads it), not this table's load-time pinned
    * snapshot — the standard lakehouse DELETE contract; rivals landing
    * mid-delete abort the publish and the rewrite recomputes. */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    TxLogFilters.conjunction(filters.toSeq).isDefined

  override def deleteWhere(filters: Array[Filter]): Unit = {
    TxLog.deleteWhereFiles(spark, zone,
      head => {
        val scan = TxLogPrunableScan(spark, zone, head, head.files,
          TxLog.zoneSchema(head).getOrElse(pinned))
        scan.prunedKeep(filters.toSeq.filter(scan.accepts))
      },
      _ => TxLogFilters.conjunction(filters.toSeq).getOrElse(
        throw new IllegalArgumentException(
          s"txlog table: untranslatable DELETE filters ${filters.mkString(", ")} " +
            "— canDeleteWhere must gate this path")))
    ()
  }
}

/** The BATCH WRITE half of the table: `df.write.format("txlog")
  * .option("zone", z).mode("append"|"overwrite").save()` lands a new
  * transactional generation through the exact APIs the library exposes —
  * [[TxLog.append]] / [[TxLog.replace]] — so a plain-writer user gets
  * the same OCC publish, delta manifests, checkpoints, and committed
  * stats as an API caller. Shape: a [[V1Write]] (the public fallback,
  * same as the read side's V1Scan) whose [[InsertableRelation]] routes
  * on the truncate flag. `mode("overwrite")` arrives as
  * OverwriteByExpression(true) and Spark calls `truncate()` — replace;
  * `mode("append")` → append. A first write to a log-less zone CREATES
  * it (replace's own semantics; the write path hands this builder the
  * input schema via external metadata, so no snapshot is needed).
  * `.option("statsCols", "a,b")` requests committed per-file stats;
  * without it a zone's previously committed choice is inherited
  * ([[TxLog]]'s effectiveStatsCols rule). Schema evolution rides
  * append's own rules because validation ran against the INPUT schema.
  * ErrorIfExists/Ignore modes are refused by Spark itself for
  * TableProvider sinks (use append or overwrite) — spec-pinned. */
final class TxLogWriteBuilder(spark: SparkSession, zone: String,
                              info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate {

  private var overwrite = false

  override def truncate(): WriteBuilder = { overwrite = true; this }

  override def build(): Write = new V1Write {
    override def toInsertableRelation: InsertableRelation =
      new InsertableRelation {
        override def insert(data: DataFrame, ov: Boolean): Unit = {
          // CaseInsensitiveStringMap lowercases keys
          val statsCols = Option(info.options.get("statscols"))
            .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
            .getOrElse(Nil)
          if (overwrite || ov)
            TxLog.replace(spark, zone, data, statsCols = statsCols): Unit
          else
            TxLog.append(spark, zone, data, statsCols = statsCols): Unit
        }
      }
  }
}

/** Receives the plan's predicates and required columns from Spark's
  * V2ScanRelationPushDown. `pushFilters` keeps the prunable subset
  * (recorded as PushedFilters on the plan) and returns EVERY filter as a
  * residual — superset semantics, identical to the streaming hook.
  *
  * Also accepts a row LIMIT (`SupportsPushDownLimit`, best-effort
  * superset: the shared scan serves a committed-row-count-bounded file
  * PREFIX and Spark keeps the exact Limit above — V2ScanRelationPushDown
  * only offers a limit when no residual Filter sits between it and the
  * scan, so the cap can never under-serve a predicate) and COUNT
  * aggregations (`SupportsPushDownAggregates`): an unfiltered, ungrouped
  * `COUNT(*)` / `COUNT(col)` over a zone whose every file carries
  * committed row/null counts is answered from the MANIFEST — O(log
  * head), zero data files opened, the plain-SQL form of
  * [[TxLog.metadataCount]]. At 100 TB that is the difference between a
  * catalog lookup and a full-table scan for the most common audit query
  * there is. MIN/MAX are deliberately DECLINED: the committed stat
  * encodings (numerics widened through double, temporals through
  * seconds-truncated session-zone strings) are prune-safe — widening —
  * but not value-exact, and aggregate pushdown must return the exact
  * value or nothing. */
/** Reader options shared by the v1 stream source and the v2 table path.
  * `startGen` = "changes after G" (resolved from `startingGen` or
  * `startingTimestamp`); `maxGensPerBatch` = the backpressure cap. */
private[graft] final case class TxLogStreamOptions(
    startGen: Option[Long] = None, maxGensPerBatch: Option[Long] = None)

private[graft] object TxLogOptions {

  /** Epoch millis, "yyyy-MM-dd HH:mm:ss[.SSS]", or a bare date —
    * wall-clock forms read at the SESSION time zone. */
  def asOfMillis(spark: SparkSession, raw: String): Long =
    scala.util.Try(raw.trim.toLong).getOrElse {
      val zone = java.time.ZoneId.of(spark.conf.get(
        "spark.sql.session.timeZone", java.util.TimeZone.getDefault.getID))
      val t = raw.trim
      val local =
        if (t.length <= 10) java.time.LocalDate.parse(t).atStartOfDay()
        else java.time.LocalDateTime.parse(t.replace(' ', 'T'))
      local.atZone(zone).toInstant.toEpochMilli
    }

  /** The v2 reader's streaming options (CaseInsensitiveStringMap keys are
    * lowercase) — same semantics as the v1 source's createSource:
    * `startingTimestamp` anchors on the newest generation STRICTLY
    * before the time (no commit that early = the default
    * full-snapshot-then-diffs mode). */
  def streamOptions(spark: SparkSession, zone: String,
                    options: CaseInsensitiveStringMap): TxLogStreamOptions = {
    require(!(options.containsKey("startinggen") &&
        options.containsKey("startingtimestamp")),
      "txlog stream: options 'startingGen' and 'startingTimestamp' " +
        "are mutually exclusive")
    val startGen = Option(options.get("startinggen")).map(_.toLong)
      .orElse(Option(options.get("startingtimestamp")).flatMap { raw =>
        TxLog.snapshotAsOf(spark, zone, asOfMillis(spark, raw) - 1L).map(_.gen)
      })
    val maxGens = Option(options.get("maxgensperbatch")).map(_.toLong)
    require(maxGens.forall(_ >= 1L),
      s"maxGensPerBatch must be >= 1, got $maxGens")
    TxLogStreamOptions(startGen, maxGens)
  }
}

final class TxLogScanBuilder(spark: SparkSession, zone: String,
                             snap: TxLog.Snapshot, full: StructType,
                             streamOpts: TxLogStreamOptions = TxLogStreamOptions())
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownLimit with SupportsPushDownAggregates {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = full
  private var cap: Option[Int] = None
  private var aggCounts: Option[Seq[Long]] = None

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // acceptance is schema-independent; probe with the full schema
    val probe = TxLogPrunableScan(spark, zone, snap, snap.files, full)
    pushed = filters.filter(probe.accepts)
    filters // all residual: the exact predicate always re-runs above
  }

  override def pushedFilters(): Array[Filter] = pushed

  /** Best-effort cap; `isPartiallyPushed` stays at its default `true`,
    * so Spark keeps the exact LIMIT in the plan (superset contract —
    * same as the streaming side's [[graft.plans.PushLimitIntoGraftScan]]). */
  override def pushLimit(n: Int): Boolean = { cap = Some(n); true }

  /** Exact COUNT answers from the committed per-file stats, or None when
    * any needed stat is missing (a stat-less file makes the manifest
    * count unknowable — full-scan instead of guessing). */
  private def countsFor(agg: Aggregation): Option[Seq[Long]] = {
    // pending key deletes mask rows the committed counts still include
    if (agg.groupByExpressions.nonEmpty || pushed.nonEmpty || snap.pendingDeletes)
      return None
    // rows per file from ANY tracked column's stat ([[TxLog.metadataCount]]'s rule)
    def fileRows(f: String): Option[Long] =
      snap.colStats.get(f).flatMap(_.values.headOption).map(_.rows)
    def fileNonNull(f: String, c: String): Option[Long] =
      snap.colStats.get(f).flatMap(_.get(c)).map(st => st.rows - st.nulls)
    def total(per: String => Option[Long]): Option[Long] = {
      val xs = snap.files.map(per)
      if (xs.forall(_.isDefined)) Some(xs.flatten.sum) else None
    }
    val each = agg.aggregateExpressions.toSeq.map {
      case _: CountStar => total(fileRows)
      case c: Count if !c.isDistinct => c.column match {
        case ref: NamedReference if ref.fieldNames.length == 1 =>
          total(fileNonNull(_, ref.fieldNames.head))
        case _ => None
      }
      case _ => None // MIN/MAX/SUM/AVG: stats not value-exact (see scaladoc)
    }
    if (each.forall(_.isDefined)) Some(each.flatten) else None
  }

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    countsFor(agg).isDefined

  override def pushAggregation(agg: Aggregation): Boolean =
    countsFor(agg) match {
      case Some(counts) => aggCounts = Some(counts); true
      case None         => false
    }

  override def pruneColumns(requiredSchema: StructType): Unit =
    // a zero-column request (count(*) shape) still needs arity >= 1
    // through the nested read — keep one column, Spark projects it away
    required =
      if (requiredSchema.isEmpty) StructType(full.fields.take(1))
      else requiredSchema

  override def build(): Scan = aggCounts match {
    case Some(counts) => TxLogCountScan(spark, zone, snap, counts)
    // the data scan is a real DSv2 Batch ([[TxLogBatchScan]]) so it can
    // participate in runtime (join-driven) file pruning — see its scaladoc
    case None => TxLogBatchScan(spark, zone, snap, full, required, pushed,
      cap, streamOpts = streamOpts)
  }
}

/** Completely-pushed COUNT scan: the whole aggregate was answered from
  * the manifest's committed per-file row/null counts, so the "scan" is
  * one driver-built row — no data file is opened at any scale. Spark's
  * complete-pushdown path trusts the source for exactness, which
  * [[TxLogScanBuilder.countsFor]] guarantees (counts are exact in the
  * log; any missing stat declines the pushdown entirely). */
final case class TxLogCountScan(spark: SparkSession, zone: String,
                                snap: TxLog.Snapshot, counts: Seq[Long])
    extends V1Scan {

  override def readSchema(): StructType = StructType(
    counts.indices.map(i => StructField(s"count_$i", LongType, nullable = false)))

  override def description(): String =
    s"txlog[$zone gen ${snap.gen}] PushedAggregates: COUNT -> ${counts.mkString(", ")}"

  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T =
    new TxLogCountRelation(context, readSchema(), counts).asInstanceOf[T]
}

/** One-row relation carrying the manifest-served counts.
  * `needConversion = true` (the default): Spark converts the external
  * Row — a one-row cost. */
final class TxLogCountRelation(ctx: SQLContext, schemaV: StructType,
                               counts: Seq[Long])
    extends BaseRelation with TableScan {
  override def sqlContext: SQLContext = ctx
  override def schema: StructType = schemaV
  override def buildScan(): RDD[Row] =
    ctx.sparkContext.parallelize(Seq(Row.fromSeq(counts)), 1)
}

