package graft.sources

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NonEmptyNamespaceException, NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, SupportsNamespaces, SupportsRead, Table, TableCapability, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, V1Scan}
import org.apache.spark.sql.sources.{BaseRelation, TableScan}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.operators.TxLog

/** A DataSource V2 [[TableCatalog]] over a WAREHOUSE of txlog zones —
  * the catalog face of the lake format, completing the SQL surface the
  * DSv2 table opened: after
  *
  * {{{
  * spark.sql.catalog.graft           = graft.sources.GraftCatalog
  * spark.sql.catalog.graft.warehouse = /lake            (optional)
  * }}}
  *
  * plain SQL drives the whole lifecycle with no path or option in
  * sight — `CREATE TABLE graft.ns.t (k BIGINT, v STRING)`, CTAS,
  * `INSERT INTO` / `INSERT OVERWRITE` (the table's transactional
  * append/replace), `SELECT` with the manifest's stats pruning +
  * column pruning + limit/COUNT pushdown (all inherited from
  * [[TxLogTable]] — the catalog resolves to the SAME table the
  * format-reader path builds, one implementation, three entry points),
  * `DELETE FROM ... WHERE` ([[TxLogTable.deleteWhere]]'s stats-pruned
  * OCC rewrite), `TRUNCATE TABLE`, `SELECT ... VERSION AS OF g` /
  * `TIMESTAMP AS OF t` (generation / manifest-mtime time travel — the
  * SQL form of the reader options `gen` / `asOfTimestamp`), `SHOW
  * TABLES / NAMESPACES`, `DROP TABLE`, `ALTER TABLE ... RENAME TO`.
  *
  * Layout is object-store-shaped, no metastore: a TABLE is any
  * directory carrying a `_txlog` log; a NAMESPACE is any other
  * directory; identifier `graft.a.b.t` maps to `<warehouse>/a/b/t`.
  * All table state lives in the zone's own log (schema, stats,
  * history), so the catalog holds NO state of its own — a zone written
  * yesterday by `df.write.format("txlog")` into the warehouse is a
  * catalog table today, and concurrent writers on other
  * sessions/processes serialize through the log's OCC publish, not
  * through this class ([[TxLogRaceSpec]]'s cross-process proof carries
  * over unchanged).
  *
  * Introspection rides Iceberg-style METADATA TABLES: `graft.ns.t
  * .history` (the commit audit trail, [[TxLog.history]] — gen, op,
  * kind, commit_ts) and `graft.ns.t.files` (the head snapshot's
  * per-file committed column stats — the prune inputs, one row per
  * (file, column)).
  *
  * Schema DDL: `ALTER TABLE ADD COLUMNS` (meta-only evolution),
  * `RENAME COLUMN` / `DROP COLUMN` (meta-only through the column-mapping
  * layer — [[TxLog.renameColumn]]/[[TxLog.dropColumn]]: physical names
  * stay, stats re-key, tombstones protect re-added names), and
  * `SET TBLPROPERTIES('statsCols')`. `PARTITIONED BY (col)` identity
  * transforms are statsCols SUGAR (this format prunes by per-file stats
  * + Z-order maintenance, not directory schemes); transformed
  * partitioning and column RETYPES refuse loudly (no mapping changes
  * what committed bytes decode to — retype = INSERT OVERWRITE).
  *
  * Reference anchor: the reference registers its lake output in Glue's
  * catalog via crawler-less table definitions
  * (`lib/consumer-components.ts:86-110`); this is that registration
  * surface, grown into a transactional catalog. */
class GraftCatalog extends TableCatalog with SupportsNamespaces {

  private var catName: String = "graft"
  private var warehouse: String = _

  private def spark: SparkSession = SparkSession.active

  private def fs: FileSystem =
    new Path(warehouse).getFileSystem(spark.sessionState.newHadoopConf())

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catName = name
    warehouse = Option(options.get("warehouse")).getOrElse {
      // default: a '<name>' dir under the session's warehouse — zero-conf
      // catalogs for tests and local use; production sets it explicitly
      val base = spark.conf.get("spark.sql.warehouse.dir")
      base.stripSuffix("/") + "/" + name
    }
  }

  override def name(): String = catName

  private def checkSegments(parts: Seq[String]): Unit =
    parts.foreach { p =>
      require(p.nonEmpty && !p.contains("/") && p != "." && p != "..",
        s"invalid identifier segment '$p'")
    }

  private def pathOf(parts: Seq[String]): Path = {
    checkSegments(parts)
    parts.foldLeft(new Path(warehouse))(new Path(_, _))
  }

  /** The zone a catalog-relative identifier maps to — exposed for the
    * maintenance grammar ([[graft.plans.GraftSqlParser]]), which must
    * resolve through THIS instance's warehouse, never a re-derived one. */
  private[graft] def zonePathOf(parts: Seq[String]): String =
    pathOf(parts).toString

  private def zonePath(ident: Identifier): Path =
    pathOf(ident.namespace.toSeq :+ ident.name)

  /** A directory is a TABLE iff it carries the log. */
  private def hasLog(p: Path): Boolean = fs.exists(new Path(p, "_txlog"))

  // ---- tables ---------------------------------------------------------------

  override def tableExists(ident: Identifier): Boolean = hasLog(zonePath(ident))

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    // Gate on namespaceExists, not bare fs.exists: a TABLE directory
    // (log-carrying) used as a namespace must raise SCHEMA_NOT_FOUND —
    // the same exclusion namespaceExists applies — instead of listing
    // whatever nested log-carrying dirs it happens to contain. The root
    // namespace always exists (a fresh catalog's warehouse dir may simply
    // not be created yet) — SHOW TABLES there returns empty.
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    val dir = pathOf(namespace.toSeq)
    if (!fs.exists(dir)) return Array.empty
    fs.listStatus(dir).filter(_.isDirectory).map(_.getPath)
      .filter(hasLog).map(p => Identifier.of(namespace, p.getName))
  }

  private def tableFor(ident: Identifier, snap: TxLog.Snapshot): Table = {
    val zone = zonePath(ident).toString
    val schema = TxLog.zoneSchema(snap)
      .getOrElse(TxLog.readSnapshot(spark, zone, snap).schema)
    // streaming = true: catalog tables serve `spark.readStream.table`
    // natively (snapshot-then-diffs micro-batches, [[TxLogMicroBatchStream]])
    new TxLogTable(spark, zone, Some(snap), schema, streaming = true)
  }

  override def loadTable(ident: Identifier): Table = {
    val p = zonePath(ident)
    if (hasLog(p))
      tableFor(ident, TxLog.latest(spark, p.toString).getOrElse(
        throw new NoSuchTableException(ident)))
    else metaTable(ident).getOrElse(throw new NoSuchTableException(ident))
  }

  /** SQL `VERSION AS OF g` — generation-number time travel (within
    * vacuum retention), the catalog form of the reader's `gen` option. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val p = zonePath(ident)
    if (!hasLog(p)) throw new NoSuchTableException(ident)
    val gen = scala.util.Try(version.trim.toLong).getOrElse(
      throw new IllegalArgumentException(
        s"$catName catalog: VERSION AS OF takes a generation number, got '$version'"))
    tableFor(ident, TxLog.snapshotAt(spark, p.toString, gen).getOrElse(
      throw new IllegalArgumentException(
        s"$catName catalog: ${ident.toString} has no resolvable generation $gen " +
          "(vacuumed, torn, or never committed)")))
  }

  /** SQL `TIMESTAMP AS OF t` — Spark hands MICROseconds since epoch;
    * resolution is [[TxLog.snapshotAsOf]]'s manifest-mtime clock (the
    * times `history`'s commit_ts column reports). */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val p = zonePath(ident)
    if (!hasLog(p)) throw new NoSuchTableException(ident)
    val millis = Math.floorDiv(timestamp, 1000L)
    tableFor(ident, TxLog.snapshotAsOf(spark, p.toString, millis).getOrElse(
      throw new IllegalArgumentException(
        s"$catName catalog: ${ident.toString} has no generation committed at or " +
          s"before timestamp $timestamp — the table is younger than the requested time")))
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: JMap[String, String]): Table = {
    // PARTITIONED BY (col, ...) — identity transforms only — is accepted
    // as statsCols SUGAR (round-11 directive #7): this format prunes by
    // per-file stats + Z-order maintenance instead of Hive-style
    // directories, and what a user porting Hive/Delta DDL means by
    // "partition by d" is "make predicates on d prune" — which statsCols
    // delivers (q156/q157 pin the pruning). Transformed partitioning
    // (bucket/days/...) has no stats equivalent and refuses loudly.
    val identityCols = partitions.map { t =>
      val refs = t.references
      require(t.name == "identity" && refs.length == 1 &&
          refs.head.fieldNames.length == 1,
        s"$catName catalog: PARTITIONED BY ${t.describe} is not supported — " +
          "file layout is the log's concern. Use plain column names " +
          "(taken as statsCols sugar: stats-based file pruning), " +
          "TBLPROPERTIES('statsCols'='...'), and OPTIMIZE ... ZORDER BY " +
          "for clustering")
      refs.head.fieldNames.head
    }.toSeq
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    val zone = zonePath(ident)
    // namespaces are directories — implicit creation, object-store style
    fs.mkdirs(zone.getParent)
    val statsCols = (properties.asScala
      .collectFirst { case (k, v)
        if k.equalsIgnoreCase("statscols") ||
          k.equalsIgnoreCase(TableCatalog.OPTION_PREFIX + "statscols") => v }
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty)).getOrElse(Nil) ++
      identityCols).distinct
    statsCols.foreach { c =>
      // a typo'd stats column would only surface at the FIRST insert's
      // stats collection, with a confusing missing-field error — refuse
      // at the DDL instead (mirrors ALTER's validation)
      require(schema.fieldNames.contains(c),
        s"$catName catalog: statsCols '$c' is not a column of the declared schema")
    }
    // one meta-only commit: the declared schema (and stats-column
    // choice) land in the log with ZERO data files — the zone is
    // immediately a readable generation; CTAS appends the query's rows
    // as an ordinary evolution-checked write next
    TxLog.create(spark, zone.toString, schema, statsCols = statsCols)
    loadTable(ident)
  }

  /** The two ALTERs that are honest without rewriting data: ADD COLUMNS
    * (a meta-only schema-evolution commit — old files surface null, the
    * same contract an evolved append gives) and SET TBLPROPERTIES
    * ('statsCols') re-targeting future stats collection. Renames, drops,
    * and safe type WIDENINGS ride the meta-only layers (column mapping /
    * schema retype with scan-time promotion); narrowing or incompatible
    * retypes refuse loudly: they would change what committed files MEAN
    * without rewriting them. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val p = zonePath(ident)
    if (!hasLog(p)) throw new NoSuchTableException(ident)
    // RENAME COLUMN / DROP COLUMN are single-change statements riding the
    // column-mapping layer (TxLog.renameColumn / dropColumn): meta-only
    // commits — the bytes keep their physical name, reads translate, and
    // a re-added name maps to a fresh physical so old bytes never
    // resurface. Top-level fields only.
    changes.toList match {
      case (rn: TableChange.RenameColumn) :: Nil =>
        require(rn.fieldNames.length == 1,
          s"$catName catalog: nested column renames are not supported")
        TxLog.renameColumn(spark, p.toString, rn.fieldNames.head, rn.newName)
        return loadTable(ident)
      case (del: TableChange.DeleteColumn) :: Nil =>
        require(del.fieldNames.length == 1,
          s"$catName catalog: nested column drops are not supported")
        TxLog.dropColumn(spark, p.toString, del.fieldNames.head)
        return loadTable(ident)
      // ALTER COLUMN TYPE: safe widenings only, meta-only (old files
      // promote at scan time, each generation time-travels with its own
      // era's type); TxLog.widenColumn refuses narrowing/incompatible
      case (upd: TableChange.UpdateColumnType) :: Nil =>
        require(upd.fieldNames.length == 1,
          s"$catName catalog: nested column retypes are not supported")
        TxLog.widenColumn(spark, p.toString, upd.fieldNames.head, upd.newDataType)
        return loadTable(ident)
      case cs if cs.exists(c => c.isInstanceOf[TableChange.RenameColumn] ||
          c.isInstanceOf[TableChange.DeleteColumn] ||
          c.isInstanceOf[TableChange.UpdateColumnType]) =>
        throw new UnsupportedOperationException(
          s"$catName catalog: RENAME/DROP/ALTER COLUMN TYPE must be the " +
            "statement's only change")
      case _ => ()
    }
    // classify EVERY change before committing ANY — a statement mixing a
    // supported change with an unsupported one must fail whole, never
    // half-apply (one combined meta commit below keeps it atomic)
    val adds = Seq.newBuilder[org.apache.spark.sql.types.StructField]
    var statsCols: Option[Seq[String]] = None
    changes.foreach {
      case add: TableChange.AddColumn =>
        require(add.fieldNames.length == 1,
          s"$catName catalog: nested column adds are not supported")
        require(add.isNullable,
          s"$catName catalog: added column ${add.fieldNames.head} must be " +
            "nullable — files written before the evolution surface null")
        require(add.position() == null,
          s"$catName catalog: column position is not supported — added " +
            "columns append at the end of the schema")
        val f0 = org.apache.spark.sql.types.StructField(
          add.fieldNames.head, add.dataType, nullable = true)
        adds += Option(add.comment()).fold(f0)(f0.withComment)
      case set: TableChange.SetProperty
          if set.property.equalsIgnoreCase("statscols") =>
        statsCols = Some(
          set.value.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      case other =>
        throw new UnsupportedOperationException(
          s"$catName catalog: unsupported ALTER ${other.getClass.getSimpleName}" +
            " — supported: ADD COLUMNS, RENAME COLUMN, DROP COLUMN, ALTER " +
            "COLUMN TYPE (safe widenings), and SET TBLPROPERTIES" +
            "('statsCols'); a narrowing retype is a rewrite " +
            "(INSERT OVERWRITE with the new types)")
    }
    val fields = adds.result()
    require(fields.map(_.name.toLowerCase(java.util.Locale.ROOT))
        .distinct.size == fields.size,
      s"$catName catalog: duplicate column names in ADD COLUMNS")
    if (fields.nonEmpty || statsCols.isDefined) {
      TxLog.commitMeta(spark, p.toString, "alter", head => {
        val current = TxLog.zoneSchema(head).getOrElse(
          TxLog.readSnapshot(spark, p.toString, head).schema)
        val existing = current.fieldNames
          .map(_.toLowerCase(java.util.Locale.ROOT)).toSet
        fields.foreach { fl =>
          require(!existing(fl.name.toLowerCase(java.util.Locale.ROOT)),
            s"$catName catalog: column ${fl.name} already exists")
        }
        val next =
          org.apache.spark.sql.types.StructType(current.fields ++ fields)
        // statsCols validate against the POST-add schema, so one
        // statement can add a column and start tracking it
        statsCols.foreach(_.foreach { c =>
          require(next.fieldNames.contains(c),
            s"$catName catalog: statsCols '$c' is not a column of the schema")
        })
        // a RETIRED name re-added here maps to a fresh physical name so
        // old files' bytes never resurface (same rule as TxLog.addColumns,
        // case-insensitive to match Spark's parquet field resolution)
        val cmap = TxLog.colMap(head.meta)
        val takenLc = (TxLog.usedPhysical(head.meta) ++ cmap.values ++
          current.fieldNames).map(_.toLowerCase(java.util.Locale.ROOT))
        val fresh = fields.collect {
          case fl if takenLc(fl.name.toLowerCase(java.util.Locale.ROOT)) =>
            fl.name -> s"${fl.name}__g${head.gen + 1}"
        }
        Map("schema" -> next.json) ++
          statsCols.map(cs => "stats.cols" -> cs.mkString(",")).toMap ++
          (if (fresh.isEmpty) Map.empty[String, String]
           else Map("colmap" -> TxLog.encodeColMap(cmap ++ fresh)))
      })
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val p = zonePath(ident)
    hasLog(p) && fs.delete(p, true)
  }

  override def purgeTable(ident: Identifier): Boolean = dropTable(ident)

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val from = zonePath(oldIdent)
    val to = zonePath(newIdent)
    if (!hasLog(from)) throw new NoSuchTableException(oldIdent)
    if (fs.exists(to)) throw new TableAlreadyExistsException(newIdent)
    fs.mkdirs(to.getParent)
    // Directory rename: atomic ONLY on HDFS/POSIX-rename filesystems
    // (the same primitive the log's checkpoint pointer trusts); the
    // zone's log moves with it. On S3-style object stores "rename" is a
    // non-atomic copy+delete, so concurrent readers could observe a torn
    // or half-missing table mid-move — refuse there rather than corrupt
    // silently (the object-store idiom is copy-then-cutover at the
    // catalog layer, which this format would do via a warehouse-level
    // pointer; not implemented).
    val scheme = Option(from.toUri.getScheme).getOrElse("file")
    require(!Set("s3", "s3a", "s3n", "gs", "wasb", "wasbs", "abfs", "abfss",
        "oss", "cos").contains(scheme),
      s"$catName catalog: RENAME TABLE needs an atomic directory rename; " +
        s"'$scheme://' object storage renames are copy+delete and readers " +
        "could see a torn table. Copy the zone and re-register instead.")
    if (!fs.rename(from, to))
      sys.error(s"$catName catalog: rename $from -> $to failed")
  }

  // ---- metadata tables ------------------------------------------------------

  /** `graft.ns.t.history` / `graft.ns.t.files` — the identifier's
    * namespace tail names a real zone and the "table" is its audit
    * surface, Iceberg's metadata-table idiom. */
  private def metaTable(ident: Identifier): Option[Table] = {
    if (ident.namespace.isEmpty) return None
    val parent = pathOf(ident.namespace.toSeq)
    if (!hasLog(parent)) return None
    val zone = parent.toString
    ident.name.toLowerCase(java.util.Locale.ROOT) match {
      case "history" =>
        Some(new GraftMetaTable(s"$catName.${ident.toString}",
          TxLog.history(spark, zone)))
      case "files" =>
        Some(new GraftMetaTable(s"$catName.${ident.toString}", filesDf(zone)))
      case "detail" =>
        Some(new GraftMetaTable(s"$catName.${ident.toString}", detailDf(zone)))
      case _ => None
    }
  }

  /** One-row `DESCRIBE DETAIL` analog: the head's identity and shape. */
  private def detailDf(zone: String): DataFrame = {
    val head = TxLog.latest(spark, zone).getOrElse(
      sys.error(s"$catName catalog: $zone lost its log while resolving .detail"))
    val s = spark
    import s.implicits._
    // total_bytes from the committed per-file sizes -- present iff every
    // live file has a size entry (pre-sizes zones surface null rather
    // than a driver listing storm)
    val bytes =
      if (head.files.nonEmpty && head.files.forall(head.sizes.contains))
        Some(head.files.map(head.sizes(_)._1).sum)
      else if (head.files.isEmpty) Some(0L)
      else None
    val mapping = Option(TxLog.colMap(head.meta)).filter(_.nonEmpty)
      .map(_.toSeq.sorted.map { case (l, ph) => s"$l->$ph" }.mkString(", "))
    Seq(GraftCatalog.DetailRow(zone, head.gen, head.format,
      head.files.size.toLong, bytes,
      TxLog.zoneSchema(head).map(_.json),
      Option(head.meta.getOrElse("stats.cols", "")).filter(_.nonEmpty),
      mapping,
      head.meta.get("op"))).toDF()
  }

  /** One row per (live file, tracked column) of the HEAD snapshot: the
    * committed stats pruning runs on, exposed for planning/debugging —
    * files without stats surface one row with a null column. */
  private def filesDf(zone: String): DataFrame = {
    val head = TxLog.latest(spark, zone).getOrElse(
      sys.error(s"$catName catalog: $zone lost its log while resolving .files"))
    val rows = head.files.flatMap { f =>
      val cs = head.colStats.getOrElse(f, Map.empty)
      if (cs.isEmpty) Seq(GraftCatalog.FileStatRow(f, None, None, None, None, None, None))
      else cs.toSeq.sortBy(_._1).map { case (c, st) =>
        GraftCatalog.FileStatRow(f, Some(c), Some(st.kind), Some(st.rows),
          Some(st.nulls), st.min, st.max)
      }
    }
    val s = spark
    import s.implicits._
    rows.toDF()
  }

  // ---- namespaces -----------------------------------------------------------

  private def nsDir(namespace: Array[String]): Path = pathOf(namespace.toSeq)

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty || {
      val d = nsDir(namespace)
      fs.exists(d) && fs.getFileStatus(d).isDirectory && !hasLog(d)
    }

  override def listNamespaces(): Array[Array[String]] =
    listNamespaces(Array.empty)

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    val dir = nsDir(namespace)
    if (!fs.exists(dir)) Array.empty
    else fs.listStatus(dir).filter(_.isDirectory).map(_.getPath)
      .filterNot(hasLog).map(p => namespace :+ p.getName)
  }

  override def loadNamespaceMetadata(namespace: Array[String]): JMap[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    java.util.Collections.emptyMap[String, String]()
  }

  override def createNamespace(namespace: Array[String],
                               metadata: JMap[String, String]): Unit = {
    if (namespaceExists(namespace) && namespace.nonEmpty)
      throw new NamespaceAlreadyExistsException(namespace)
    fs.mkdirs(nsDir(namespace)): Unit
  }

  override def alterNamespace(namespace: Array[String],
                              changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      s"$catName catalog: namespaces are plain directories, nothing to alter")

  override def dropNamespace(namespace: Array[String],
                             cascade: Boolean): Boolean = {
    require(namespace.nonEmpty, s"$catName catalog: cannot drop the root namespace")
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    val dir = nsDir(namespace)
    if (!cascade && fs.listStatus(dir).nonEmpty)
      throw new NonEmptyNamespaceException(namespace)
    fs.delete(dir, true)
  }
}

object GraftCatalog {
  /** Row shape of the `.files` metadata table. */
  final case class FileStatRow(file: String, column: Option[String],
                               kind: Option[String], rows: Option[Long],
                               nulls: Option[Long], min: Option[String],
                               max: Option[String])

  /** Row shape of the `.detail` metadata table. */
  final case class DetailRow(location: String, gen: Long, format: String,
                             num_files: Long, total_bytes: Option[Long],
                             schema_json: Option[String],
                             stats_cols: Option[String],
                             column_mapping: Option[String],
                             last_op: Option[String])
}

/** Read-only metadata table serving a driver-built DataFrame (history /
  * files are O(log) driver products, never distributed reads), via the
  * same V1Scan shape the data table uses. */
final class GraftMetaTable(tname: String, df: DataFrame)
    extends Table with SupportsRead {

  override def name(): String = tname
  override def schema(): StructType = df.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new V1Scan {
        override def readSchema(): StructType = df.schema
        override def description(): String = tname
        override def toV1TableScan[T <: BaseRelation with TableScan](
            context: SQLContext): T =
          new GraftMetaRelation(context, df).asInstanceOf[T]
      }
    }
}

/** `needConversion = false`: the wrapped frame's `toRdd` already
  * produces InternalRow. */
final class GraftMetaRelation(ctx: SQLContext, df: DataFrame)
    extends BaseRelation with TableScan {
  override def sqlContext: SQLContext = ctx
  override def schema: StructType = df.schema
  override def needConversion: Boolean = false
  override def buildScan(): RDD[Row] =
    df.queryExecution.toRdd.asInstanceOf[RDD[Row]]
}
