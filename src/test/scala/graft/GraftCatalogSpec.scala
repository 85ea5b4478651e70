package graft

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import graft.operators.TxLog
import graft.plans.PushdownProbe

/** The `graft` [[graft.sources.GraftCatalog]]: plain SQL must drive the
  * whole lake lifecycle — CREATE / CTAS / INSERT / SELECT (with the
  * manifest's pushdown) / DELETE / TRUNCATE / time travel / metadata
  * tables / DROP / RENAME / namespaces — resolving to the SAME
  * [[graft.sources.TxLogTable]] the format-reader path builds. Every
  * data-affecting statement is cross-checked against the library API
  * view of the same zone ([[TxLog.read]]), pinning that the catalog is
  * a face, not a fork. */
class GraftCatalogSpec extends SparkSpec {
  import spark.implicits._

  /** Isolated catalog instance on a throwaway warehouse (runtime
    * registration — also proves catalogs need no session restart). The
    * default `graft` catalog stays untouched for other suites. */
  private val wh: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_cat").toString
    spark.conf.set("spark.sql.catalog.gcat", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gcat.warehouse", dir)
    dir
  }

  private var n = 0
  /** A fresh table name per test (the warehouse is shared). */
  private def fresh(): String = { n += 1; s"gcat.lake.t$n" }
  private def zoneOf(t: String): String =
    wh + "/" + t.stripPrefix("gcat.").replace('.', '/')

  private def sqlRows(q: String): Set[(Long, String)] =
    spark.sql(q).as[(Long, String)].collect().toSet

  test("the default session registers the graft catalog") {
    assert(spark.conf.get("spark.sql.catalog.graft") ===
      "graft.sources.GraftCatalog")
  }

  test("CREATE TABLE commits the schema; INSERT INTO lands a transactional append") {
    val t = fresh()
    spark.sql(s"CREATE TABLE $t (k BIGINT, v STRING)")
    assert(spark.sql(s"SELECT * FROM $t").isEmpty,
      "a freshly created table is an empty, readable generation")
    spark.sql(s"INSERT INTO $t VALUES (1, 'a'), (2, 'b')")
    assert(sqlRows(s"SELECT k, v FROM $t") === Set((1L, "a"), (2L, "b")))
    // the catalog is a face over the zone's own log: the API reader
    // sees the same rows, and the commits are ordinary append/replace
    assert(TxLog.read(spark, zoneOf(t)).as[(Long, String)].collect().toSet ===
      Set((1L, "a"), (2L, "b")))
    val ops = TxLog.history(spark, zoneOf(t))
      .select("op").as[String].collect().toSet
    assert(ops.contains("create") && ops.contains("append"),
      s"create=zero-file schema commit, insert=append; got $ops")
  }

  test("CTAS carries the query's rows and schema") {
    val t = fresh()
    spark.sql(s"CREATE TABLE $t AS SELECT id AS k, CAST(id AS STRING) AS v " +
      "FROM range(10)")
    assert(spark.sql(s"SELECT count(*) FROM $t").as[Long].head() === 10L)
    assert(spark.table(t).schema.fieldNames.toSeq === Seq("k", "v"))
  }

  test("INSERT OVERWRITE replaces the content transactionally") {
    val t = fresh()
    spark.sql(s"CREATE TABLE $t AS SELECT id AS k, 'old' AS v FROM range(5)")
    spark.sql(s"INSERT OVERWRITE $t SELECT id AS k, 'new' AS v FROM range(3)")
    assert(sqlRows(s"SELECT k, v FROM $t") ===
      Set((0L, "new"), (1L, "new"), (2L, "new")))
  }

  test("SELECT through the catalog gets manifest file pruning + PushedFilters") {
    val t = fresh()
    spark.sql(s"CREATE TABLE $t (k BIGINT, v STRING) TBLPROPERTIES ('statsCols'='k')")
    spark.range(100L).selectExpr("id AS k", "CAST(id AS STRING) AS v")
      .repartitionByRange(4, col("k"))
      .writeTo(t).append()
    PushdownProbe.clear(s"txlog:${zoneOf(t)}")
    val got = spark.sql(s"SELECT k FROM $t WHERE k < 25").as[Long].collect().toSet
    assert(got === (0L until 25L).toSet)
    val (served, total) = PushdownProbe.get(s"txlog:${zoneOf(t)}").get
    assert(total === 4L && served <= 2L,
      s"catalog reads must prune by committed stats: $served/$total")
    val plan = spark.sql(s"SELECT k FROM $t WHERE k < 25")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("LessThan(k,25)"),
      s"the catalog scan must surface the pushed predicate:\n$plan")
  }

  test("COUNT(*) through the catalog is manifest-served: zero data files opened") {
    val t = fresh()
    spark.sql(s"CREATE TABLE $t TBLPROPERTIES ('statsCols'='k') " +
      "AS SELECT id AS k FROM range(100)")
    PushdownProbe.clear(s"txlog:${zoneOf(t)}")
    assert(spark.sql(s"SELECT count(*) FROM $t").as[Long].head() === 100L)
    assert(PushdownProbe.get(s"txlog:${zoneOf(t)}").isEmpty,
      "a manifest-served count must not open any data file")
  }

  test("VERSION AS OF time-travels by generation") {
    val t = fresh()
    spark.sql(s"CREATE TABLE $t AS SELECT id AS k FROM range(5)")
    val g1 = TxLog.latest(spark, zoneOf(t)).get.gen
    spark.sql(s"INSERT INTO $t SELECT id + 100 AS k FROM range(5)")
    assert(spark.sql(s"SELECT count(*) FROM $t").as[Long].head() === 10L)
    assert(spark.sql(s"SELECT count(*) FROM $t VERSION AS OF $g1")
      .as[Long].head() === 5L, "the pinned generation must exclude the insert")
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM $t VERSION AS OF 999").collect()
    }
    assert(e.getMessage.contains("generation"), s"got: ${e.getMessage}")
  }

  test("TIMESTAMP AS OF resolves by history's commit_ts clock") {
    val t = fresh()
    spark.sql(s"CREATE TABLE $t AS SELECT id AS k FROM range(5)")
    val g1 = TxLog.latest(spark, zoneOf(t)).get.gen
    Thread.sleep(1100) // separate the two commits on the mtime clock
    spark.sql(s"INSERT INTO $t SELECT id + 100 AS k FROM range(5)")
    // the time users travel to is discoverable from the audit surface:
    // history.commit_ts of g1, rendered at the session zone (UTC)
    val ts = spark.sql(s"SELECT commit_ts FROM $t.history WHERE gen = $g1")
      .as[java.sql.Timestamp].head()
    val lit = java.time.LocalDateTime.ofInstant(ts.toInstant,
      java.time.ZoneOffset.UTC).toString.replace('T', ' ')
    assert(spark.sql(s"SELECT count(*) FROM $t TIMESTAMP AS OF '$lit'")
      .as[Long].head() === 5L,
      "traveling to g1's commit time must serve g1")
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM $t TIMESTAMP AS OF '1999-01-01'").collect()
    }
    assert(e.getMessage.contains("younger"), s"got: ${e.getMessage}")
  }

  test("DELETE FROM rewrites only stats-overlapping files; rows exact") {
    val t = fresh()
    spark.sql(s"CREATE TABLE $t (k BIGINT, v STRING) TBLPROPERTIES ('statsCols'='k')")
    spark.range(100L).selectExpr("id AS k", "CAST(id % 3 AS STRING) AS v")
      .repartitionByRange(4, col("k"))
      .writeTo(t).append()
    val filesBefore = TxLog.latest(spark, zoneOf(t)).get.files.size
    spark.sql(s"DELETE FROM $t WHERE k >= 90 AND v = '0'")
    val expect = (0L until 100L).filterNot(k => k >= 90 && k % 3 == 0)
      .map(k => (k, (k % 3).toString)).toSet
    assert(sqlRows(s"SELECT k, v FROM $t") === expect)
    // write amplification: the k-range prunes to the top file(s) — the
    // delete's delta commit must remove fewer files than the zone holds
    val removed = TxLog.history(spark, zoneOf(t))
      .filter(col("op") === "delete").select("num_removed").as[Long].head()
    assert(removed < filesBefore && removed >= 1L,
      s"stats must bound the rewrite: removed $removed of $filesBefore")
  }

  test("DELETE FROM with an unpushable predicate falls back to the rewrite path") {
    val t = fresh()
    spark.sql(s"CREATE TABLE $t AS SELECT id AS k FROM range(10)")
    // not expressible as a source filter → the row-level copy-on-write
    // rewrite serves it (TxLogRowLevelSpec pins that machinery)
    spark.sql(s"DELETE FROM $t WHERE k % 2 = 0")
    assert(spark.sql(s"SELECT k FROM $t").as[Long].collect().toSet ===
      Set(1L, 3L, 5L, 7L, 9L))
  }

  test("DELETE keeps NULL-predicate rows (SQL deletes only where TRUE)") {
    val t = fresh()
    spark.sql(s"CREATE TABLE $t (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $t VALUES (1, 'a'), (2, NULL), (3, 'b')")
    spark.sql(s"DELETE FROM $t WHERE v = 'a'")
    assert(spark.sql(s"SELECT k FROM $t").as[Long].collect().toSet ===
      Set(2L, 3L),
      "the NULL-v row's predicate is NULL, not TRUE — it must survive")
    // negated form too: v != 'b' is NULL for the NULL row — survives
    spark.sql(s"DELETE FROM $t WHERE v != 'b'")
    assert(spark.sql(s"SELECT k FROM $t").as[Long].collect().toSet ===
      Set(2L, 3L))
  }

  test("DELETE FROM without WHERE and TRUNCATE TABLE both empty the table") {
    val t = fresh()
    spark.sql(s"CREATE TABLE $t AS SELECT id AS k FROM range(10)")
    spark.sql(s"DELETE FROM $t")
    assert(spark.sql(s"SELECT count(*) FROM $t").as[Long].head() === 0L)
    spark.sql(s"INSERT INTO $t SELECT id AS k FROM range(7)")
    spark.sql(s"TRUNCATE TABLE $t")
    assert(spark.sql(s"SELECT count(*) FROM $t").as[Long].head() === 0L)
    assert(spark.table(t).schema.fieldNames.toSeq === Seq("k"),
      "truncate keeps the schema")
  }

  test("metadata tables: .history audits commits, .files exposes the prune stats") {
    val t = fresh()
    spark.sql(s"CREATE TABLE $t (k BIGINT) TBLPROPERTIES ('statsCols'='k')")
    spark.sql(s"INSERT INTO $t SELECT id AS k FROM range(10)")
    val hist = spark.sql(s"SELECT gen, op FROM $t.history ORDER BY gen")
      .as[(Long, String)].collect()
    assert(hist.map(_._2).toSeq === Seq("create", "append"))
    val files = spark.sql(
      s"SELECT file, column, rows, min, max FROM $t.files WHERE column = 'k'")
      .as[(String, String, Long, String, String)].collect()
    assert(files.nonEmpty && files.map(_._3).sum === 10L,
      "the .files stats must account for every committed row")
    assert(files.forall(r => r._4.toDouble >= 0.0 && r._5.toDouble <= 9.0))
    val (gen, nf, statsCols, bytes, mapping) = spark.sql(
      s"SELECT gen, num_files, stats_cols, total_bytes, column_mapping " +
        s"FROM $t.detail")
      .as[(Long, Long, String, Option[Long], Option[String])].head()
    assert(gen === 1L && nf >= 1L && statsCols === "k",
      s".detail must describe the head: gen=$gen files=$nf stats=$statsCols")
    assert(bytes.exists(_ > 0L),
      ".detail total_bytes must be served from the committed sizes")
    assert(mapping.isEmpty, "an unrenamed table carries no column mapping")
    // a rename surfaces the logical->physical mapping in .detail
    spark.sql(s"ALTER TABLE $t RENAME COLUMN k TO kk")
    assert(spark.sql(s"SELECT column_mapping FROM $t.detail")
      .as[Option[String]].head().contains("kk->k"))
  }

  test("SHOW TABLES / DROP TABLE / RENAME") {
    val t = fresh()
    spark.sql(s"CREATE TABLE $t (k BIGINT)")
    val listed = spark.sql("SHOW TABLES IN gcat.lake")
      .select("tableName").as[String].collect().toSet
    assert(listed.contains(t.split('.').last))
    val renamed = t + "_r"
    spark.sql(s"ALTER TABLE $t RENAME TO lake.${renamed.split('.').last}")
    assert(spark.sql(s"SELECT count(*) FROM $renamed").as[Long].head() === 0L)
    spark.sql(s"DROP TABLE $renamed")
    intercept[AnalysisException] { spark.table(renamed).collect() }
  }

  test("SHOW TABLES on a fresh catalog (no warehouse dir yet) returns empty") {
    val virgin = java.nio.file.Files.createTempDirectory("graft_virgin")
      .toString + "/nonexistent"
    spark.conf.set("spark.sql.catalog.gvirgin", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gvirgin.warehouse", virgin)
    assert(spark.sql("SHOW TABLES IN gvirgin").isEmpty,
      "the root namespace always exists — empty, never SCHEMA_NOT_FOUND")
  }

  test("namespaces are directories: CREATE / SHOW / DROP") {
    spark.sql("CREATE NAMESPACE gcat.scratch")
    val ns = spark.sql("SHOW NAMESPACES IN gcat")
      .select("namespace").as[String].collect().toSet
    assert(ns.contains("scratch"))
    spark.sql("CREATE TABLE gcat.scratch.x (k BIGINT)")
    intercept[Exception] { spark.sql("DROP NAMESPACE gcat.scratch") }
    spark.sql("DROP NAMESPACE gcat.scratch CASCADE")
    assert(!spark.sql("SHOW NAMESPACES IN gcat")
      .select("namespace").as[String].collect().toSet.contains("scratch"))
  }

  test("PARTITIONED BY: identity columns become statsCols sugar; transforms refuse") {
    val t = fresh()
    spark.sql(s"CREATE TABLE $t (k BIGINT)")
    intercept[Exception] { spark.sql(s"CREATE TABLE $t (k BIGINT)") }
    // identity PARTITIONED BY = statsCols sugar (round-11 directive #7):
    // the declared column gets per-file stats, so predicates on it prune
    spark.sql(s"CREATE TABLE ${t}_p (k BIGINT, d BIGINT) PARTITIONED BY (d)")
    assert(TxLog.latest(spark, zoneOf(s"${t}_p")).get.meta("stats.cols")
      .split(",").contains("d"))
    // one INSERT per d value -> one file per d value with tight d stats
    (0 until 10).foreach(d =>
      spark.sql(s"INSERT INTO ${t}_p SELECT id, $d FROM range(200)"))
    graft.plans.PushdownProbe.clear(s"txlog:${zoneOf(s"${t}_p")}")
    assert(spark.sql(s"SELECT SUM(k) FROM ${t}_p WHERE d = 3")
      .as[Long].head() === (0L until 200L).sum)
    val (served, total) =
      graft.plans.PushdownProbe.get(s"txlog:${zoneOf(s"${t}_p")}").get
    assert(served < total,
      s"the sugared partition column must prune: served $served of $total")
    // a TRANSFORMED partitioning has no stats equivalent: loud refusal
    // that names the idiom to use instead
    val e = intercept[Exception] {
      spark.sql(s"CREATE TABLE ${t}_b (k BIGINT) PARTITIONED BY (bucket(4, k))")
    }
    assert(e.getMessage.contains("ZORDER") && e.getMessage.contains("statsCols"),
      s"refusal must point at the idiom: ${e.getMessage}")
  }

  test("ALTER TABLE ADD COLUMNS is a meta-only evolution: old files surface null") {
    val t = fresh()
    spark.sql(s"CREATE TABLE $t AS SELECT id AS k FROM range(3)")
    val filesBefore = TxLog.latest(spark, zoneOf(t)).get.files
    spark.sql(s"ALTER TABLE $t ADD COLUMNS (v STRING)")
    assert(TxLog.latest(spark, zoneOf(t)).get.files === filesBefore,
      "the evolution commit must touch zero data files")
    assert(spark.table(t).schema.fieldNames.toSeq === Seq("k", "v"))
    assert(spark.sql(s"SELECT v FROM $t").as[String].collect()
      .forall(_ == null), "pre-evolution files surface the new column as null")
    spark.sql(s"INSERT INTO $t VALUES (9, 'x')")
    assert(sqlRows(s"SELECT k, v FROM $t WHERE k = 9") === Set((9L, "x")))
  }

  test("SET TBLPROPERTIES(statsCols) re-targets stats; retype still refuses") {
    val t = fresh()
    spark.sql(s"CREATE TABLE $t (k BIGINT, v STRING)")
    intercept[Exception] { // retype = rewrite, never a meta commit
      spark.sql(s"ALTER TABLE $t ALTER COLUMN k TYPE STRING") }
    spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('statsCols'='k')")
    spark.sql(s"INSERT INTO $t SELECT id, 'a' FROM range(10)")
    val statCols = spark.sql(s"SELECT column FROM $t.files")
      .as[String].collect().toSet
    assert(statCols.contains("k"),
      "writes after the property change must collect stats for k")
    intercept[Exception] { // unknown column refused at the commit
      spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('statsCols'='nope')")
    }
  }

  test("SHOW TABLES with a TABLE directory as the namespace raises, never lists") {
    // Round-10 advice: listTables checked bare fs.exists, so a
    // log-carrying TABLE dir used as a namespace listed its nested
    // log-carrying dirs instead of raising SCHEMA_NOT_FOUND like
    // namespaceExists says it should.
    val t = fresh()
    spark.sql(s"CREATE TABLE $t (k BIGINT)")
    val e = intercept[Exception] { spark.sql(s"SHOW TABLES IN $t") }
    assert(e.getMessage.toLowerCase.contains("schema") ||
      e.getMessage.toLowerCase.contains("namespace"),
      s"expected SCHEMA_NOT_FOUND-style error, got: ${e.getMessage}")
  }

  test("RENAME COLUMN is meta-only: old files read, new writes land, stats keep pruning") {
    // Round-11 directive #5: column mapping. The rename must not touch a
    // data file; reads translate physical -> logical; appends after the
    // rename stay readable alongside pre-rename files; the manifest's
    // logical-keyed stats keep file pruning alive under the new name.
    val t = fresh()
    spark.sql(s"CREATE TABLE $t (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('statsCols'='k')")
    spark.sql(s"INSERT INTO $t SELECT id, concat('a', id) FROM range(50)")
    val filesBefore = TxLog.latest(spark, zoneOf(t)).get.files
    spark.sql(s"ALTER TABLE $t RENAME COLUMN k TO key")
    assert(TxLog.latest(spark, zoneOf(t)).get.files === filesBefore,
      "the rename must be a zero-file-action commit")
    assert(spark.table(t).schema.fieldNames.toSeq === Seq("key", "v"))
    // pre-rename files read under the new logical name
    assert(sqlRows(s"SELECT key, v FROM $t WHERE key = 7") ===
      Set((7L, "a7")))
    // post-rename appends land under the same physical name
    spark.sql(s"INSERT INTO $t SELECT id, concat('b', id) FROM range(100, 110)")
    assert(spark.sql(s"SELECT COUNT(*) FROM $t").as[Long].head() === 60L)
    assert(sqlRows(s"SELECT key, v FROM $t WHERE key = 105") ===
      Set((105L, "b105")))
    // stats keep pruning under the RENAMED name, across old AND new files
    graft.plans.PushdownProbe.clear(s"txlog:${zoneOf(t)}")
    assert(spark.sql(s"SELECT key FROM $t WHERE key BETWEEN 100 AND 120")
      .as[Long].collect().sorted.toSeq === (100L to 109L))
    val (served, total) = graft.plans.PushdownProbe.get(s"txlog:${zoneOf(t)}").get
    assert(served < total,
      s"rename must not kill stats pruning: served $served of $total")
  }

  test("time travel across a rename shows each era's column names") {
    val t = fresh()
    spark.sql(s"CREATE TABLE $t (k BIGINT)")
    spark.sql(s"INSERT INTO $t SELECT id FROM range(5)")
    val g1 = TxLog.latest(spark, zoneOf(t)).get.gen
    spark.sql(s"ALTER TABLE $t RENAME COLUMN k TO key")
    assert(spark.sql(s"SELECT * FROM $t VERSION AS OF $g1")
      .schema.fieldNames.toSeq === Seq("k"),
      "the pre-rename snapshot keeps its own era's name")
    assert(spark.sql(s"SELECT k FROM $t VERSION AS OF $g1")
      .as[Long].collect().sorted.toSeq === (0L until 5L))
    assert(spark.table(t).schema.fieldNames.toSeq === Seq("key"))
  }

  test("DROP COLUMN then re-ADD: old bytes never resurface; rewrite resets the mapping") {
    val t = fresh()
    spark.sql(s"CREATE TABLE $t (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $t SELECT id, concat('secret', id) FROM range(10)")
    spark.sql(s"ALTER TABLE $t DROP COLUMN v")
    assert(spark.table(t).schema.fieldNames.toSeq === Seq("k"))
    // re-add the SAME name: the fresh physical mapping must hide the old
    // files' bytes -- this is the exact failure name-mapping exists for
    spark.sql(s"ALTER TABLE $t ADD COLUMNS (v STRING)")
    assert(spark.sql(s"SELECT v FROM $t").as[String].collect().forall(_ == null),
      "dropped bytes must NOT resurface under the re-added column")
    spark.sql(s"INSERT INTO $t VALUES (99, 'fresh')")
    assert(sqlRows(s"SELECT k, v FROM $t WHERE k = 99") === Set((99L, "fresh")))
    // UPDATE (row-level rewrite) under an active mapping stays consistent
    spark.sql(s"UPDATE $t SET v = 'upd' WHERE k = 3")
    assert(sqlRows(s"SELECT k, v FROM $t WHERE k = 3") === Set((3L, "upd")))
    // OPTIMIZE rewrites every live file under logical names and RESETS
    // the mapping -- maintenance normalizes the physical layout
    spark.sql(s"OPTIMIZE $t")
    val head = TxLog.latest(spark, zoneOf(t)).get
    assert(!head.meta.contains("colmap") && !head.meta.contains("colmap.used"),
      s"OPTIMIZE must reset the column mapping: ${head.meta.view.filterKeys(_.startsWith("colmap")).toMap}")
    assert(sqlRows(s"SELECT k, v FROM $t WHERE k IN (3, 99)") ===
      Set((3L, "upd"), (99L, "fresh")))
  }

  test("DROP COLUMN then re-ADD under a CASE VARIANT: tombstone still holds") {
    // Spark's default parquet field resolution is case-insensitive, so a
    // re-added `V` resolves against the dropped `v`'s bytes unless the
    // tombstone check is case-insensitive too (round-11 ADVICE, medium).
    val t = fresh()
    spark.sql(s"CREATE TABLE $t (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $t SELECT id, concat('secret', id) FROM range(10)")
    spark.sql(s"ALTER TABLE $t DROP COLUMN v")
    spark.sql(s"ALTER TABLE $t ADD COLUMNS (V STRING)")
    assert(spark.sql(s"SELECT V FROM $t").as[String].collect().forall(_ == null),
      "dropped bytes must NOT resurface under a case-variant re-add")
    spark.sql(s"INSERT INTO $t VALUES (99, 'fresh')")
    assert(sqlRows(s"SELECT k, V FROM $t WHERE k = 99") === Set((99L, "fresh")))
  }

  test("readWhere after dropping the stats column reports the intended error") {
    // dropColumn takes the column out of stats.cols; a range read on it
    // must surface the untracked-stats message, not a column resolution
    val t = fresh()
    spark.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT)")
    val zone = zoneOf(t)
    TxLog.append(spark,  zone,
      spark.range(10).selectExpr("id AS k", "id * 2 AS v"), statsCols = Seq("v"))
    assert(TxLog.readWhereCol(spark, zone, "v", 0L, 5L).count() === 3L)
    spark.sql(s"ALTER TABLE $t DROP COLUMN v")
    val e = intercept[RuntimeException] {
      TxLog.readWhereCol(spark, zone, "v", 0L, 5L).count()
    }
    assert(e.getMessage.contains("does not track stats"),
      s"expected the intended untracked-stats message, got: ${e.getMessage}")
  }

  test("ALTER COLUMN TYPE widening is meta-only: old files promote, stats prune, eras travel") {
    val t = fresh()
    spark.sql(s"CREATE TABLE $t (k BIGINT, v INT) TBLPROPERTIES ('statsCols'='v')")
    (0 until 4).foreach(i =>
      spark.sql(s"INSERT INTO $t SELECT id + ${i * 100}, CAST(id + ${i * 100} AS INT) " +
        s"FROM range(100)"))
    val zone = zoneOf(t)
    val preGen = TxLog.latest(spark, zone).get.gen
    val filesBefore = TxLog.latest(spark, zone).get.files.toSet

    spark.sql(s"ALTER TABLE $t ALTER COLUMN v TYPE BIGINT")
    // meta-only: not one data file touched
    assert(TxLog.latest(spark, zone).get.files.toSet === filesBefore)
    assert(spark.table(t).schema("v").dataType ===
      org.apache.spark.sql.types.LongType)
    // old files' int values promote at scan time
    assert(spark.sql(s"SELECT v FROM $t WHERE k = 7").as[Long].head() === 7L)
    assert(spark.sql(s"SELECT SUM(v) FROM $t").as[Long].head() ===
      (0L until 400L).sum)
    // values only a BIGINT can hold land after the widen
    spark.sql(s"INSERT INTO $t VALUES (9000000000, 9000000000)")
    assert(spark.sql(s"SELECT v FROM $t WHERE k = 9000000000").as[Long].head() ===
      9000000000L)
    // committed (int-era) stats still prune under the widened type
    graft.plans.PushdownProbe.clear(s"txlog:$zone")
    assert(spark.sql(s"SELECT k FROM $t WHERE v BETWEEN 100 AND 120")
      .as[Long].collect().sorted.toSeq === (100L to 120L))
    val (served, total) = graft.plans.PushdownProbe.get(s"txlog:$zone").get
    assert(served < total,
      s"widening must not kill stats pruning: served $served of $total")
    // each era time-travels with its own type
    assert(spark.sql(s"SELECT * FROM $t VERSION AS OF $preGen")
      .schema("v").dataType === org.apache.spark.sql.types.IntegerType)
    assert(spark.table(t).schema("v").dataType ===
      org.apache.spark.sql.types.LongType)
  }

  test("widening composes with column mapping; narrowing refuses") {
    val t = fresh()
    spark.sql(s"CREATE TABLE $t (k BIGINT, v INT)")
    spark.sql(s"INSERT INTO $t SELECT id, CAST(id AS INT) FROM range(10)")
    // widen AFTER a rename: the physical name (and the bytes) stay put
    spark.sql(s"ALTER TABLE $t RENAME COLUMN v TO val")
    spark.sql(s"ALTER TABLE $t ALTER COLUMN val TYPE BIGINT")
    assert(spark.sql(s"SELECT val FROM $t WHERE k = 3").as[Long].head() === 3L)
    assert(spark.table(t).schema("val").dataType ===
      org.apache.spark.sql.types.LongType)
    // narrowing refuses loudly — Spark's analyzer up-cast check fires
    // first (NOT_SUPPORTED_CHANGE_COLUMN); TxLog.widenColumn backstops
    // the API path below
    val e = intercept[Exception] {
      spark.sql(s"ALTER TABLE $t ALTER COLUMN k TYPE INT")
    }
    assert(e.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN") ||
      e.getMessage.contains("not a safe widening"),
      s"narrowing must refuse, got: ${e.getMessage}")
    val eApi = intercept[Exception] {
      TxLog.widenColumn(spark, zoneOf(t), "k",
        org.apache.spark.sql.types.IntegerType)
    }
    assert(eApi.getMessage.contains("not a safe widening"))
    // long -> double is lossy past 2^53: refused by the safe-widening table
    val e2 = intercept[Exception] {
      TxLog.widenColumn(spark, zoneOf(t), "k",
        org.apache.spark.sql.types.DoubleType)
    }
    assert(e2.getMessage.contains("not a safe widening"))
  }

  test("float->double and decimal scale-up widen; the decimal keeps integer digits") {
    val t = fresh()
    spark.sql(s"CREATE TABLE $t (k BIGINT, f FLOAT, d DECIMAL(5,2))")
    spark.sql(s"INSERT INTO $t VALUES (1, CAST(1.5 AS FLOAT), CAST(123.45 AS DECIMAL(5,2)))")
    spark.sql(s"ALTER TABLE $t ALTER COLUMN f TYPE DOUBLE")
    spark.sql(s"ALTER TABLE $t ALTER COLUMN d TYPE DECIMAL(12,4)")
    val r = spark.sql(s"SELECT f, d FROM $t").collect().head
    assert(r.getDouble(0) === 1.5)
    assert(r.getDecimal(1) === new java.math.BigDecimal("123.4500"))
    // a scale-up that LOSES integer digits refuses: decimal(5,2) holds
    // 3 integer digits, decimal(6,4) only 2
    val e = intercept[Exception] {
      TxLog.widenColumn(spark, zoneOf(t), "d",
        org.apache.spark.sql.types.DecimalType(6, 4))
    }
    assert(e.getMessage.contains("not a safe widening") ||
      e.getMessage.toLowerCase.contains("cast"))
  }

  test("time travel to a pre-DROP generation resurfaces the dropped column") {
    val t = fresh()
    spark.sql(s"CREATE TABLE $t (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $t VALUES (1, 'keep')")
    val g = TxLog.latest(spark, zoneOf(t)).get.gen
    spark.sql(s"ALTER TABLE $t DROP COLUMN v")
    assert(spark.table(t).schema.fieldNames.toSeq === Seq("k"))
    // the old generation's own meta still maps the column; its bytes
    // never moved
    assert(sqlRows(s"SELECT k, v FROM $t VERSION AS OF $g") ===
      Set((1L, "keep")))
  }

  test("v1 readWhereCol pruning survives a rename (re-keyed stats, API path)") {
    val t = fresh()
    spark.sql(s"CREATE TABLE $t (k BIGINT) TBLPROPERTIES ('statsCols'='k')")
    (0 until 4).foreach(i =>
      spark.sql(s"INSERT INTO $t SELECT id + ${i * 100} FROM range(100)"))
    spark.sql(s"ALTER TABLE $t RENAME COLUMN k TO key")
    val zone = zoneOf(t)
    val head = TxLog.latest(spark, zone).get
    // the logical-keyed stats answer pruning under the NEW name
    val kept = TxLog.prunedFilesFor(head, "key", 150L, 180L)
    assert(kept.size < head.files.size,
      s"re-keyed stats must prune: ${kept.size} of ${head.files.size}")
    val got = TxLog.readWhereCol(spark, zone, "key", 150L, 180L)
      .select("key").as[Long].collect().toSet
    assert(got === (150L to 180L).toSet)
  }

  test("rename collisions and tombstoned re-appends refuse loudly") {
    val t = fresh()
    spark.sql(s"CREATE TABLE $t (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $t SELECT id, 'x' FROM range(3)")
    spark.sql(s"ALTER TABLE $t RENAME COLUMN v TO w")
    intercept[Exception] { // 'k' exists
      spark.sql(s"ALTER TABLE $t RENAME COLUMN w TO k") }
    // an evolution-APPEND reclaiming the retired name must refuse and
    // point at ADD COLUMNS (which maps it to a fresh physical name)
    val e = intercept[Exception] {
      TxLog.append(spark, zoneOf(t),
        spark.range(3).selectExpr("id AS k", "'y' AS w", "'z' AS v"))
    }
    assert(e.getMessage.contains("ADD COLUMNS"), e.getMessage)
    // the blessed path works and surfaces null for old files
    spark.sql(s"ALTER TABLE $t ADD COLUMNS (v STRING)")
    assert(spark.sql(s"SELECT v FROM $t").as[String].collect().forall(_ == null))
  }

  test("cross-entry-point parity: a zone written by the writer API is a catalog table") {
    val t = fresh()
    val zone = zoneOf(t)
    Seq((1L, "x"), (2L, "y")).toDF("k", "v")
      .write.format("txlog").option("zone", zone).mode("append").save()
    assert(sqlRows(s"SELECT k, v FROM $t") === Set((1L, "x"), (2L, "y")),
      "no registration step: the log IS the catalog state")
  }
}
